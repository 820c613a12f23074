"""Text-analysis column expressions for training-data pipelines.

Everything is a JVM-side expression (codegen, no Python): token counting,
punctuation/digit ratios, document fingerprints. Designed to
run over the `documents`/crawl `text` columns at 100 TB — each function is a
narrow projection over one string column, so column pruning keeps the scan
minimal and there is no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java regex \s: the characters split() and trim() below treat as space
_WS_CHARS = " \t\n\x0b\f\r"


def tokens(text: Column) -> Column:
    """Whitespace tokens: split on runs of Java ``\\s``, never an empty token.

    Empty or whitespace-only text gives ``[]``; NULL stays NULL. Plain
    codegen (no lambda), so callers can project it once and index into it.
    """
    t = F.trim(text, F.lit(_WS_CHARS))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, f"[{_WS_CHARS}]+")
    )


def token_count(text: Column) -> Column:
    """Number of ``tokens(text)``; 0 for empty or whitespace-only text."""
    return F.size(tokens(text))


# Java \p{Punct}: exactly these 32 ASCII characters.
_PUNCT_CHARS = "".join(
    chr(c)
    for c in (*range(33, 48), *range(58, 65), *range(91, 97), *range(123, 127))
)


def punct_ratio(text: Column) -> Column:
    # count-by-deletion with translate (no regex engine): identical to
    # length(regexp_replace(text, '[^\\p{Punct}]', '')) — both count
    # codepoints in the same 32-char class — at a fraction of the cost
    n_punct = F.length(text) - F.length(F.translate(text, _PUNCT_CHARS, ""))
    return n_punct.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def digit_ratio(text: Column) -> Column:
    n_digit = F.length(text) - F.length(F.translate(text, "0123456789", ""))
    return n_digit.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")


def fingerprint(text: Column) -> Column:
    """64-bit exact-content fingerprint (xxhash64 of the raw bytes)."""
    return F.xxhash64(text)

