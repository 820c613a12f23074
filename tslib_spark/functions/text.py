"""Text-analysis column expressions for training-data pipelines.

Everything is a JVM-side expression (codegen, no Python): token counting,
quality scoring, language-ID heuristics, document fingerprints. Designed to
run over the `documents`/crawl `text` columns at 100 TB — each function is a
narrow projection over one string column, so column pruning keeps the scan
minimal and there is no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "los", "de"],
    "zh": ["的", "是", "了", "在", "我"],
}


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


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token estimate: split on whitespace + punctuation +
    digit/letter boundaries (a cheap stand-in for BPE tokenizer counts)."""
    pieces = F.split(text, r"(\s+|(?<=\d)(?=\D)|(?<=\D)(?=\d)|(?=[^\w\s]))")
    return F.size(F.filter(pieces, lambda p: F.length(p) > 0))


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


def mean_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: long enough, low punct/digit noise, sane
    word lengths. Deliberately simple + deterministic (a Gopher/C4-style
    rule-based filter, not a model)."""
    n_tok = token_count(text).cast("double")
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    mtl = mean_token_len(text)
    wordlen_score = F.when((mtl >= 2.0) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.3))
    noise = punct_ratio(text) + digit_ratio(text)
    noise_score = F.greatest(F.lit(0.0), F.lit(1.0) - noise * 3.0)
    return (len_score * 0.4 + wordlen_score * 0.3 + noise_score * 0.3)


def lang_guess(text: Column) -> Column:
    """Stopword-marker language ID: the language whose markers hit most.

    Returns 'und' when nothing matches. Ties break by a fixed language
    order (en, de, fr, es, zh) — deterministic.
    """
    toks = tokens(F.lower(text))
    scores = []
    for lang in ["en", "de", "fr", "es", "zh"]:
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        scores.append(F.size(F.filter(toks, lambda t: F.array_contains(markers, t))))
    best = F.greatest(*scores)
    out = F.lit("und")
    for lang, score in reversed(list(zip(["en", "de", "fr", "es", "zh"], scores))):
        out = F.when((best > 0) & (score == best), F.lit(lang)).otherwise(out)
    return out


def fingerprint(text: Column) -> Column:
    """64-bit exact-content fingerprint (xxhash64 of the raw bytes)."""
    return F.xxhash64(text)

