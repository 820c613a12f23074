"""Pure-Python reference pipelines for the hash-based dedup operators.

Independent re-implementations of minhash-LSH near-dup and SimHash (plain
loops + the oracle xxh64), used to freeze exact fixtures for the contract
queries that round 1 had to leave rows-only (Spark's xxhash64 has no ANSI
SQL equivalent). Integer-exact: every step is 64-bit integer hashing and
set arithmetic, so Spark and this reference must agree bit-for-bit — any
difference is a real bug, not float noise.

Semantics mirror tslib_spark/operators/dedup.py; see each function.
"""

from __future__ import annotations

import re

from tslib_spark.oracle.xxh64 import Int32, spark_xxhash64

_LONG_MAX = 2**63 - 1
# Java regex \s (ASCII-only); Python's \s would also match Unicode spaces
_WS_CHARS = " \t\n\x0b\f\r"
_WS = re.compile(f"[{_WS_CHARS}]+")


def tokens_ref(text: str) -> list[str]:
    """functions.text.tokens: split on runs of Java \\s whitespace, never an
    empty token; empty or whitespace-only text gives []."""
    stripped = text.strip(_WS_CHARS)
    return _WS.split(stripped) if stripped else []


def shingles_ref(text: str, n: int = 3) -> list[int]:
    """Distinct hashed word n-grams, mirroring dedup.shingles:
    starts 1..max(len-n+1, 1); tail slices shorter than n join what's
    there (Spark slice semantics)."""
    toks = tokens_ref(text)
    hi = max(len(toks) - (n - 1), 1)
    seen, out = set(), []
    for i in range(hi):
        gram = " ".join(toks[i : i + n])
        h = spark_xxhash64(gram)
        if h not in seen:
            seen.add(h)
            out.append(h)
    return out


def minhash_signature_ref(shingle_hashes: list[int], num_hashes: int = 64, seed: int = 42) -> list[int]:
    """min over xxhash64(shingle_long, seed_i) per seed; seeds ride as
    IntegerType (F.sequence of int literals)."""
    sig = [_LONG_MAX] * num_hashes
    for s in shingle_hashes:
        for j in range(num_hashes):
            h = spark_xxhash64(s, Int32(seed + j))
            if h < sig[j]:
                sig[j] = h
    return sig


def band_hashes_ref(sig: list[int], bands: int, rows_per_band: int) -> list[int]:
    """xxhash64(concat_ws(',', rows as strings), band_idx:int) per band."""
    return [
        spark_xxhash64(
            ",".join(str(sig[b * rows_per_band + r]) for r in range(rows_per_band)),
            Int32(b),
        )
        for b in range(bands)
    ]


def near_dup_minhash_ref(
    docs: list[tuple[int, str]],
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
) -> list[tuple[int, int, float]]:
    """Full shingle → sign → band → exact-Jaccard-verify pipeline.
    Returns (id_a, id_b, jaccard) sorted, jaccard ≥ threshold."""
    rows_per_band = num_hashes // bands
    sh = {i: shingles_ref(t, n) for i, t in docs}
    sig = {i: minhash_signature_ref(s, num_hashes, seed) for i, s in sh.items()}
    buckets: dict[tuple[int, int], list[int]] = {}
    for i, s in sig.items():
        for b, bh in enumerate(band_hashes_ref(s, bands, rows_per_band)):
            buckets.setdefault((b, bh), []).append(i)
    cands = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                cands.add((ids[x], ids[y]))
    out = []
    for a, b in sorted(cands):
        sa, sb = set(sh[a]), set(sh[b])
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            out.append((a, b, j))
    return out


def simhash_ref(text: str) -> int:
    """64-bit SimHash: per-bit majority vote over token hashes (frequency-
    weighted — every occurrence votes), mirroring dedup.simhash_agg; 0 for
    text with no tokens."""
    votes = [0] * 64
    for t in tokens_ref(text):
        h = spark_xxhash64(t) & ((1 << 64) - 1)
        for b in range(64):
            votes[b] += 1 if (h >> b) & 1 else -1
    sig = 0
    for b in range(64):
        if votes[b] > 0:
            sig |= 1 << b
    return sig - (1 << 64) if sig >= (1 << 63) else sig
