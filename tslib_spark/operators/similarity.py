"""Similarity search over embedding columns (array<float/double>).

Two paths per the scale plan:

- **Brute-force cosine top-k** — the correctness baseline. Dot products are
  JVM expressions (zip_with + aggregate, whole-stage codegen); the query
  vector is a broadcast literal. O(N·d) scan, no shuffle until the final
  top-k (TakeOrderedAndProject — no full sort).
- **LSH-bucketed ANN** — random-hyperplane signatures (deterministic from a
  seed), candidates restricted to matching buckets with multiprobe on
  Hamming-1 neighbors. The bucket equi-join replaces the full scan; at
  10^9 vectors this is the difference between touching every row and
  touching ~N/2^bits.

Embedding-cosine *near-dup* (all-pairs above a threshold) reuses the LSH
buckets as the candidate generator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_to_query(vec_col, query: list[float]):
    """Cosine similarity of an array column to a fixed query vector."""
    q = F.array(*[F.lit(float(x)) for x in query])
    qn = float(np.sqrt(np.dot(query, query)))
    return _dot(vec_col, q) / (_norm(vec_col) * F.lit(qn))


def brute_force_topk(
    df: DataFrame, vec_col: str, id_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact cosine top-k vs one query vector."""
    vec = F.col(vec_col).cast("array<double>")
    return (
        df.select(F.col(id_col), cosine_to_query(vec, query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def make_planes(dim: int, n_planes: int = 12, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).normal(size=(n_planes, dim))


def hyperplane_signatures_arrow(planes_per_band: list[np.ndarray]):
    """Hyperplane signatures as one pandas_udf computing ALL bands'
    signatures per row, returned as ``array<long>``: bit j of band b is
    ``<v, plane_j> >= 0`` for that band's planes.

    The Catalyst-expression statement of the same signature (the test
    reference ``tslib_spark.oracle.folds.hyperplane_signature``) evaluates
    O(bands × planes × dim) *interpreted* higher-order-lambda ops per row —
    at 768-dim production embeddings that is ~25k lambda evaluations per
    row, the single biggest CPU cost in the near-dup/kNN family. Here the
    same arithmetic runs as numpy column ops over the whole Arrow batch.

    Bit-identity contract: Catalyst's ``aggregate`` folds the dot product
    strictly left-to-right in float64 (((0 + x₀p₀) + x₁p₁) + …), and the
    frozen similarity fixtures replicate that order. So this kernel does
    NOT use a matmul (BLAS reorders/pairwise-sums, which could flip the
    sign of a near-zero dot) — it folds over the dim axis in index order,
    vectorized across rows and planes. Every elementwise numpy op is the
    same IEEE-754 double multiply/add the JVM performs, so signatures are
    bit-identical to the expression fold (pytest-pinned)."""
    from pyspark.sql.functions import pandas_udf

    bands = [np.ascontiguousarray(p, dtype=np.float64) for p in planes_per_band]
    all_planes = np.concatenate(bands, axis=0)  # (total_planes, dim)
    offsets = np.cumsum([0] + [b.shape[0] for b in bands])

    @pandas_udf("array<long>")
    def _sigs(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        X = np.array(vs.tolist(), dtype=np.float64)  # (n, dim)
        n, dim = X.shape
        acc = np.zeros((n, all_planes.shape[0]), dtype=np.float64)
        for d in range(dim):  # ordered fold == Catalyst's left-to-right sum
            acc += X[:, d : d + 1] * all_planes[:, d]
        bits = acc >= 0
        out = np.empty((n, len(bands)), dtype=np.int64)
        for b in range(len(bands)):
            lo, hi = offsets[b], offsets[b + 1]
            powers = np.left_shift(np.int64(1), np.arange(hi - lo, dtype=np.int64))
            out[:, b] = bits[:, lo:hi].astype(np.int64) @ powers
        return pd.Series(list(out))

    return _sigs


def _score_pairs_arrow(joined: DataFrame, dim: int) -> DataFrame:
    """(id_a, id_b, cosine) from a joined candidate frame carrying
    ``_va/_na/_vb/_nb`` — the Arrow batch form of
    ``_dot(_va,_vb) / (_na*_nb)``, bit-identical to the expression path.

    The expression form runs O(dim) interpreted lambda steps per pair
    (zip_with + aggregate allocate two arrays per candidate); at millions
    of candidates that is the dominant cost of the near-dup/kNN family
    (r7 measurement: 3.6M candidates × dim 64 ≈ 30 s of the 40 s query).
    Here the same arithmetic runs vectorized over the batch, folding the
    dim axis IN INDEX ORDER (((0 + p₀) + p₁) + …) with IEEE-754 double
    multiply/adds — exactly Catalyst's left-to-right aggregate — so the
    frozen similarity fixtures still match bit-for-bit (same discipline
    as ``hyperplane_signatures_arrow``; no BLAS matmul, which reorders).
    """
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType([
        joined.schema["id_a"],
        joined.schema["id_b"],
        StructField("cosine", DoubleType()),
    ])
    narrow = joined.select("id_a", "id_b", "_va", "_na", "_vb", "_nb")

    def score(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            va = np.asarray(batch.column("_va").flatten(), dtype=np.float64).reshape(n, dim)
            vb = np.asarray(batch.column("_vb").flatten(), dtype=np.float64).reshape(n, dim)
            na = np.asarray(batch.column("_na"), dtype=np.float64)
            nb = np.asarray(batch.column("_nb"), dtype=np.float64)
            acc = np.zeros(n, dtype=np.float64)
            for d in range(dim):  # ordered fold == Catalyst's left-to-right sum
                acc += va[:, d] * vb[:, d]
            cos = acc / (na * nb)
            yield pa.RecordBatch.from_arrays(
                [batch.column("id_a"), batch.column("id_b"), pa.array(cos, type=pa.float64())],
                ["id_a", "id_b", "cosine"],
            )

    return narrow.mapInArrow(score, out_schema)


def ann_lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: scan only rows whose hyperplane bucket matches the
    query's or is one of its Hamming-1 neighbors (multiprobe)."""
    planes = make_planes(len(query), n_planes, seed)
    vec = F.col(vec_col).cast("array<double>")
    sig_udf = hyperplane_signatures_arrow([planes])
    with_sig = df.withColumn("_sig", F.element_at(sig_udf(vec), 1))

    qv = np.asarray(query, dtype=float)
    qsig = 0
    for j in range(n_planes):
        if float(planes[j] @ qv) >= 0:
            qsig |= 1 << j
    probes = [qsig] + [qsig ^ (1 << j) for j in range(n_planes)]
    cand = with_sig.filter(F.col("_sig").isin(probes))
    return (
        cand.select(F.col(id_col), cosine_to_query(vec, query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def cap_bucket_size(
    banded: DataFrame, bucket_cols: list[str], max_bucket: int
) -> tuple[DataFrame, DataFrame]:
    """Drop rows in LSH buckets larger than ``max_bucket`` (skew guard).

    A bucket self-join is quadratic in bucket size: one adversarial bucket
    (boilerplate corpora hashing to one (band, hash)) turns a sub-quadratic
    near-dup sweep into N². Oversized buckets are counted with one
    aggregation and anti-joined away (the oversized set is tiny by
    construction, so it broadcasts). Returns ``(kept, dropped_buckets)``
    — the second frame is the lineage record ``(bucket_cols..., count)``
    so callers can log exactly which buckets were skipped. Docs in a
    dropped bucket usually remain reachable through their OTHER bands
    (OR-amplification), so recall degrades gracefully rather than the job
    degrading quadratically."""
    over = (
        banded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("bucket_count"))
        .filter(F.col("bucket_count") > max_bucket)
    )
    kept = banded.join(F.broadcast(over.select(*bucket_cols)), bucket_cols, "left_anti")
    return kept, over


def _scored_candidates(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_planes: int,
    seed: int,
    n_bands: int,
    max_bucket: int | None,
) -> DataFrame:
    """(id_a, id_b, cosine) for every deduped undirected candidate pair
    (id_a < id_b) of the banded hyperplane tables — the shared candidate
    and scoring stage of the near-dup/kNN family.

    The banded (id, band, sig) frame is pinned to executor storage
    (``localCheckpoint`` — an eager action, lineage cut): it feeds the
    bucket-cap aggregate AND both sides of the self-join, so a lazy plan
    re-runs the signature UDF + explode up to six times (r7 measurement).
    The frame is 3 longs per (row × band) — executor-disk cheap even at
    10^9 rows. Candidates are deduped BEFORE vectors are fetched, so the
    k-band union never recomputes a cosine; vectors then rejoin by id (the
    banded exchange carries only 8-byte ids + signatures, never the
    embeddings)."""
    vec = F.col(vec_col).cast("array<double>")
    sig_udf = hyperplane_signatures_arrow(
        [make_planes(dim, n_planes, seed + j) for j in range(n_bands)]
    )
    banded = df.select(
        F.col(id_col).alias("_id"), F.posexplode(sig_udf(vec)).alias("_band", "_sig")
    ).localCheckpoint(eager=True)
    if max_bucket is not None:
        banded, _ = cap_bucket_size(banded, ["_band", "_sig"], max_bucket)
        banded = banded.localCheckpoint(eager=True)
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l._band") == F.col("r._band"))
            & (F.col("l._sig") == F.col("r._sig"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    sides = df.select(F.col(id_col).alias("_id"), vec.alias("_v"), _norm(vec).alias("_n"))
    a = sides.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"))
    b = sides.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"))
    return _score_pairs_arrow(cand.join(a, "id_a").join(b, "id_b"), dim)


def cosine_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 10,
    seed: int = 42,
    n_bands: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """All embedding pairs with cosine ≥ threshold, LSH-bucketed.

    OR-amplified across ``n_bands`` independent hyperplane tables (band j
    uses planes seeded ``seed + j``): a pair is a candidate if it collides
    in ANY band, then exact cosine verifies. One table (default) has high
    recall only near cosine 1; at working thresholds like 0.8 the collision
    probability per table is (1 - θ/π)^n_planes, so multiple bands are
    required for recall ≥ 0.9 — same machinery as MinHash banding.

    Candidates are deduped on (id_a, id_b) BEFORE vectors are fetched and
    the banded exchange carries only ids + signatures (see
    ``_scored_candidates``) — at 10^9 × 768-dim that is the difference
    between shuffling ids and shuffling the corpus.

    ``max_bucket`` guards the per-bucket self-join against adversarial
    skew (see cap_bucket_size). ``dim`` is explicit: probing it with
    ``df.first()`` would hide a full Spark job inside what reads as a lazy
    transform. The banded id/signature frame is EAGERLY pinned to executor
    storage so the signature UDF runs once instead of once per plan branch
    (same trade as ``near_dup_minhash``).
    """
    scored = _scored_candidates(
        df, vec_col, id_col, dim, n_planes, seed, n_bands, max_bucket
    )
    return scored.filter(F.col("cosine") >= threshold)


def train_ivf_centroids(
    df: DataFrame, vec_col: str, n_centroids: int = 64, sample: int = 10_000,
    iters: int = 10, seed: int = 42, order_col: str | None = None,
) -> np.ndarray:
    """IVF coarse quantizer: k-means on a bounded driver-side sample.

    The sample cap keeps the driver pull O(sample × dim) regardless of
    table size (centroid quality needs a sample, not the corpus); Lloyd
    runs in numpy with a fixed seed so every executor sees identical
    centroids. Returns (n_centroids, dim), L2-normalized so nearest-by-
    dot-product == nearest-by-cosine.

    Determinism: a bare ``.limit(sample)`` takes whatever rows arrive first
    — partition-order nondeterministic, so reruns can train different
    centroids. Pass ``order_col`` (e.g. the id column) to make the sample
    a deterministic TakeOrdered; left unset, a warning records that the
    caller accepted run-to-run centroid drift."""
    if order_col is not None:
        sample_df = df.orderBy(order_col)
    else:
        import warnings

        warnings.warn(
            "train_ivf_centroids without order_col samples rows in partition "
            "order — centroids may differ between runs; pass order_col for "
            "reproducible training",
            UserWarning,
            stacklevel=2,
        )
        sample_df = df
    pdf = (
        sample_df.select(F.col(vec_col).cast("array<double>").alias("v"))
        .limit(sample)
        .toPandas()
    )
    X = np.array(pdf["v"].tolist(), dtype=np.float64)
    return lloyd_centroids(X, n_centroids, iters, seed)


def lloyd_centroids(X: np.ndarray, n_centroids: int, iters: int = 10, seed: int = 42) -> np.ndarray:
    """Seeded spherical k-means core (shared by the Spark trainer and the
    frozen-oracle script so both derive identical centroids)."""
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(X @ cent.T, axis=1)  # cosine on normalized rows
        for j in range(cent.shape[0]):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                cent[j] = m / max(np.linalg.norm(m), 1e-12)
    return cent


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    centroids: np.ndarray,
    out_col: str = "_ivf",
):
    """Nearest-centroid assignment as a vectorized Arrow kernel.

    One (batch × dim) @ (dim × C) matmul per Arrow batch — the argmin over
    C dot products is expressible with higher-order column functions but
    runs O(C·dim) interpreted per row there; the numpy form is the
    documented fast path for this shape (SURVEY §2.11)."""
    from pyspark.sql.functions import pandas_udf

    cent = np.ascontiguousarray(centroids, dtype=np.float64)

    @pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(X @ cent.T, axis=1).astype(np.int32))

    return df.withColumn(out_col, _assign(F.col(vec_col).cast("array<double>")))


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF ANN: exact cosine top-k restricted to the ``nprobe`` centroid
    cells nearest the query. At 10^9 vectors the cell filter is a
    partition-prunable predicate on a materialized assignment column —
    scan ~nprobe/C of the corpus instead of all of it."""
    qv = np.asarray(query, dtype=np.float64)
    qn = qv / max(np.linalg.norm(qv), 1e-12)
    order = np.argsort(-(centroids @ qn))
    probes = [int(j) for j in order[:nprobe]]
    assigned = ivf_assign(df, vec_col, centroids)
    cand = assigned.filter(F.col("_ivf").isin(probes))
    vec = F.col(vec_col).cast("array<double>")
    return (
        cand.select(F.col(id_col), cosine_to_query(vec, query).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def pairwise_topk_per_row(
    df: DataFrame, vec_col: str, id_col: str, dim: int, k: int = 5, n_planes: int = 8,
    seed: int = 42, n_bands: int = 1, max_bucket: int | None = None,
) -> DataFrame:
    """For each row, its k most-similar neighbors among its LSH-bucket
    peers — the batched kNN-graph builder (used for clustering/dedup
    graphs). ``dim`` is explicit (no hidden driver-side probe job).

    Same candidate discipline as ``cosine_near_dup_pairs``: the banded
    exchange carries only (8-byte id, band, signature) — never the
    embeddings — candidates are deduped on undirected (id_a < id_b) pairs
    across the ``n_bands`` OR-amplified hyperplane tables, each cosine is
    computed ONCE after the vectors rejoin by id, and the directed graph
    is the cheap union of the scored pairs with their mirror. ``max_bucket``
    caps the per-bucket self-join against adversarial skew (boilerplate
    embeddings collapsing into one bucket would otherwise go quadratic);
    at 10^9 × 768-dim the id-only exchange is the difference between
    shuffling ids and shuffling the corpus per band.
    """
    scored = _scored_candidates(
        df, vec_col, id_col, dim, n_planes, seed, n_bands, max_bucket
    )
    directed = scored.unionByName(
        scored.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "cosine"
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), "id_b")
    return directed.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
