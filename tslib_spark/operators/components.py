"""Connected components over near-dup pair graphs + canonical-keep dedup.

The missing last step of the dedup story: MinHash/SimHash/cosine stages
emit *pairs* (see dedup.py, similarity.py), but a training pipeline needs
*clusters* — near-duplication is transitive in practice (A~B, B~C ⇒ keep
one of {A,B,C}), and pair-level keep-min decisions double-keep chains.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the standard
shuffle-based CC used on web-scale graphs:

- ``large-star``: every node connects its strictly-larger neighbors to the
  minimum of its neighborhood (including itself);
- ``small-star``: every node connects its smaller-or-equal neighbors (and
  itself) to the minimum of its smaller neighborhood.

Both steps monotonically shrink edge weights-toward-minima, never grow the
edge count, preserve connectivity, and converge in O(log n) rounds to a
set of star graphs whose centers are the component minima. Each round is
two groupBy+join passes on the node key — pure DataFrame shuffles, no
driver-side graph state, so the operator scales to pair sets that never
fit one machine (unlike a driver union-find).

Lineage: iterative self-referencing plans grow without bound, so each
round's edge set is EXPLICITLY materialized — ``checkpoint_dir=None``
(default) uses ``localCheckpoint`` (executor-local storage, lineage
truncated, NOT resilient to executor loss), or pass a reliable
``checkpoint_dir`` for fault-tolerant iteration on a real cluster. This
materialization is inherent to iterative convergence testing, not hidden:
the function runs one small action per round (edge-set fingerprint) to
detect the fixpoint. Invariant: a full action follows every lazy
checkpoint — the local checkpoint is marked lazily and that fingerprint
collect is what materializes it, so no round reads an unmaterialized
checkpoint.

Reference parity note: the reference engine has no graph operator — this
extends its dedup surface the way its pipeline docs assume a downstream
"cluster then keep one" step (tslib has no equivalent; SURVEY.md §2
training-data ops family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "dedup_keep_canonical"]


def _canon(df: DataFrame, a: str, b: str) -> DataFrame:
    """Undirected edge set in canonical (lo, hi) form, self-loops dropped."""
    return (
        df.select(
            F.least(F.col(a), F.col(b)).alias("lo"),
            F.greatest(F.col(a), F.col(b)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, min(N(u) ∪ {u})) for every v ∈ N(u) with v > u.

    Emitted from the smaller endpoint's perspective, so every input edge is
    covered exactly once; since m ≤ u < v the output is already (lo=m, hi=v).
    """
    sym = edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionAll(
        edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mb"))
    mins = mins.select("u", F.least(F.col("mb"), F.col("u")).alias("m"))
    # no .distinct() here (r7): duplicate (lo, hi) rows are harmless to the
    # small-star step that always follows (its min-aggregate and final
    # distinct absorb them), and dropping it removes one full exchange per
    # round
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient each edge larger→smaller; connect every smaller neighbor and
    the node itself to the minimum smaller neighbor. Output is (lo=m, hi=·).
    """
    d = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))  # u > v
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        d.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
    )
    center = mins.select(F.col("m").alias("lo"), F.col("u").alias("hi"))
    return relink.unionAll(center).distinct()


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    """(count, order-independent content hash) of the edge set in ONE action.

    The hash sum runs as decimal(38,0): Spark 4 ANSI mode makes a long sum
    overflow-raise, and 2^63-scale xxhash64 values overflow quickly.
    """
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(F.col("lo"), F.col("hi")).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Label every node with its component's minimum id.

    ``pairs``: undirected edges (direction/duplicates/self-loops fine).
    ``nodes``: optional single-column DataFrame of ALL ids to label —
    isolated nodes (no pair) come out as their own singleton component;
    without it only endpoint nodes appear in the output.

    Returns (id, component) — component = min id over the node's connected
    component. O(log n) alternating large/small-star rounds, each round
    materialized (see module docstring) and fixpoint-tested via an
    edge-set fingerprint; raises on non-convergence within ``max_iter``.
    """
    if checkpoint_dir == "":
        raise ValueError("checkpoint_dir must be a directory path or None, not ''")
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _materialize(df: DataFrame) -> DataFrame:
        # reliable checkpoints stay eager (a lazy rdd.checkpoint() re-runs
        # the job after the first action); localCheckpoint is marked lazily
        # so the fingerprint collect that always follows doubles as the
        # materializing action — one job per round instead of two
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=False)

    edges = _materialize(_canon(pairs, src, dst))
    fp = _fingerprint(edges)
    converged = False
    for _ in range(max_iter):
        nxt = _materialize(_small_star(_large_star(edges)))
        nfp = _fingerprint(nxt)
        edges, fp, prev = nxt, nfp, fp
        if nfp == prev:
            converged = True
            break
    if not converged and fp[0] > 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({fp[0]} edges remain) — raise max_iter"
        )

    # at the fixpoint the edge set is a union of stars centered on each
    # component's min; a node's min neighbor IS its component (and the
    # center's own min neighbor is larger than itself, hence the least())
    sym = edges.select(F.col("lo").alias("id"), F.col("hi").alias("nbr")).unionAll(
        edges.select(F.col("hi").alias("id"), F.col("lo").alias("nbr"))
    )
    labels = sym.groupBy("id").agg(
        F.least(F.min("nbr"), F.col("id")).alias("component")
    )
    if nodes is not None:
        node_col = nodes.columns[0]
        isolated = nodes.select(F.col(node_col).alias("id")).distinct().join(
            labels.select("id"), "id", "left_anti"
        )
        labels = labels.unionByName(
            isolated.select("id", F.col("id").alias("component"))
        )
    return labels


def dedup_keep_canonical(
    docs: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The end-to-end near-dup dedup step: cluster the pair graph, keep one
    doc (the min id) per cluster, annotate it with the cluster size.

    Returns ``docs`` filtered to survivors, plus a ``cluster_size`` column
    (1 for docs with no near-dup). The join back to ``docs`` is on the id —
    at corpus scale labels carry two longs per doc, never text.
    """
    labels = connected_components(
        pairs, src, dst,
        nodes=docs.select(id_col),
        max_iter=max_iter, checkpoint_dir=checkpoint_dir,
    )
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    keep = (
        labels.filter(F.col("id") == F.col("component"))
        .join(sizes, "component")
        .select(F.col("id").alias(id_col), "cluster_size")
    )
    return docs.join(keep, id_col)
