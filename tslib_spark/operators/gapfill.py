"""Gap-fill operators over tidy series tables.

Three fill strategies, mirroring the reference's pre-passes plus the SQL-
expressible interpolation it offers:

1. ``densify_grid`` — materialize the full bucket grid per series so missing
   buckets become explicit NULL rows (the reference gets this implicitly
   from dense numpy arrays; a crawl table has true holes).
2. ``middle_fill`` — NULL → (max+min)/2, "the least informative value"
   (reference: /root/reference/src/models/tsSVDModel.py:142-148, where the
   extremes are *global across the whole series-group*, not per-series).
3. ``interpolate_linear`` — np.interp semantics (tsUtils.py:171-187) as pure
   window SQL: linear between bracketing non-NULLs, clamped to the nearest
   non-NULL at the edges.

All three are shuffle-light: densify joins on (series, bucket) after an
explode of per-series ranges; fills are one window pass partitioned by
series — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def densify_grid(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "bucket_ts",
    step: str = "1 minute",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Expand each series to its full [min_ts, max_ts] grid; absent buckets → NULL rows.

    Precondition: every ``ts_col`` value lies on the ``step`` grid and each
    (keys, ts) occurs once. The stored hour tier meets both by
    construction (one row per truncated bucket). Nothing checks it, since
    a check would cost a Spark job on every call: an off-grid row passes
    through with gaps counted from it (the task fails when the series'
    next row lies strictly between one and two steps after it), and a
    duplicate (keys, ts) row passes through as a second row.

    Grid generation is distributed: one `sequence` per series key, exploded.
    A series spanning 3 weeks of minutes is ~30k rows — well within a single
    task; series counts scale out across tasks.

    One shuffle total (r7): each observed row emits itself plus the
    missing buckets up to its successor (``lead`` over the series order →
    one ``sequence`` explode per gap) — the old shape joined the exploded
    [min, max] grid back against the input, a second full exchange of the
    dense grid keyed on (keys, ts). Gap generation is per-row and
    streaming (no per-series map/array is ever materialized), and the
    window partitioning is the same (keys) partitioning the fill
    operators need next, so Spark reuses the exchange.
    """
    value_cols = value_cols or [c for c in df.columns if c not in keys + [ts_col]]
    w = Window.partitionBy(*keys).orderBy(ts_col)
    stepped = df.withColumn("_nxt", F.lead(ts_col).over(w))
    step_iv = F.expr(f"interval {step}")
    gap_start = F.col(ts_col) + step_iv
    gaps = F.when(
        F.col("_nxt").isNotNull() & (F.col("_nxt") > gap_start),
        F.sequence(gap_start, F.col("_nxt") - step_iv, step_iv),
    ).otherwise(F.array().cast(f"array<{df.schema[ts_col].dataType.simpleString()}>"))
    ticked = stepped.withColumn(
        "_ticks",
        F.concat(
            F.array(F.struct(F.col(ts_col).alias("_t"), F.lit(True).alias("_obs"))),
            F.transform(gaps, lambda g: F.struct(g.alias("_t"), F.lit(False).alias("_obs"))),
        ),
    )
    exploded = ticked.select(*keys, *value_cols, F.explode("_ticks").alias("_tick"))
    return exploded.select(
        *keys,
        F.col("_tick._t").alias(ts_col),
        *[
            F.when(F.col("_tick._obs"), F.col(c)).alias(c)
            for c in value_cols
        ],
    )


def middle_fill(
    df: DataFrame,
    keys: list[str],
    value_col: str = "value",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """NULL → global middle value (max+min)/2 per group.

    ``group_cols`` scopes the extremes (the reference computes them over the
    whole model input — pass the series-group id); default is per-``keys``.
    """
    scope = group_cols if group_cols is not None else keys
    w = Window.partitionBy(*scope) if scope else Window.partitionBy(F.lit(1))
    mid = (F.max(value_col).over(w) + F.min(value_col).over(w)) / 2.0
    return df.withColumn(value_col, F.coalesce(F.col(value_col), mid))


def interpolate_linear(
    df: DataFrame,
    keys: list[str],
    order_col: str = "bucket_idx",
    value_col: str = "value",
) -> DataFrame:
    """Linear interpolation of NULL runs per series, edge-clamped.

    For each NULL row: value = prev + (next - prev) * (i - i_prev)/(i_next - i_prev)
    where prev/next are the bracketing non-NULL observations; leading/trailing
    NULLs take the nearest observation (np.interp clamps the same way).

    Both directions are *running* frames (unboundedPreceding..current), the
    only frame shape Spark's WindowExec evaluates incrementally — the
    forward fill uses a DESC ordering rather than a (current..
    unboundedFollowing) frame, which WindowExec recomputes per row: O(n²)
    per series and unusable at even 30k-bucket series.
    """
    w_back = Window.partitionBy(*keys).orderBy(F.col(order_col).asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_fwd = Window.partitionBy(*keys).orderBy(F.col(order_col).desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )

    idx_if_obs = F.when(F.col(value_col).isNotNull(), F.col(order_col))
    prev_val = F.last(value_col, ignorenulls=True).over(w_back)
    prev_idx = F.last(idx_if_obs, ignorenulls=True).over(w_back)
    next_val = F.last(value_col, ignorenulls=True).over(w_fwd)
    next_idx = F.last(idx_if_obs, ignorenulls=True).over(w_fwd)

    interp = prev_val + (next_val - prev_val) * (
        (F.col(order_col) - prev_idx).cast("double")
        / (next_idx - prev_idx).cast("double")
    )
    filled = F.when(F.col(value_col).isNotNull(), F.col(value_col)).otherwise(
        F.coalesce(
            F.when(prev_idx.isNotNull() & next_idx.isNotNull() & (next_idx != prev_idx), interp),
            prev_val,
            next_val,
        )
    )
    return df.withColumn(value_col, filled)
