"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship pipeline on sf0.001; every
``queries()`` entry runs at sf0.01 and is compared against the matching
``oracle_sql()`` DuckDB query (row count + schema + order-insensitive
value hash).

Determinism rules used throughout so Spark and DuckDB agree bit-for-bit:
- float SUMs are carried as decimal(38,9/18) (exact, associative), cast to
  double only at the end;
- division/sqrt happen in double with identical expression trees on both
  sides;
- ties in top-k are broken by explicit id columns.

Kernel-backed queries (SVD imputation/forecast, RSC) have no ANSI-SQL
equivalent → no oracle entry → driver records the weaker rows-only check.
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

# the driver may import this file from any cwd; the package lives beside it
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tslib_spark.functions import text as T
from tslib_spark.functions.scalar import normalize_expr, rmse_agg, rmse_hidden
from tslib_spark.kernels.rsc import control_weights, prepare_panel, rsc_fit
from tslib_spark.kernels.svd_kernel import ModelConfig, fit_transform, forecast
from tslib_spark.operators.dedup import exact_dedup, near_dup_minhash
from tslib_spark.operators.downsample import downsample, tier_chain
from tslib_spark.operators.gapfill import densify_grid, interpolate_linear, middle_fill
from tslib_spark.operators.rollup import rollup
from tslib_spark.operators.similarity import ann_lsh_topk, brute_force_topk


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _par(df: DataFrame) -> DataFrame:
    """Parallelism floor for expression-heavy map stages (guide §2.5/§6).

    The testdata tables are single parquet files with ONE row group, so a
    scan — and every narrow stage chained to it (project → explode →
    partial agg) — runs as ONE task no matter how many cores the session
    has (``minPartitionNum`` cannot split a row group; it only adds empty
    splits). When the scan has fewer splits than the cluster parallelism,
    one tiny round-robin shuffle of the raw rows spreads the map work.

    Deliberately NOT inside ``_read``: an unconditional repartition (a)
    costs more than it saves on cheap-map numeric queries (measured +7.5 s
    across the events-table queries at sf1.0) and (b) sits between the
    scan and any later filter, blocking predicate pushdown. So only the
    documents text queries — whose map side tokenizes/hashes every row —
    opt in, after their own filters. The embeddings queries do NOT: their
    per-row work runs in Arrow batch kernels and the repartition measured
    as pure overhead at both sf0.1 and sf1.0. Scale-adaptive: at real
    scale the split count exceeds core count and this is a no-op.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(2 * sc.defaultParallelism)
    return df


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: events → 1-minute rollup → hourly/daily tiers → top-active
    (event_type, day) with derived mean — scan → shuffle → agg → window."""
    sf_dir = "/root/testdata/sf0.001"
    events = _read(spark, sf_dir, "events")
    minute = rollup(events, ["event_type"], "ts", "value", "minute")
    tiers = tier_chain(minute, ["event_type"])
    day = tiers["day"]
    w = Window.partitionBy("bucket_ts").orderBy(F.desc("cnt"), "event_type")
    return (
        day.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "event_type",
            "bucket_ts",
            "cnt",
            F.col("val_sum").cast("double").alias("val_sum"),
            (F.col("val_sum").cast("double") / F.col("cnt")).alias("val_mean"),
            "rank",
        )
    )


# --------------------------------------------------------------------------
# queries: name -> (spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------

_TIER_STATE = """
    count(*) AS cnt,
    CAST(SUM(CAST(value AS DECIMAL(38,9))) AS DOUBLE) AS val_sum,
    MIN(value) AS val_min,
    MAX(value) AS val_max
"""


def _q_rollup_minute(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    t = rollup(events, ["event_type"], "ts", "value", "minute")
    return t.select("event_type", "bucket_ts", "cnt", F.col("val_sum").cast("double").alias("val_sum"), "val_min", "val_max")


def _q_downsample_hour(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    t = downsample(rollup(events, ["event_type"], "ts", "value", "minute"), "hour", ["event_type"])
    return t.select("event_type", "bucket_ts", "cnt", F.col("val_sum").cast("double").alias("val_sum"), "val_min", "val_max")


def _q_downsample_week(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    tiers = tier_chain(rollup(events, ["event_type"], "ts", "value", "minute"), ["event_type"])
    t = tiers["week"]
    return t.select("event_type", "bucket_ts", "cnt", F.col("val_sum").cast("double").alias("val_sum"), "val_min", "val_max")


def _masked_events(spark, sf_dir):
    """events with value deterministically NULLed (event_id % 7 == 0) — the
    shared gap fixture for fill queries (expressible identically in SQL)."""
    events = _read(spark, sf_dir, "events")
    return events.withColumn(
        "value", F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value"))
    )


def _q_gapfill_middle(spark, sf_dir):
    df = _masked_events(spark, sf_dir)
    out = middle_fill(df, ["event_type"], "value")
    return out.select("event_id", "event_type", "value")


def _q_gapfill_interp(spark, sf_dir):
    df = _masked_events(spark, sf_dir).withColumn("bucket_idx", F.col("event_id"))
    out = interpolate_linear(df, ["event_type"], "bucket_idx", "value")
    return out.select("event_id", "event_type", "value")


def _q_densify_grid(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    hourly = rollup(events, ["event_type"], "ts", "value", "hour")
    dense = densify_grid(
        hourly.select("event_type", "bucket_ts", "cnt"), ["event_type"], "bucket_ts", step="1 hour"
    )
    return dense.select("event_type", "bucket_ts", F.coalesce("cnt", F.lit(0)).alias("cnt"))


def _q_normalize(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    vmax, vmin = F.max("value").over(w), F.min("value").over(w)
    return events.select(
        "event_id", "event_type", normalize_expr(F.col("value"), vmax, vmin).alias("value_norm")
    )


def _q_rmse_vs_hourly_mean(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    hourly = rollup(events, ["event_type"], "ts", "value", "hour").select(
        "event_type", "bucket_ts", (F.col("val_sum").cast("double") / F.col("cnt")).alias("hmean")
    )
    joined = events.withColumn("bucket_ts", F.date_trunc("hour", "ts")).join(
        F.broadcast(hourly), ["event_type", "bucket_ts"]
    )
    return joined.groupBy("event_type").agg(rmse_agg(F.col("value"), F.col("hmean")).alias("rmse"))


def _q_rmse_hidden(spark, sf_dir):
    """Corrected rmseMissingData (ref tsUtils.py:87-99, the documented
    latent bug): RMSE of the middle-fill imputation vs the ground truth,
    restricted to the masked positions, per event_type."""
    events = _read(spark, sf_dir, "events")
    df = events.select(
        "event_id",
        "event_type",
        F.col("value").alias("truth"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("mv"),
    ).withColumn("obs", F.col("mv"))
    filled = middle_fill(df, ["event_type"], "mv")
    return filled.groupBy("event_type").agg(
        rmse_hidden(F.col("obs"), F.col("mv"), F.col("truth")).alias("rmse_hidden")
    )


def _q_sessionize(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_utc = F.col("ts").cast("timestamp")  # parquet ts is NTZ; session TZ is UTC
    gap = F.unix_micros(ts_utc) - F.unix_micros(F.lag(ts_utc).over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = events.withColumn("sess_start", new_sess).withColumn(
        "session_id", F.sum("sess_start").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


def _q_topk_users(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    per_user = events.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(38,9)")).cast("double").alias("total")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("total"), "user_id")
    return (
        per_user.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3)
        .select("event_type", "user_id", "total", "rank")
    )


def _q_tpch_q1ish(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(38,9)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum((dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))).cast("decimal(38,9)"))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_pivot_status(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").pivot("o_orderstatus", ["O", "F", "P"]).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,9)")).cast("double")
    )
    return agg.select(
        "o_orderpriority",
        F.col("O").alias("sum_o"),
        F.col("F").alias("sum_f"),
        F.col("P").alias("sum_p"),
    )


def _q_panel_pivot(spark, sf_dir):
    """RSC-style pivot-table aggregate: mean value per (unit=priority, time=year).
    Implicit mean-of-duplicates like pandas pivot_table (SURVEY §2.4)."""
    orders = _read(spark, sf_dir, "orders")
    return orders.groupBy(
        F.col("o_orderpriority").alias("unit"), F.year("o_orderdate").alias("year")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(38,9)")).cast("double") / F.count(F.lit(1))).alias("avg_price")
    )


def _q_join_filter_project(spark, sf_dir):
    """Broadcast-dim join: revenue per region (exercises join + pushdown)."""
    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    reg = _read(spark, sf_dir, "region")
    dims = sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey).join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    )
    return (
        li.join(F.broadcast(dims.select("s_suppkey", "r_name")), li.l_suppkey == dims.s_suppkey)
        .groupBy("r_name")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,9)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _q_dedup_exact(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


def _q_token_stats(spark, sf_dir):
    docs = _par(_read(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
        "n_chars",
    )


def _q_text_quality(spark, sf_dir):
    docs = _par(_read(spark, sf_dir, "documents"))
    toks = T.token_count(F.col("text")).cast("double")
    stop_hits = F.size(
        F.filter(
            F.split(F.col("text"), " "),
            lambda t: t.isin("the", "a", "value", "table"),
        )
    )
    return docs.select(
        "doc_id",
        toks.alias("n_tokens_d"),
        (F.length("text").cast("double") / toks).alias("mean_tok_len"),
        (stop_hits.cast("double") / toks).alias("stop_ratio"),
    )


def _q_lang_by_source(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars")).alias("total_chars"),
    )


def _q_doc_fingerprint(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5(F.col("text")).alias("fp"))


def _q_ann_cosine_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = brute_force_topk(emb, "embedding", "vec_id", [float(x) for x in query], k=10)
    # emit ids only: the two engines' dot products differ in the last ulp
    # (summation association), which would flip a value-hash on the floats
    return out.select("vec_id")


# ----- kernel-backed (rows-only: no ANSI-SQL equivalent) -------------------

def _hourly_tidy(spark, sf_dir, N=24, M=30):
    events = _read(spark, sf_dir, "events")
    hourly = rollup(events, ["event_type"], "ts", "value", "hour")
    dense = densify_grid(
        hourly.select("event_type", "bucket_ts", "cnt"), ["event_type"], "bucket_ts", step="1 hour"
    )
    w = Window.partitionBy("event_type").orderBy("bucket_ts")
    tidy = dense.select(
        F.col("event_type").alias("group_id"),
        F.lit("activity").alias("series_key"),
        (F.row_number().over(w) - 1).cast("long").alias("bucket_idx"),
        F.col("cnt").cast("double").alias("value"),
    ).filter(F.col("bucket_idx") < N * M)
    ok = tidy.groupBy("group_id").count().filter(F.col("count") >= N * M).select("group_id")
    return tidy.join(ok, "group_id"), ModelConfig(target_key="activity", N=N, M=M, k=3)


def _q_svd_impute(spark, sf_dir):
    """HSVT imputation; exact-checked at sf0.01 against a frozen numpy
    oracle (fixtures/svd_impute_sf001.parquet — scripts/freeze_oracles.py).
    Both sides round to the 1e-9 quantum before the driver's value hash."""
    tidy, cfg = _hourly_tidy(spark, sf_dir)
    fit = fit_transform(tidy, cfg)
    return fit.filter("kind = 'imputed'").select(
        "group_id", "idx", F.round("value", 9).alias("value")
    )


def _q_svd_forecast(spark, sf_dir):
    tidy, cfg = _hourly_tidy(spark, sf_dir)
    fit = fit_transform(tidy, cfg)
    horizon_start = cfg.N * (cfg.M - 2)
    out = forecast(tidy, fit.filter("kind='weight'"), cfg, train_end_idx=horizon_start)
    # exact-checked at sf0.01 vs fixtures/svd_forecast_sf001.parquet
    return out.select("group_id", "idx", F.round("forecast", 9).alias("forecast"))


def _q_rsc_weights(spark, sf_dir):
    panel = _q_panel_pivot(spark, sf_dir)
    units = [r[0] for r in panel.select("unit").distinct().orderBy("unit").collect()]
    treated, donors = units[0], units[1:]
    n_years = panel.select("year").distinct().count()
    prepared = prepare_panel(panel, "unit", "year", "avg_price")
    fit = rsc_fit(prepared, treated, donors, singvals=2, M=n_years)
    # exact-checked at sf0.01 vs fixtures/rsc_weights_sf001.parquet
    return control_weights(fit, donors).select(
        "group_id", "unit", F.round("weight", 9).alias("weight")
    )


def _q_json_props(spark, sf_dir):
    """JSON extraction from the events props column (free Spark string/JSON
    functions per SURVEY §2.8)."""
    events = _read(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"), F.count(k).alias("k_cnt"), F.max(k).alias("k_max")
    )


def _jaccard_pairs(spark, sf_dir, threshold: float) -> DataFrame:
    """Token-set Jaccard near-dup pairs over the doc_id<60 prefix —
    (id_a, id_b, jaccard), the shared pair source for the token_jaccard,
    doc_components and dedup_canonical queries."""
    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok")
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (
        toks.alias("a")
        .join(toks.alias("b"), (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        pairs.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
        .select(
            "id_a", "id_b",
            (F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _q_token_jaccard(spark, sf_dir):
    """Token-set Jaccard near-dup pairs (exact, SQL-expressible variant of
    the shingle pipeline) over a small doc prefix."""
    return _jaccard_pairs(spark, sf_dir, 0.5)


def _q_doc_components(spark, sf_dir):
    """Near-dup clusters: Jaccard-0.7 pairs → alternating large-star/
    small-star connected components (operators/components.py) → every doc
    labeled with its component's min id (isolated docs = singletons). The
    DuckDB oracle computes the same fixpoint with a recursive CTE."""
    from tslib_spark.operators.components import connected_components

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    pairs = _jaccard_pairs(spark, sf_dir, 0.7)
    return connected_components(pairs, nodes=docs.select("doc_id")).orderBy("id")


def _q_dedup_canonical(spark, sf_dir):
    """End-to-end near-dup dedup: cluster the Jaccard-0.7 pair graph and
    keep ONE doc (min id) per cluster, annotated with the cluster size —
    the actual corpus-shrinking step a training pipeline runs."""
    from tslib_spark.operators.components import dedup_keep_canonical

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    pairs = _jaccard_pairs(spark, sf_dir, 0.7)
    return dedup_keep_canonical(docs, "doc_id", pairs).select(
        "doc_id", "cluster_size", "lang", "source"
    )


def _q_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment: one xxhash64 codegen
    expression, signed-long threshold buckets (operators/sampling.py).
    The frozen oracle replays the pure-Python xxh64 replica proven
    bit-equal to Spark's (tests/test_oracle_xxh64.py)."""
    from tslib_spark.operators.sampling import hash_split

    docs = _read(spark, sf_dir, "documents")
    return hash_split(
        docs, "doc_id", {"train": 8.0, "val": 1.0, "test": 1.0}, seed=7
    ).select("doc_id", "split")


def _q_stratified_sample(spark, sf_dir):
    """Per-language deterministic downsampling (en 50%, de 100%, rest 20%)
    — a single codegen CASE over the id hash, no shuffle."""
    from tslib_spark.operators.sampling import hash_sample

    docs = _read(spark, sf_dir, "documents")
    return hash_sample(
        docs, "doc_id", rate=0.2, seed=11, strata_col="lang",
        rates={"en": 0.5, "de": 1.0},
    ).select("doc_id", "lang")


def _q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing: every doc labeled with the
    4096-token training bin its first token lands in, via the two-pass
    distributed prefix sum (operators/packing.py) — bit-equal to the
    oracle's single global window at any partition count."""
    from tslib_spark.operators.packing import pack_sequences

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return pack_sequences(docs, "n_tokens", "doc_id", 4096, num_partitions=8)


_URL_SUFFIX_ROTATION = (
    ".Example.COM", ".Sample.CO.UK", ".Demo.COM.AU", ".Blog.GitHub.IO",
    ".North.W.CK", ".WWW.CK", ".Pref.AICHI.JP", ".Dist.K12.CA.US",
)


def _psl_oracle_sql_parts() -> tuple[str, str]:
    """DuckDB SQL for the full PSL algorithm, GENERATED from the same
    parsed rule sets the Spark expression consumes (same data,
    independently expressed: DuckDB regexps + CASE + IN vs Catalyst
    codegen). Returns (lastN column defs, suffix-length CASE, lastN array body)."""
    from tslib_spark.functions.psl_snapshot import bundled_rules

    r = bundled_rules()
    maxk = r.max_suffix_labels + 1
    defs = ",\n                     ".join(
        f"regexp_extract(host, '((?:[^.]+\\.){{{k - 1}}}[^.]+)$', 1) AS last{k}"
        for k in range(1, maxk + 1)
    )

    def inlist(vals):
        return ", ".join(f"'{v}'" for v in sorted(vals))

    conds: list[tuple[str, int]] = []
    for k in sorted(r.exception, reverse=True):  # exceptions beat everything
        conds.append((f"last{k} IN ({inlist(r.exception[k])})", k - 1))
    for L in sorted(set(r.exact) | {k + 1 for k in r.wildcard}, reverse=True):
        if L == 1:
            continue
        parts = []
        if L in r.exact:
            parts.append(f"last{L} IN ({inlist(r.exact[L])})")
        if (L - 1) in r.wildcard:
            parts.append(
                f"(last{L} <> '' AND last{L - 1} IN ({inlist(r.wildcard[L - 1])}))"
            )
        conds.append((" OR ".join(parts), L))
    slen = (
        "CASE " + " ".join(f"WHEN {c} THEN {v}" for c, v in conds) + " ELSE 1 END"
    )
    arr = ", ".join(f"last{k}" for k in range(1, maxk + 1))
    return defs, slen, arr


_PSL_LASTN_SQL, _PSL_SLEN_SQL, _PSL_ARR_SQL = _psl_oracle_sql_parts()
_SUFFIX_LIST_SQL = "[" + ", ".join(f"'{s}'" for s in _URL_SUFFIX_ROTATION) + "]"


def _q_url_parse(spark, sf_dir):
    """URL surgery as pure codegen (functions/web.py): synthesize a
    deterministic URL per doc (testdata carries no url column), then
    host/domain/path/query-param extraction + the normalized crawl-dedup
    key. Spark parses with the JVM parse_url built-in; the oracle re-parses
    the same strings with independent DuckDB regexps."""
    from tslib_spark.functions.web import (
        normalize_url, url_domain, url_domain_psl, url_host, url_path,
        url_query_param,
    )

    docs = _par(_read(spark, sf_dir, "documents"))
    # rotate through every PSL rule family so domain vs domain_psl
    # disagree exactly where the full algorithm matters: plain gTLD
    # (default rule), co.uk/com.au two-label registries, a PRIVATE-section
    # host (github.io), a *.ck wildcard, the !www.ck exception, a
    # three-label exact rule (pref.aichi.jp), and the US k12 family
    suffix = F.element_at(
        F.array(*[F.lit(s) for s in _URL_SUFFIX_ROTATION]),
        (F.pmod(F.col("doc_id"), F.lit(len(_URL_SUFFIX_ROTATION))) + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://WWW.Site"), F.pmod(F.col("doc_id"), F.lit(7)).cast("string"),
        suffix, F.lit("/p/"), F.col("doc_id").cast("string"),
        F.lit("/view?lang="), F.col("lang"), F.lit("&ref=feed#frag"),
    )
    return docs.select(
        "doc_id",
        url.alias("url"),
        url_host(url).alias("host"),
        url_domain(url).alias("domain"),
        url_domain_psl(url).alias("domain_psl"),
        url_path(url).alias("path"),
        url_query_param(url, "lang").alias("lang_param"),
        normalize_url(url).alias("norm"),
    )


def _q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals per doc: duplicate-token
    fraction (pure codegen), top-bigram share and duplicated-bigram
    fraction (explode → map-side-combined groupBy, the 100 TB histogram
    shape). Shares round(9) with the oracle to absorb double division."""
    from tslib_spark.operators.repetition import repetition_signals

    docs = _par(_read(spark, sf_dir, "documents"))
    out = repetition_signals(docs, "doc_id", "text", n=2)
    return out.select(
        "doc_id", "total_tokens", "ngram_total",
        F.round("dup_token_frac", 9).alias("dup_token_frac"),
        F.round("top_ngram_share", 9).alias("top_ngram_share"),
        F.round("dup_ngram_frac", 9).alias("dup_ngram_frac"),
    )


def _q_substring_dups(spark, sf_dir):
    """Exact substring-run dedup (operators/substring.py): pairs sharing a
    verbatim token run of ≥8 tokens via 5-token rolling windows → capped
    hash self-join → gaps-and-islands run measurement. The oracle replays
    the identical window/diagonal/island algebra on the gram STRINGS —
    independent of Spark's xxhash64 join keys."""
    from tslib_spark.operators.substring import substring_dup_pairs

    docs = _par(_read(spark, sf_dir, "documents"))
    return substring_dup_pairs(
        docs, "doc_id", "text", window_tokens=5, min_run_tokens=8
    ).orderBy("id_a", "id_b")


def _q_quality_filter(spark, sf_dir):
    """Composed Gopher-rule corpus filter (operators/quality_filter.py):
    keep/drop per doc + ordered fail-reason list (joined to one string for
    the value-hash compare). Rule evaluation is one codegen projection on
    top of the repetition-signal aggregates."""
    from tslib_spark.operators.quality_filter import quality_filter

    docs = _par(_read(spark, sf_dir, "documents"))
    out = quality_filter(docs, "doc_id", "text", min_tokens=20)
    return out.select(
        "doc_id", "total_tokens", "keep",
        F.concat_ws(",", "fail_reasons").alias("reasons"),
    )


def _q_corpus_prepare(spark, sf_dir):
    """The whole corpus-preparation pipeline in one pass: Gopher quality
    filter → benchmark decontamination (eval = doc_id>=450) → deterministic
    train/val/test split → per-split doc/token report. Every stage is the
    library operator; the oracle composes the same algebra in SQL (split
    assignments from the frozen bit-equal xxh64 fixture)."""
    from tslib_spark.operators.decontaminate import decontaminate
    from tslib_spark.operators.quality_filter import quality_filter
    from tslib_spark.operators.sampling import hash_split

    docs = _par(_read(spark, sf_dir, "documents"))
    train_pool = docs.filter(F.col("doc_id") < 450)
    evals = docs.filter(F.col("doc_id") >= 450)

    q = quality_filter(train_pool, "doc_id", "text", min_tokens=20)
    kept = train_pool.join(
        q.filter(F.col("keep")).select("doc_id", "total_tokens"), "doc_id"
    )
    clean = decontaminate(kept, "doc_id", "text", evals, "text", n=8)
    split = hash_split(clean, "doc_id", {"train": 8.0, "val": 1.0, "test": 1.0}, seed=7)
    return split.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("total_tokens").cast("long").alias("n_tokens"),
    ).orderBy("split")


def _q_corpus_prepare_full(spark, sf_dir):
    """corpus_prepare with the missing production stage: Gopher quality
    filter → MinHash-LSH fuzzy dedup keeping one canonical doc per
    near-dup cluster → benchmark decontamination → deterministic split →
    per-split report (docs, tokens, and docs-represented via cluster
    sizes). The oracle restricts the frozen all-docs MinHash pair fixture
    to the quality-kept subset (signatures are content-local, so subset
    pairs = full pairs ∩ subset²) and replays components + canonical keep
    as a recursive CTE."""
    from tslib_spark.operators.components import dedup_keep_canonical
    from tslib_spark.operators.decontaminate import decontaminate
    from tslib_spark.operators.dedup import near_dup_minhash
    from tslib_spark.operators.quality_filter import quality_filter
    from tslib_spark.operators.sampling import hash_split

    docs = _par(_read(spark, sf_dir, "documents"))
    train_pool = docs.filter(F.col("doc_id") < 450)
    evals = docs.filter(F.col("doc_id") >= 450)

    q = quality_filter(train_pool, "doc_id", "text", min_tokens=20)
    kept = train_pool.join(
        q.filter(F.col("keep")).select("doc_id", "total_tokens"), "doc_id"
    )
    pairs = near_dup_minhash(
        kept, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5
    )
    deduped = dedup_keep_canonical(kept, "doc_id", pairs.select("id_a", "id_b"))
    clean = decontaminate(deduped, "doc_id", "text", evals, "text", n=8)
    split = hash_split(clean, "doc_id", {"train": 8.0, "val": 1.0, "test": 1.0}, seed=7)
    return split.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("total_tokens").cast("long").alias("n_tokens"),
        F.sum("cluster_size").cast("long").alias("n_represented"),
    ).orderBy("split")


def _q_contamination(spark, sf_dir):
    """Benchmark decontamination (operators/decontaminate.py): docs with
    doc_id >= 450 stand in for a held-out eval set; training docs
    (doc_id < 450) sharing any 8-gram with it are flagged with hit count
    and span. Broadcast semi-join — the corpus side never shuffles."""
    from tslib_spark.operators.decontaminate import contamination_hits, eval_ngram_set

    docs = _par(_read(spark, sf_dir, "documents"))
    train = docs.filter(F.col("doc_id") < 450)
    evals = docs.filter(F.col("doc_id") >= 450)
    grams = eval_ngram_set(evals, "text", n=8)
    return contamination_hits(train, "doc_id", "text", grams, n=8).orderBy("doc_id")


def _q_near_dup_clusters(spark, sf_dir):
    """The full fuzzy-dedup composition a training pipeline actually runs:
    MinHash signatures → banded LSH candidates → exact-Jaccard verify
    (operators/dedup.py) → large-star/small-star connected components
    (operators/components.py). Labels every doc that has at least one
    verified near-dup with its cluster's min id. The oracle replays the
    reachability fixpoint (recursive CTE) over the frozen pair fixture,
    itself proven bit-equal to the pure-Python xxh64 pipeline."""
    from tslib_spark.operators.components import connected_components
    from tslib_spark.operators.dedup import near_dup_minhash

    docs = _par(_read(spark, sf_dir, "documents"))
    pairs = near_dup_minhash(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5
    )
    return connected_components(pairs).orderBy("id")


def _q_asof_join(spark, sf_dir):
    """Each event joined to the most recent PRIOR event value of the same
    user (as-of semantics, union-tag + running window implementation)."""
    from tslib_spark.operators.asof import asof_join

    events = _read(spark, sf_dir, "events")
    left = events.select("user_id", F.col("event_id").alias("l_event"), F.col("ts").alias("l_ts"))
    right = events.select(
        "user_id", F.col("ts").alias("r_ts"), F.col("value").alias("prev_value"),
        F.col("event_id").alias("prev_event"),
    )
    # strict precedence: shift right side by 1 microsecond so ties exclude self
    right = right.withColumn("r_ts", F.timestamp_micros(F.unix_micros(F.col("r_ts").cast("timestamp")) + 1))
    # tie-break on event_id so duplicate (user_id, ts) right rows resolve
    # deterministically (events data has none today; belt-and-braces)
    out = asof_join(
        left, right, ["user_id"], "l_ts", "r_ts", ["prev_value", "prev_event"],
        right_tiebreak=["prev_event"],
    )
    return out.select("user_id", "l_event", "prev_event", "prev_value")


def _q_gorilla_roundtrip(spark, sf_dir):
    """Gorilla encode+decode the per-type event series; returns decoded rows
    (rows-only check: count must equal the input series length)."""
    from tslib_spark.codec.chunks import decode_chunks, encode_chunks

    events = _read(spark, sf_dir, "events")
    tidy = events.select(
        F.col("event_type").alias("series_key"),
        F.col("event_id").alias("bucket_idx"),
        F.col("value"),
    )
    return decode_chunks(encode_chunks(tidy, ["series_key"]), ["series_key"])


def _q_als_impute(spark, sf_dir):
    tidy, cfg = _hourly_tidy(spark, sf_dir, N=24, M=10)
    from dataclasses import replace

    als_cfg = replace(cfg, method="als", k=2, als_seed=11)
    fit = fit_transform(tidy, als_cfg)
    # exact-checked at sf0.01 vs fixtures/als_impute_sf001.parquet
    return fit.filter("kind = 'imputed'").select(
        "group_id", "idx", F.round("value", 9).alias("value")
    )


def _q_harmonics_gen(spark, sf_dir):
    """Distributed harmonics generator, exact-checked: the sin/cos factors
    are Python-float literals shared verbatim with the DuckDB oracle, and
    round(6) absorbs JVM-vs-libm last-ulp differences (boundary-flake odds
    ~1e-9/point at a 1e-6 quantum). Masking here is arithmetic
    (bucket_idx % 10 < 7 ≙ p_observe 0.7) so ANSI SQL can express it; the
    hash-based hide_values_df keeps its own pytest coverage."""
    from tslib_spark.datagen.spark_series import harmonics_df

    df = harmonics_df(spark, 20_000, [-2.0, 3.0], [26.0, 30.0], [-2.5], [16.0])
    return df.select(
        "bucket_idx",
        F.when(F.col("bucket_idx") % 10 < 7, F.round("value", 6)).alias("value"),
    )


def _q_minhash_near_dup(spark, sf_dir):
    docs = _par(_read(spark, sf_dir, "documents"))
    return near_dup_minhash(docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.5)


def _q_simhash(spark, sf_dir):
    from tslib_spark.operators.dedup import simhash_agg

    docs = _par(_read(spark, sf_dir, "documents"))
    # agg form is bit-identical to the expression form (pytest-pinned
    # parity) and several times faster — see operators/dedup.simhash_agg
    return simhash_agg(docs.select("doc_id", "text"), "doc_id", "text")


def _q_ivf_topk(spark, sf_dir):
    """IVF (coarse-quantizer) ANN: nearest-centroid cells of a seeded
    k-means quantizer are probed with exact cosine. Deterministic: the
    training sample is vec_id-ordered, so the frozen oracle replicates it
    (fixtures/ivf_topk_sf001.parquet)."""
    from tslib_spark.operators.similarity import ivf_topk, train_ivf_centroids

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cent = train_ivf_centroids(
        emb, "embedding", n_centroids=16, sample=2000, seed=42, order_col="vec_id"
    )
    return ivf_topk(emb, "embedding", "vec_id", [float(x) for x in query], cent, k=10, nprobe=4)


def _q_ann_lsh(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return ann_lsh_topk(emb, "embedding", "vec_id", [float(x) for x in query], k=10)


def _q_ann_methods_topk(spark, sf_dir):
    """Both ANN index strategies in ONE method-tagged contract query.

    The driver's correctness harness records at most 50 verdict rows
    (observed in round 4: 51 registered queries → exactly the first 50 in
    dict order got rows, `ivf_topk` at position 51 silently absent).
    Merging the hyperplane-LSH and IVF top-k queries — same output shape,
    both frozen-fixture-exact — keeps every operator hash-checked while
    holding the registration count at exactly 50 so no query can fall off
    the end again. `tests/test_entry_contract.py` pins the 50-count."""
    from tslib_spark.operators.similarity import ivf_topk, train_ivf_centroids

    emb = _read(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    q = [float(x) for x in query]
    lsh = ann_lsh_topk(emb, "embedding", "vec_id", q, k=10).select(
        F.lit("lsh").alias("method"), "vec_id", "cosine"
    )
    cent = train_ivf_centroids(
        emb, "embedding", n_centroids=16, sample=2000, seed=42, order_col="vec_id"
    )
    ivf = ivf_topk(emb, "embedding", "vec_id", q, cent, k=10, nprobe=4).select(
        F.lit("ivf").alias("method"), "vec_id", "cosine"
    )
    return lsh.unionByName(ivf)


def _q_cosine_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, OR-amplified across 4 hyperplane
    bands with the bucket-size skew guard on. The synthetic embeddings
    have no natural ≥0.9 pairs, so the query plants deterministic
    perturbed twins (vec_id+1000 = 1.01·v + 0.02) for the first 60
    vectors; the frozen oracle (fixtures/cosine_near_dup_sf001.parquet)
    replicates planes, banding, cap, and left-to-right float sums exactly
    (scripts/freeze_oracles.py:freeze_cosine_near_dup)."""
    from tslib_spark.operators.similarity import cosine_near_dup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    pert = base.filter(F.col("vec_id") < 60).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(1.01) + F.lit(0.02)
        ).alias("embedding"),
    )
    docs = base.unionByName(pert)
    return cosine_near_dup_pairs(
        docs, "embedding", "vec_id", dim=64, threshold=0.9,
        n_planes=8, n_bands=4, max_bucket=300,
    )


def _q_media_decode(spark, sf_dir):
    """Multimodal decode as a hash-checked contract query: 30 deterministic
    payloads (P6 PPM images / PCM WAVs / GIF87a-89a images incl.
    interlaced, local-color-table, and offset-frame variants;
    datagen/media.py) flow through make_media_table → byte-budget
    repartition → decode_media (mapInPandas), features exploded to
    scalar rows. The frozen oracle
    (fixtures/media_decode_sf001.parquet) computes the expected
    pooled-luma / amplitude-envelope features with ITS OWN math over the
    same known pixels/samples/palettes — the decoders are never consulted
    (scripts/freeze_oracles.py:freeze_media_decode)."""
    from tslib_spark.datagen.media import synth_media_payloads
    from tslib_spark.operators.multimodal import (
        decode_media, make_media_table, media_repartition,
    )

    pdf = __import__("pandas").DataFrame(
        synth_media_payloads(30), columns=["media_id", "payload"]
    )
    media = make_media_table(
        spark.createDataFrame(pdf), "media_id", "payload", "mixed"
    )
    decoded = decode_media(media_repartition(media, target_bytes=4096))
    return decoded.select(
        "media_id",
        "mime",
        F.coalesce(F.col("width"), F.lit(-1)).cast("long").alias("width"),
        F.coalesce(F.col("height"), F.lit(-1)).cast("long").alias("height"),
        F.coalesce(F.col("duration_ms"), F.lit(-1)).cast("long").alias("duration_ms"),
        F.posexplode("features").alias("fidx", "fval"),
    ).select(
        "media_id", "mime", "width", "height", "duration_ms",
        F.col("fidx").cast("long"), "fval",
    )


def _q_embedding_dup_clusters(spark, sf_dir):
    """Embedding-side fuzzy dedup composed end to end: multiband
    hyperplane-LSH candidates → exact-cosine verify (≥0.9, the same
    perturbed-twin construction as cosine_near_dup) →
    large-star/small-star connected components. The semantic twin of
    near_dup_clusters with cosine instead of Jaccard as the verifier —
    the dedup a pipeline runs when documents are embedded. Oracle: the
    recursive-CTE reachability fixpoint over the frozen (and separately
    hash-verified) cosine pair fixture."""
    from tslib_spark.operators.components import connected_components
    from tslib_spark.operators.similarity import cosine_near_dup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    pert = base.filter(F.col("vec_id") < 60).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(1.01) + F.lit(0.02)
        ).alias("embedding"),
    )
    pairs = cosine_near_dup_pairs(
        base.unionByName(pert), "embedding", "vec_id", dim=64, threshold=0.9,
        n_planes=8, n_bands=4, max_bucket=300,
    )
    return connected_components(pairs.select("id_a", "id_b")).orderBy("id")


def _q_knn_graph(spark, sf_dir):
    """Per-row k-nearest-neighbor graph over the embeddings: 2 OR-amplified
    hyperplane bands generate id-only candidates (bucket-size skew guard
    on), each cosine computed once after vectors rejoin by id, directed
    graph = scored pairs ∪ mirror, per-row top-3 by (cosine desc, id_b).
    The frozen oracle (fixtures/knn_graph_sf001.parquet) replicates
    planes, banding, cap, and left-to-right float sums exactly
    (scripts/freeze_oracles.py:freeze_knn_graph)."""
    from tslib_spark.operators.similarity import pairwise_topk_per_row

    emb = _read(spark, sf_dir, "embeddings")
    return pairwise_topk_per_row(
        emb, "embedding", "vec_id", dim=64, k=3,
        n_planes=6, n_bands=2, max_bucket=300,
    ).select(
        F.col("id_a").cast("long"),
        F.col("id_b").cast("long"),
        "cosine",
        F.col("rank").cast("long"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registration is PINNED at exactly 50 names (the harness records at
    # most 50 verdict rows; tests/test_entry_contract.py enforces the
    # count). If the cap ever rises, promote ivf_topk standalone — it
    # already has a tested operator and an oracle strategy, and is
    # currently method-tagged inside ann_methods_topk (see
    # _q_ann_methods_topk docstring).
    return {
        "rollup_minute": _q_rollup_minute,
        "downsample_hour": _q_downsample_hour,
        "downsample_week": _q_downsample_week,
        "gapfill_middle": _q_gapfill_middle,
        "gapfill_interp": _q_gapfill_interp,
        "densify_grid": _q_densify_grid,
        "normalize": _q_normalize,
        "rmse_vs_hourly_mean": _q_rmse_vs_hourly_mean,
        "rmse_hidden": _q_rmse_hidden,
        "sessionize": _q_sessionize,
        "topk_users": _q_topk_users,
        "tpch_q1ish": _q_tpch_q1ish,
        "pivot_status": _q_pivot_status,
        "panel_pivot": _q_panel_pivot,
        "join_filter_project": _q_join_filter_project,
        "dedup_exact": _q_dedup_exact,
        "token_stats": _q_token_stats,
        "text_quality": _q_text_quality,
        "lang_by_source": _q_lang_by_source,
        "doc_fingerprint": _q_doc_fingerprint,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "asof_join": _q_asof_join,
        "json_props": _q_json_props,
        "token_jaccard": _q_token_jaccard,
        "doc_components": _q_doc_components,
        "near_dup_clusters": _q_near_dup_clusters,
        "repetition_signals": _q_repetition_signals,
        "url_parse": _q_url_parse,
        "substring_dups": _q_substring_dups,
        "contamination": _q_contamination,
        "quality_filter": _q_quality_filter,
        "corpus_prepare": _q_corpus_prepare,
        "corpus_prepare_full": _q_corpus_prepare_full,
        "dedup_canonical": _q_dedup_canonical,
        "pack_sequences": _q_pack_sequences,
        "hash_split": _q_hash_split,
        "stratified_sample": _q_stratified_sample,
        # kernel-backed / engine-divergent, rows-only:
        "gorilla_roundtrip": _q_gorilla_roundtrip,
        "als_impute": _q_als_impute,
        "harmonics_gen": _q_harmonics_gen,
        "svd_impute": _q_svd_impute,
        "svd_forecast": _q_svd_forecast,
        "rsc_weights": _q_rsc_weights,
        "minhash_near_dup": _q_minhash_near_dup,
        "simhash_signatures": _q_simhash,
        "ann_methods_topk": _q_ann_methods_topk,
        "cosine_near_dup": _q_cosine_near_dup,
        "embedding_dup_clusters": _q_embedding_dup_clusters,
        "knn_graph": _q_knn_graph,
        "media_decode": _q_media_decode,
    }


# Jaccard-0.7 pair graph over doc_id<60 → reachability closure (the DuckDB
# recursive-CTE oracle for the large-star/small-star operator): reach(id,
# comp) holds every (node, reachable node) pair; min(comp) per id = the
# component label. Shared by doc_components and dedup_canonical.
_CC_CTE = """
            WITH RECURSIVE d AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
            toks AS (
              SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM d),
            sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
            cand AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
            edges AS (
              SELECT id_a, id_b FROM cand
              JOIN sizes sa ON cand.id_a = sa.doc_id
              JOIN sizes sb ON cand.id_b = sb.doc_id
              WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.7),
            sym AS (SELECT id_a AS s, id_b AS t FROM edges
                    UNION SELECT id_b, id_a FROM edges),
            reach(id, comp) AS (
              SELECT doc_id, doc_id FROM d
              UNION
              SELECT e.t, r.comp FROM reach r JOIN sym e ON e.s = r.id
            )
"""


def oracle_sql() -> dict[str, str]:
    tier = _TIER_STATE
    masked = "SELECT event_id, ts, user_id, event_type, CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value FROM events"
    return {
        "rollup_minute": f"""
            SELECT event_type, date_trunc('minute', ts) AS bucket_ts, {tier}
            FROM events GROUP BY 1, 2
        """,
        "downsample_hour": f"""
            SELECT event_type, date_trunc('hour', ts) AS bucket_ts, {tier}
            FROM events GROUP BY 1, 2
        """,
        "downsample_week": f"""
            SELECT event_type, date_trunc('week', ts) AS bucket_ts, {tier}
            FROM events GROUP BY 1, 2
        """,
        "gapfill_middle": f"""
            WITH m AS ({masked})
            SELECT event_id, event_type,
                   COALESCE(value, (MAX(value) OVER (PARTITION BY event_type)
                                    + MIN(value) OVER (PARTITION BY event_type)) / 2.0) AS value
            FROM m
        """,
        "gapfill_interp": f"""
            WITH m AS ({masked}), b AS (
              SELECT event_id, event_type, value,
                LAST_VALUE(value IGNORE NULLS) OVER
                  (PARTITION BY event_type ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
                LAST_VALUE(CASE WHEN value IS NOT NULL THEN event_id END IGNORE NULLS) OVER
                  (PARTITION BY event_type ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_idx,
                FIRST_VALUE(value IGNORE NULLS) OVER
                  (PARTITION BY event_type ORDER BY event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
                FIRST_VALUE(CASE WHEN value IS NOT NULL THEN event_id END IGNORE NULLS) OVER
                  (PARTITION BY event_type ORDER BY event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_idx
              FROM m)
            SELECT event_id, event_type,
              CASE WHEN value IS NOT NULL THEN value
                   ELSE COALESCE(
                     CASE WHEN prev_idx IS NOT NULL AND next_idx IS NOT NULL AND next_idx <> prev_idx
                          THEN prev_val + (next_val - prev_val) *
                               (CAST(event_id - prev_idx AS DOUBLE) / CAST(next_idx - prev_idx AS DOUBLE))
                     END, prev_val, next_val) END AS value
            FROM b
        """,
        "densify_grid": """
            WITH h AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket_ts, count(*) AS cnt
              FROM events GROUP BY 1, 2),
            spans AS (SELECT event_type, MIN(bucket_ts) AS t0, MAX(bucket_ts) AS t1 FROM h GROUP BY 1),
            grid AS (
              SELECT event_type,
                     unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS bucket_ts
              FROM spans)
            SELECT grid.event_type, grid.bucket_ts, COALESCE(h.cnt, 0) AS cnt
            FROM grid LEFT JOIN h USING (event_type, bucket_ts)
        """,
        "normalize": """
            SELECT event_id, event_type,
              (value - (MAX(value) OVER (PARTITION BY event_type)
                        + MIN(value) OVER (PARTITION BY event_type)) / 2.0)
              / ((MAX(value) OVER (PARTITION BY event_type)
                  - MIN(value) OVER (PARTITION BY event_type)) / 2.0) AS value_norm
            FROM events
        """,
        "rmse_vs_hourly_mean": """
            WITH h AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                     CAST(SUM(CAST(value AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS hmean
              FROM events GROUP BY 1, 2)
            SELECT e.event_type,
                   SQRT(CAST(SUM(CAST((e.value - h.hmean) * (e.value - h.hmean) AS DECIMAL(38,18))) AS DOUBLE)
                        / count(*)) AS rmse
            FROM events e JOIN h ON e.event_type = h.event_type
                 AND date_trunc('hour', e.ts) = h.bucket_ts
            GROUP BY 1
        """,
        "rmse_hidden": """
            WITH m AS (
              SELECT event_id, event_type, value AS truth,
                     CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS obs
              FROM events),
            g AS (
              SELECT event_type, truth, obs,
                     COALESCE(obs, (MAX(obs) OVER (PARTITION BY event_type)
                                    + MIN(obs) OVER (PARTITION BY event_type)) / 2.0) AS mv
              FROM m)
            SELECT event_type,
                   SQRT(CAST(SUM(CASE WHEN obs IS NULL
                         THEN CAST((mv - truth) * (mv - truth) AS DECIMAL(38,18)) END) AS DOUBLE)
                        / COUNT(CASE WHEN obs IS NULL THEN 1 END)) AS rmse_hidden
            FROM g GROUP BY 1
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, ts, event_id,
                CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000 THEN 1 ELSE 0 END AS sess_start
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT user_id,
                SUM(sess_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM g)
            SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM s GROUP BY 1
        """,
        "topk_users": """
            WITH t AS (
              SELECT event_type, user_id,
                     CAST(SUM(CAST(value AS DECIMAL(38,9))) AS DOUBLE) AS total
              FROM events GROUP BY 1, 2),
            r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                       ORDER BY total DESC, user_id) AS rank FROM t)
            SELECT event_type, user_id, total, rank FROM r WHERE rank <= 3
        """,
        "tpch_q1ish": """
            SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(38,9))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,9))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(38,9))
                   * (1 - CAST(l_discount AS DECIMAL(38,9))) AS DECIMAL(38,9))) AS DOUBLE) AS sum_disc_price,
              count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY 1, 2
        """,
        "pivot_status": """
            SELECT o_orderpriority,
              CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(38,9)) END) AS DOUBLE) AS sum_o,
              CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(38,9)) END) AS DOUBLE) AS sum_f,
              CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(38,9)) END) AS DOUBLE) AS sum_p
            FROM orders GROUP BY 1
        """,
        "panel_pivot": """
            SELECT o_orderpriority AS unit, EXTRACT(year FROM o_orderdate) AS year,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(38,9))) AS DOUBLE) / count(*) AS avg_price
            FROM orders GROUP BY 1, 2
        """,
        "join_filter_project": """
            SELECT r.r_name,
              CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,9))) AS DOUBLE) AS revenue,
              count(*) AS n_items
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1
        """,
        "dedup_exact": """
            SELECT MIN(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY text
        """,
        "token_stats": """
            SELECT doc_id,
              CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+'))
              END AS n_tokens,
              length(text) AS n_chars_computed,
              n_chars
            FROM documents
        """,
        "text_quality": """
            SELECT doc_id,
              CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) AS n_tokens_d,
              CAST(length(text) AS DOUBLE)
                / len(regexp_split_to_array(trim(text), '\\s+')) AS mean_tok_len,
              CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the', 'a', 'value', 'table'))) AS DOUBLE)
                / len(regexp_split_to_array(trim(text), '\\s+')) AS stop_ratio
            FROM documents
        """,
        "lang_by_source": """
            SELECT lang, source, count(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM documents GROUP BY 1, 2
        """,
        "doc_fingerprint": """
            SELECT doc_id, md5(text) AS fp FROM documents
        """,
        "ann_cosine_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
            SELECT vec_id
            FROM embeddings, q
            ORDER BY list_cosine_similarity(embedding, q.qv) DESC, vec_id
            LIMIT 10
        """,
        "asof_join": """
            SELECT l.user_id, l.event_id AS l_event,
                   r.event_id AS prev_event, r.value AS prev_value
            FROM events l ASOF LEFT JOIN events r
              ON l.user_id = r.user_id AND l.ts > r.ts
        """,
        "json_props": """
            SELECT event_type,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
                   COUNT(json_extract_string(props, '$.k')) AS k_cnt,
                   CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
            FROM events GROUP BY 1
        """,
        "gorilla_roundtrip": """
            SELECT event_type AS series_key, event_id AS bucket_idx, value
            FROM events
        """,
        # frozen numpy oracles (scripts/freeze_oracles.py) — valid at the
        # driver's sf0.01 gate; both sides pre-round to the 1e-9 quantum
        "svd_impute": """
            SELECT group_id, idx, round(value, 9) AS value
            FROM read_parquet('/root/repo/fixtures/svd_impute_sf001.parquet')
        """,
        "als_impute": """
            SELECT group_id, idx, round(value, 9) AS value
            FROM read_parquet('/root/repo/fixtures/als_impute_sf001.parquet')
        """,
        "svd_forecast": """
            SELECT group_id, idx, round(forecast, 9) AS forecast
            FROM read_parquet('/root/repo/fixtures/svd_forecast_sf001.parquet')
        """,
        "rsc_weights": """
            SELECT group_id, unit, round(weight, 9) AS weight
            FROM read_parquet('/root/repo/fixtures/rsc_weights_sf001.parquet')
        """,
        # integer-exact fixtures (pure xxhash64 pipelines re-implemented in
        # plain Python — tslib_spark/oracle/textdedup.py); no rounding:
        # any bit difference is a real bug
        "minhash_near_dup": """
            SELECT id_a, id_b, jaccard
            FROM read_parquet('/root/repo/fixtures/minhash_near_dup_sf001.parquet')
        """,
        "simhash_signatures": """
            SELECT doc_id, simhash
            FROM read_parquet('/root/repo/fixtures/simhash_signatures_sf001.parquet')
        """,
        "quality_filter": """
            WITH toks AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 t -> len(t) > 0) AS t
              FROM documents),
            ng AS (
              SELECT doc_id, len(t) AS total_tokens,
                     CASE WHEN len(t) >= 2
                          THEN list_transform(generate_series(1, len(t) - 1),
                                              i -> concat_ws(' ', t[i], t[i+1]))
                          ELSE [] END AS grams
              FROM toks),
            hist AS (
              SELECT doc_id, ngram, count(*) AS cnt
              FROM (SELECT doc_id, unnest(grams) AS ngram FROM ng) GROUP BY 1, 2),
            stats AS (
              SELECT doc_id, sum(cnt) AS ngram_total, max(cnt) AS top_cnt,
                     sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
              FROM hist GROUP BY doc_id),
            sig AS (
              SELECT ng.doc_id,
                     CAST(ng.total_tokens AS BIGINT) AS total_tokens,
                     COALESCE(CAST(s.top_cnt AS DOUBLE) / s.ngram_total, 0.0) AS tshare,
                     COALESCE(CAST(s.dup_cnt AS DOUBLE) / s.ngram_total, 0.0) AS dfrac,
                     CAST(len(regexp_replace(tk.text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
                       / greatest(len(tk.text), 1) AS pr,
                     CAST(len(regexp_replace(tk.text, '[^0-9]', '', 'g')) AS DOUBLE)
                       / greatest(len(tk.text), 1) AS dr
              FROM ng LEFT JOIN stats s ON ng.doc_id = s.doc_id
              JOIN toks tk ON tk.doc_id = ng.doc_id),
            flags AS (
              SELECT doc_id, total_tokens,
                     list_filter([
                       CASE WHEN total_tokens < 20 THEN 'too_short' END,
                       CASE WHEN total_tokens > 100000 THEN 'too_long' END,
                       CASE WHEN tshare > 0.20 THEN 'top_ngram_dominant' END,
                       CASE WHEN dfrac > 0.40 THEN 'dup_ngram_heavy' END,
                       CASE WHEN pr > 0.20 THEN 'punct_noise' END,
                       CASE WHEN dr > 0.20 THEN 'digit_noise' END
                     ], x -> x IS NOT NULL) AS fr
              FROM sig)
            SELECT doc_id, total_tokens,
                   len(fr) = 0 AS keep,
                   COALESCE(array_to_string(fr, ','), '') AS reasons
            FROM flags
        """,
        "corpus_prepare": """
            WITH toks AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 t -> len(t) > 0) AS t
              FROM documents),
            -- quality: with this synthetic corpus only the length window
            -- and repetition rules can trip; replicate the FULL rule set
            ng AS (
              SELECT doc_id, len(t) AS total_tokens,
                     CASE WHEN len(t) >= 2
                          THEN list_transform(generate_series(1, len(t) - 1),
                                              i -> concat_ws(' ', t[i], t[i+1]))
                          ELSE [] END AS grams
              FROM toks WHERE doc_id < 450),
            hist AS (
              SELECT doc_id, ngram, count(*) AS cnt
              FROM (SELECT doc_id, unnest(grams) AS ngram FROM ng) GROUP BY 1, 2),
            st AS (
              SELECT doc_id, sum(cnt) AS ngram_total, max(cnt) AS top_cnt,
                     sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
              FROM hist GROUP BY doc_id),
            quality AS (
              SELECT ng.doc_id, ng.total_tokens
              FROM ng
              LEFT JOIN st ON ng.doc_id = st.doc_id
              JOIN toks tk ON tk.doc_id = ng.doc_id
              WHERE ng.total_tokens >= 20 AND ng.total_tokens <= 100000
                AND COALESCE(CAST(st.top_cnt AS DOUBLE) / st.ngram_total, 0.0) <= 0.20
                AND COALESCE(CAST(st.dup_cnt AS DOUBLE) / st.ngram_total, 0.0) <= 0.40
                AND CAST(len(regexp_replace(tk.text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
                      / greatest(len(tk.text), 1) <= 0.20
                AND CAST(len(regexp_replace(tk.text, '[^0-9]', '', 'g')) AS DOUBLE)
                      / greatest(len(tk.text), 1) <= 0.20),
            w8 AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, greatest(len(t) - 7, 0)),
                            i -> array_to_string(t[i:i+7], ' '))) AS gram
              FROM toks),
            ev AS (SELECT DISTINCT gram FROM w8 WHERE doc_id >= 450),
            contaminated AS (
              SELECT DISTINCT w8.doc_id FROM w8 JOIN ev USING (gram)
              WHERE w8.doc_id < 450),
            survivors AS (
              SELECT q.doc_id, q.total_tokens FROM quality q
              WHERE q.doc_id NOT IN (SELECT doc_id FROM contaminated)),
            sp AS (
              SELECT doc_id, split
              FROM read_parquet('/root/repo/fixtures/hash_split_sf001.parquet'))
            SELECT sp.split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(s.total_tokens) AS BIGINT) AS n_tokens
            FROM survivors s JOIN sp ON s.doc_id = sp.doc_id
            GROUP BY sp.split ORDER BY sp.split
        """,
        # corpus_prepare + the fuzzy-dedup stage: the frozen all-docs
        # MinHash pair fixture restricted to quality-kept endpoints
        # (signatures are content-local → subset pairs = full ∩ subset²),
        # reachability CTE seeded with every kept doc (singletons get
        # their own component), canonical = id == min-reachable-id
        "corpus_prepare_full": """
            WITH RECURSIVE toks AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 t -> len(t) > 0) AS t
              FROM documents),
            ng AS (
              SELECT doc_id, len(t) AS total_tokens,
                     CASE WHEN len(t) >= 2
                          THEN list_transform(generate_series(1, len(t) - 1),
                                              i -> concat_ws(' ', t[i], t[i+1]))
                          ELSE [] END AS grams
              FROM toks WHERE doc_id < 450),
            hist AS (
              SELECT doc_id, ngram, count(*) AS cnt
              FROM (SELECT doc_id, unnest(grams) AS ngram FROM ng) GROUP BY 1, 2),
            st AS (
              SELECT doc_id, sum(cnt) AS ngram_total, max(cnt) AS top_cnt,
                     sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
              FROM hist GROUP BY doc_id),
            quality AS (
              SELECT ng.doc_id, ng.total_tokens
              FROM ng
              LEFT JOIN st ON ng.doc_id = st.doc_id
              JOIN toks tk ON tk.doc_id = ng.doc_id
              WHERE ng.total_tokens >= 20 AND ng.total_tokens <= 100000
                AND COALESCE(CAST(st.top_cnt AS DOUBLE) / st.ngram_total, 0.0) <= 0.20
                AND COALESCE(CAST(st.dup_cnt AS DOUBLE) / st.ngram_total, 0.0) <= 0.40
                AND CAST(len(regexp_replace(tk.text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
                      / greatest(len(tk.text), 1) <= 0.20
                AND CAST(len(regexp_replace(tk.text, '[^0-9]', '', 'g')) AS DOUBLE)
                      / greatest(len(tk.text), 1) <= 0.20),
            mh AS (
              SELECT id_a, id_b
              FROM read_parquet('/root/repo/fixtures/minhash_near_dup_sf001.parquet')
              WHERE id_a IN (SELECT doc_id FROM quality)
                AND id_b IN (SELECT doc_id FROM quality)),
            sym AS (
              SELECT id_a AS s, id_b AS t FROM mh
              UNION SELECT id_b, id_a FROM mh),
            reach(id, comp) AS (
              SELECT doc_id, doc_id FROM quality
              UNION
              SELECT e.t, r.comp FROM reach r JOIN sym e ON e.s = r.id),
            labels AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
            sizes AS (SELECT comp, count(*) AS cluster_size FROM labels GROUP BY comp),
            canon AS (
              SELECT l.id AS doc_id, z.cluster_size
              FROM labels l JOIN sizes z USING (comp) WHERE l.id = l.comp),
            w8 AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, greatest(len(t) - 7, 0)),
                            i -> array_to_string(t[i:i+7], ' '))) AS gram
              FROM toks),
            ev AS (SELECT DISTINCT gram FROM w8 WHERE doc_id >= 450),
            contaminated AS (
              SELECT DISTINCT w8.doc_id FROM w8 JOIN ev USING (gram)
              WHERE w8.doc_id < 450),
            survivors AS (
              SELECT q.doc_id, q.total_tokens, c.cluster_size
              FROM quality q JOIN canon c USING (doc_id)
              WHERE q.doc_id NOT IN (SELECT doc_id FROM contaminated)),
            sp AS (
              SELECT doc_id, split
              FROM read_parquet('/root/repo/fixtures/hash_split_sf001.parquet'))
            SELECT sp.split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(s.total_tokens) AS BIGINT) AS n_tokens,
                   CAST(sum(s.cluster_size) AS BIGINT) AS n_represented
            FROM survivors s JOIN sp ON s.doc_id = sp.doc_id
            GROUP BY sp.split ORDER BY sp.split
        """,
        "contamination": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 t -> len(t) > 0) AS t
              FROM documents),
            w AS (
              SELECT doc_id,
                     unnest(generate_series(1, greatest(len(t) - 7, 0))) - 1 AS pos,
                     unnest(list_transform(generate_series(1, greatest(len(t) - 7, 0)),
                            i -> array_to_string(t[i:i+7], ' '))) AS gram
              FROM toks),
            ev AS (SELECT DISTINCT gram FROM w WHERE doc_id >= 450),
            hits AS (
              SELECT w.doc_id, w.pos FROM w JOIN ev USING (gram)
              WHERE w.doc_id < 450)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_hits,
                   CAST(min(pos) AS BIGINT) AS first_pos,
                   CAST(max(pos) AS BIGINT) AS last_pos
            FROM hits GROUP BY doc_id ORDER BY doc_id
        """,
        "substring_dups": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 t -> len(t) > 0) AS t
              FROM documents),
            w AS (
              SELECT doc_id,
                     unnest(generate_series(1, greatest(len(t) - 4, 0))) - 1 AS pos,
                     unnest(list_transform(generate_series(1, greatest(len(t) - 4, 0)),
                            i -> array_to_string(t[i:i+4], ' '))) AS gram
              FROM toks),
            keep AS (
              SELECT gram FROM (
                SELECT gram, count(DISTINCT doc_id) AS nd FROM w GROUP BY 1)
              WHERE nd <= 1000),
            m AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a,
                     a.pos - b.pos AS diag
              FROM w a
              JOIN keep k ON a.gram = k.gram
              JOIN w b ON a.gram = b.gram AND a.doc_id < b.doc_id),
            isl AS (
              SELECT id_a, id_b, diag, pos_a,
                     pos_a - row_number() OVER (
                       PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS g
              FROM m),
            runs AS (
              SELECT id_a, id_b, count(*) AS run_windows
              FROM isl GROUP BY id_a, id_b, diag, g)
            SELECT id_a, id_b,
                   CAST(sum(run_windows) AS BIGINT) AS shared_windows,
                   CAST(max(run_windows) + 4 AS BIGINT) AS max_run_tokens
            FROM runs GROUP BY id_a, id_b
            HAVING max(run_windows) + 4 >= 8
            ORDER BY id_a, id_b
        """,
        "url_parse": f"""
            WITH u AS (
              SELECT doc_id,
                     concat('https://WWW.Site', CAST(doc_id % 7 AS VARCHAR),
                            ({_SUFFIX_LIST_SQL})[doc_id % {len(_URL_SUFFIX_ROTATION)} + 1],
                            '/p/', CAST(doc_id AS VARCHAR),
                            '/view?lang=', lang, '&ref=feed#frag') AS url
              FROM documents),
            h AS (
              SELECT doc_id, url,
                     regexp_replace(
                       lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)),
                       '^www\\.', '') AS host,
                     regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS rawpath
              FROM u),
            d AS (
              SELECT *,
                     {_PSL_LASTN_SQL}
              FROM h),
            s AS (
              SELECT *, ({_PSL_SLEN_SQL}) AS slen,
                     list_value({_PSL_ARR_SQL}) AS lasts
              FROM d)
            SELECT doc_id, url, host,
                   CASE WHEN last2 = '' THEN host ELSE last2 END AS domain,
                   CASE WHEN lasts[slen + 1] IS NULL OR lasts[slen + 1] = ''
                        THEN host ELSE lasts[slen + 1] END AS domain_psl,
                   CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
                   regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
                   concat(host, CASE WHEN rawpath = '' THEN '/' ELSE rawpath END) AS norm
            FROM s
        """,
        "repetition_signals": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 t -> len(t) > 0) AS t
              FROM documents),
            ng AS (
              SELECT doc_id, len(t) AS total_tokens,
                     len(list_distinct(t)) AS distinct_tokens,
                     CASE WHEN len(t) >= 2
                          THEN list_transform(generate_series(1, len(t) - 1),
                                              i -> concat_ws(' ', t[i], t[i+1]))
                          ELSE [] END AS grams
              FROM toks),
            flat AS (
              SELECT doc_id, unnest(grams) AS ngram FROM ng),
            hist AS (
              SELECT doc_id, ngram, count(*) AS cnt FROM flat GROUP BY 1, 2),
            stats AS (
              SELECT doc_id, sum(cnt) AS ngram_total, max(cnt) AS top_cnt,
                     sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_cnt
              FROM hist GROUP BY doc_id)
            SELECT ng.doc_id,
                   CAST(ng.total_tokens AS BIGINT) AS total_tokens,
                   CAST(COALESCE(s.ngram_total, 0) AS BIGINT) AS ngram_total,
                   round(CASE WHEN ng.total_tokens > 0
                         THEN 1.0 - CAST(ng.distinct_tokens AS DOUBLE) / ng.total_tokens
                         ELSE 0.0 END, 9) AS dup_token_frac,
                   round(COALESCE(CAST(s.top_cnt AS DOUBLE) / s.ngram_total, 0.0), 9)
                     AS top_ngram_share,
                   round(COALESCE(CAST(s.dup_cnt AS DOUBLE) / s.ngram_total, 0.0), 9)
                     AS dup_ngram_frac
            FROM ng LEFT JOIN stats s ON ng.doc_id = s.doc_id
        """,
        "near_dup_clusters": """
            WITH RECURSIVE sym AS (
              SELECT id_a AS s, id_b AS t
              FROM read_parquet('/root/repo/fixtures/minhash_near_dup_sf001.parquet')
              UNION
              SELECT id_b, id_a
              FROM read_parquet('/root/repo/fixtures/minhash_near_dup_sf001.parquet')
            ),
            reach(id, comp) AS (
              SELECT DISTINCT s, s FROM sym
              UNION
              SELECT e.t, r.comp FROM reach r JOIN sym e ON e.s = r.id
            )
            SELECT id, min(comp) AS component FROM reach GROUP BY id ORDER BY id
        """,
        # bit-exact float fixture: the JVM's aggregate() sums are strict
        # left-to-right, replicated verbatim in freeze_ann_lsh
        "ann_methods_topk": """
            SELECT 'lsh' AS method, vec_id, cosine
            FROM read_parquet('/root/repo/fixtures/ann_lsh_topk_sf001.parquet')
            UNION ALL
            SELECT 'ivf' AS method, vec_id, cosine
            FROM read_parquet('/root/repo/fixtures/ivf_topk_sf001.parquet')
        """,
        "cosine_near_dup": """
            SELECT id_a, id_b, cosine
            FROM read_parquet('/root/repo/fixtures/cosine_near_dup_sf001.parquet')
        """,
        "knn_graph": """
            SELECT id_a, id_b, cosine, rank
            FROM read_parquet('/root/repo/fixtures/knn_graph_sf001.parquet')
        """,
        "media_decode": """
            SELECT media_id, mime, width, height, duration_ms, fidx, fval
            FROM read_parquet('/root/repo/fixtures/media_decode_sf001.parquet')
        """,
        "embedding_dup_clusters": """
            WITH RECURSIVE sym AS (
              SELECT id_a AS s, id_b AS t
              FROM read_parquet('/root/repo/fixtures/cosine_near_dup_sf001.parquet')
              UNION
              SELECT id_b, id_a
              FROM read_parquet('/root/repo/fixtures/cosine_near_dup_sf001.parquet')
            ),
            reach(id, comp) AS (
              SELECT DISTINCT s, s FROM sym
              UNION
              SELECT e.t, r.comp FROM reach r JOIN sym e ON e.s = r.id
            )
            SELECT id, min(comp) AS component FROM reach GROUP BY id ORDER BY id
        """,
        # factors computed EXACTLY as harmonics_df computes its literals
        # (p * 2.0 * math.pi / T in Python float64), so only sin/cos ulp
        # differs — absorbed by the shared round(6)
        "harmonics_gen": f"""
            SELECT range AS bucket_idx,
              CASE WHEN range % 10 < 7 THEN round(
                0.0 + -2.0 * sin(range * {26.0 * 2.0 * math.pi / 20000.0!r})
                    + 3.0 * sin(range * {30.0 * 2.0 * math.pi / 20000.0!r})
                    + -2.5 * cos(range * {16.0 * 2.0 * math.pi / 20000.0!r}), 6)
              END AS value
            FROM range(0, 20000)
        """,
        "token_jaccard": """
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
            toks AS (
              SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM d),
            sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b,
                   CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
            FROM pairs
            JOIN sizes sa ON pairs.id_a = sa.doc_id
            JOIN sizes sb ON pairs.id_b = sb.doc_id
            WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
        """,
        "doc_components": f"""
            {_CC_CTE}
            SELECT id, min(comp) AS component FROM reach GROUP BY id ORDER BY id
        """,
        "dedup_canonical": f"""
            {_CC_CTE},
            labels AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
            csizes AS (SELECT component, count(*) AS cluster_size
                       FROM labels GROUP BY component)
            SELECT l.id AS doc_id, s.cluster_size, d2.lang, d2.source
            FROM labels l
            JOIN csizes s ON l.component = s.component
            JOIN documents d2 ON d2.doc_id = l.id
            WHERE l.id = l.component
        """,
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
              FROM t)
            SELECT doc_id, n_tokens,
                   CAST(excl // 4096 AS BIGINT) AS bin_id,
                   CAST(excl % 4096 AS BIGINT) AS bin_offset
            FROM c
        """,
        "hash_split": """
            SELECT doc_id, split
            FROM read_parquet('/root/repo/fixtures/hash_split_sf001.parquet')
        """,
        "stratified_sample": """
            SELECT doc_id, lang
            FROM read_parquet('/root/repo/fixtures/stratified_sample_sf001.parquet')
        """,
    }
