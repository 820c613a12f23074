"""``corpus_queries``: the text and similarity operators, run through the
contract entry point ``__spark_entry__.queries()[name]`` over a seeded
documents + embeddings corpus shaped like the contract test data.

Correctness: every pass collects every query's output and compares it
with its DuckDB oracle (``__spark_entry__.oracle_sql()``) in row count,
columns and checksum. Oracles that read a frozen fixture get that fixture
regenerated for the seeded corpus by the repository's own fixture
generators (``scripts/freeze_oracles.py``). The oracle runs once, before
the first pass, outside every timed section.
"""

from __future__ import annotations

import importlib.util
import os
import re
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry
from tslib_spark.oracle import textdedup
from tslib_spark.oracle.xxh64 import Int32

QUERIES = (
    "corpus_prepare_full",
    "cosine_near_dup",
    "minhash_near_dup",
    "embedding_dup_clusters",
    "knn_graph",
    "doc_components",
    "substring_dups",
    "contamination",
)
# Shape measured on the sf0.1 contract tables (documents.parquet,
# embeddings.parquet): 5,000 documents of 10-99 tokens drawn uniformly from
# a 30-word vocabulary, exactly 5% of them another document's text plus the
# token ``dup``; languages en 41% and zh/es/fr/de about 15% each; 20
# sources in rotation. 2,000 unit float32 Gaussian vectors of dimension 64
# (no near-copies: the nearest-neighbour cosine never exceeds 0.51) with
# labels 0-9 uniform. The queries split train/eval at doc_id 450.
# Half the documents: at 5,000 a run took 63-113 s (the oracle's pure-Python
# minhash fixture alone 11 s), too long for the benchmark's time budget.
# The vectors stop at 1,000: cosine_near_dup and embedding_dup_clusters add
# perturbed twins of vec_id < 60 as vec_id + 1000, which collide with real
# ids 1000-1059 beyond that, and the Spark result and its oracle then
# disagree (seen at 2,000 vectors).
N_DOCS = 2_500
N_VECTORS = 1_000
DIM = 64
DUP_FRAC = 0.05
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]

# fixture name in the oracle SQL -> generator in scripts/freeze_oracles.py
_FIXTURE_GENERATORS = {
    "minhash_near_dup_sf001": ("freeze_minhash", "documents"),
    "hash_split_sf001": ("freeze_hash_split", "documents"),
    "cosine_near_dup_sf001": ("freeze_cosine_near_dup", "embeddings"),
    "knn_graph_sf001": ("freeze_knn_graph", "embeddings"),
}
_FIXTURE_RE = re.compile(r"read_parquet\('[^']*/fixtures/(\w+)\.parquet'\)")


def make_documents(seed: int, n: int = N_DOCS) -> pd.DataFrame:
    """Bag-of-words documents of 10-99 tokens; ``n // 20`` of them, at
    random positions, are a random document's text plus the token
    ``dup`` (the near-duplicates)."""
    rng = np.random.default_rng([seed, 1])
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    dups = rng.choice(n, n // 20, replace=False)
    sources = rng.integers(0, n - 1, len(dups))
    originals = list(texts)
    for i, j in zip(dups, sources):
        texts[i] = originals[j + (j >= i)] + " dup"  # j + (j >= i) skips i itself
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_embeddings(seed: int, n: int = N_VECTORS, dim: int = DIM) -> pa.Table:
    """Unit float32 Gaussian vectors with labels 0-9."""
    rng = np.random.default_rng([seed, 2])
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def canonical(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sorted, row-sorted frame with normalized dtypes, so Spark
    and DuckDB results compare exactly."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            col = pd.to_datetime(col)
            if getattr(col.dt, "tz", None) is not None:
                col = col.dt.tz_localize(None)
            df[c] = col.astype("datetime64[ns]")
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("int64")
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.astype("float64")
        elif col.dtype == object:
            df[c] = col.astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def fingerprint(df: pd.DataFrame) -> tuple:
    """(row count, column names, order-insensitive checksum)."""
    canon = canonical(df)
    chk = int(pd.util.hash_pandas_object(canon, index=False).sum()) if len(canon) else 0
    return len(canon), tuple(canon.columns), chk


class _MemoHash:
    """``spark_xxhash64`` with its results remembered. The minhash
    reference hashes every (shingle, seed) pair of every document, and a
    30-word vocabulary repeats the same word trigrams across documents;
    the hash is a pure function, so remembering it changes no result."""

    def __init__(self, fn):
        self.fn = fn
        self.cache: dict = {}

    def __call__(self, *fields, seed: int = 42) -> int:
        if len(fields) == 2 and type(fields[1]) is Int32 and type(fields[0]) is not Int32:
            # the hot (shingle or band string, seed index) form
            key = (seed, fields[0], fields[1].v)
        else:
            key = (seed, "*", *(("i", f.v) if type(f) is Int32 else f for f in fields))
        out = self.cache.get(key)
        if out is None:
            out = self.cache[key] = self.fn(*fields, seed=seed)
        return out


class CorpusQueries:
    name = "corpus_queries"
    # the measured first pass is cold: a warm-up pass would nearly double
    # the run's cost, and the cold pass is steady to a few percent
    warmup_passes = 0

    def __init__(self, spark, work: str, seed: int, tracer, root: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.root = root
        self.data_dir = os.path.join(work, "corpus")
        self.queries = entry.queries()
        self.expected: dict = {}
        self.counters: dict = {}

    def setup(self) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        make_documents(self.seed).to_parquet(
            os.path.join(self.data_dir, "documents.parquet"), index=False
        )
        pq.write_table(make_embeddings(self.seed), os.path.join(self.data_dir, "embeddings.parquet"))

    def items(self) -> int:
        return N_DOCS + N_VECTORS

    def reference(self) -> None:
        """DuckDB oracle fingerprints, with fixture-backed oracles pointed
        at fixtures rebuilt for this corpus."""
        import duckdb

        t0 = time.perf_counter()
        spec = importlib.util.spec_from_file_location(
            "freeze_oracles", os.path.join(self.root, "scripts", "freeze_oracles.py")
        )
        freeze = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(freeze)

        tables = {
            t: pd.read_parquet(os.path.join(self.data_dir, f"{t}.parquet"))
            for t in ("documents", "embeddings")
        }
        fixture_dir = os.path.join(self.work, "fixtures")
        os.makedirs(fixture_dir, exist_ok=True)
        sqls = {q: entry.oracle_sql()[q] for q in QUERIES}
        plain_hash = textdedup.spark_xxhash64
        textdedup.spark_xxhash64 = _MemoHash(plain_hash)
        try:
            for name in sorted({m for s in sqls.values() for m in _FIXTURE_RE.findall(s)}):
                fn_name, table = _FIXTURE_GENERATORS[name]
                getattr(freeze, fn_name)(tables[table]).to_parquet(
                    os.path.join(fixture_dir, f"{name}.parquet"), index=False
                )
        finally:
            textdedup.spark_xxhash64 = plain_hash
        con = duckdb.connect()
        try:
            for t in tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.data_dir, t)}.parquet'"
                )
            for q, sql in sqls.items():
                sql = _FIXTURE_RE.sub(
                    lambda m: f"read_parquet('{fixture_dir}/{m.group(1)}.parquet')", sql
                )
                self.expected[q] = fingerprint(con.execute(sql).fetchdf())
        finally:
            con.close()
        self.counters["oracle_rows"] = {q: fp[0] for q, fp in self.expected.items()}
        self.counters["oracle_s"] = time.perf_counter() - t0

    def run_pass(self, ops) -> None:
        """All queries once, each collected and checked against its oracle."""
        for q in QUERIES:
            ops.run(
                q,
                lambda fn=self.queries[q]: fn(self.spark, self.data_dir).toPandas(),
                lambda got, q=q: fingerprint(got) == self.expected[q],
            )

    def force_layers(self, ops) -> dict:
        """The queries are not lazy layers of one another: nothing to force."""
        return {}

    def layer_metrics(self, log, pass_groups: set, per_group: dict, forced: dict) -> dict:
        return {f"corpus.{q}_s": self.tracer.total(q) for q in QUERIES}
