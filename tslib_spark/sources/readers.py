"""Source readers with explicit schemas (no inference in prod paths).

The reference's only sources are ``pd.read_csv`` for panel case studies
(testScriptSynthControlSVD.py:29, :106) and HDF5 matrices (superseded by
parquet — SURVEY §2.1). Schema inference is banned here: a silent type
drift at 100 TB is an outage, so every reader takes or declares a schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def read_csv_panel(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Panel CSV (Basque/Prop99-shaped) with an explicit schema."""
    return spark.read.csv(path, header=True, schema=schema, enforceSchema=True)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Crawl pages table (BASELINE.json input_hint schema). With an Iceberg
    catalog configured this becomes ``spark.table(name)``; the parquet path
    keeps the same shape (storage-agnostic per SURVEY §1.3)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)
