from tslib_spark.sources.readers import read_csv_panel, read_pages
from tslib_spark.sources.extract import extract_text

__all__ = ["read_csv_panel", "read_pages", "extract_text"]
