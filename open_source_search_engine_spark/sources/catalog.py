"""Table catalog: the synthetic webtext table, read from its parquet
directory (the local stand-in for the reference's Rdb file set,
SURVEY.md §1.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .webtext import webtext_path


def load_webtext(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    """The input_hint-shaped table (url, warc_ts, html, text, lang)."""
    return spark.read.parquet(webtext_path(n_docs, seed))
