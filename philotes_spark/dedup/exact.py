"""Exact deduplication (SURVEY §2C): hash-groupBy survivors.

At 100 TB this is the cheapest dedup tier: hash the content column (so the
shuffle key is 32 bytes, not the document), groupBy the hash with map-side
combine, keep the smallest id as the canonical survivor. One shuffle whose
width is the number of *distinct* hashes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def content_hash(col: Column) -> Column:
    """md5 of the raw content — stable across engines and runs."""
    return F.md5(col)


def dedup_exact(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """One survivor row per distinct content value:
    (hash, survivor id = min(id), n_copies)."""
    return (
        df.groupBy(content_hash(F.col(content_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
