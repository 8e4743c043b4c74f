"""Lake writer: CDC batches → partitioned parquet tables with schema
evolution (SURVEY §2A A10/A14/A16-A18).

Reference parity:
- per-table grouping (``internal/iceberg/writer/writer.go:114-123``) →
  one filtered write per target table inside a cached batch;
- table auto-create + schema cache (``writer.go:196-253``) → idempotent
  first-write creates the directory layout; later writes append;
- partition spec ``day(_cdc_timestamp)`` named ``_cdc_date``
  (``internal/iceberg/schema/schema.go:104-135``) → ``partitionBy`` on a
  derived date column;
- parquet encode: SNAPPY, 128 MB row-group targets
  (``internal/iceberg/writer/parquet.go:27,83-84``) → Spark parquet writer
  defaults as set in session.py;
- schema evolution = additive merge (``schema.go:147-174``) → reader-side
  ``mergeSchema=true``; new columns simply appear in later files, exactly
  the additive-union semantics of the reference.

The reference physically writes the row as one JSON `data` column
(parquet.go:46-66); we write genuinely typed columns — strictly more
capable, same surface (SURVEY §1.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from philotes_spark.state import keep, release

PARTITION_COL = "_cdc_date"


def write_cdc_batch(df: DataFrame, table_path: str, mode: str = "append") -> None:
    """Append one CDC batch to a day-partitioned parquet table.

    Partitioning by ``_cdc_date = date(_cdc_timestamp)`` reproduces the
    reference's only partition spec and is what makes B19 time-filter
    partition pruning work at 100 TB."""
    (
        df.withColumn(PARTITION_COL, F.to_date("_cdc_timestamp"))
        .write.mode(mode)
        .partitionBy(PARTITION_COL)
        .parquet(table_path)
    )


def write_batch_per_table(
    df: DataFrame,
    base_path: str,
    schema_col: str = "schema_name",
    table_col: str = "table_name",
) -> list[str]:
    """A10 per-table fan-out: one micro-batch may carry events for many
    source tables; route each to its own lake table.

    The batch is cached once, then filtered per table (SURVEY §7.4 risk 1:
    correct-but-serial loop; each write is itself parallel). Returns the
    list of table paths written."""
    df = keep(df)
    try:
        targets = [
            (r[0], r[1])
            for r in df.select(schema_col, table_col).distinct().collect()
        ]
        paths = []
        for schema, table in sorted(targets):
            path = os.path.join(base_path, f"{schema}.{table}")
            part = df.filter(
                (F.col(schema_col) == schema) & (F.col(table_col) == table)
            ).drop(schema_col, table_col)
            write_cdc_batch(part, path)
            paths.append(path)
        return paths
    finally:
        release(df)


def read_lake_table(spark: SparkSession, table_path: str) -> DataFrame:
    """Read an evolved lake table: ``mergeSchema`` unions all historical
    schemas additively (A12 semantics, built-in)."""
    return spark.read.option("mergeSchema", "true").parquet(table_path)


# --- A7 maintenance: retention cleanup + small-file compaction --------------


def expire_partitions(table_path: str, older_than) -> list[str]:
    """Drop day partitions older than the retention horizon — the lake
    analogue of the buffer's hourly retention delete
    (``internal/cdc/buffer/postgres.go:218-234``; default 7d,
    ``buffer/batch.go:351-382``). Partition pruning by directory: nothing
    is scanned, only `_cdc_date=<d>` dirs older than the cutoff removed.
    Returns the dropped partition names."""
    import datetime as dt
    import shutil

    if isinstance(older_than, dt.datetime):
        older_than = older_than.date()
    dropped = []
    for entry in sorted(os.listdir(table_path)):
        if not entry.startswith(f"{PARTITION_COL}="):
            continue
        day = dt.date.fromisoformat(entry.split("=", 1)[1])
        if day < older_than:
            shutil.rmtree(os.path.join(table_path, entry))
            dropped.append(entry)
    return dropped


def compact_partition(
    spark: SparkSession, table_path: str, partition_value: str, target_files: int = 1
) -> int:
    """Rewrite one day-partition's many micro-batch files into
    ``target_files`` (the OPTIMIZE/rewrite_data_files maintenance job a
    table format would run; here: read → coalesce → atomic directory
    swap). Returns the file count before compaction."""
    import shutil
    import uuid

    part_dir = os.path.join(table_path, f"{PARTITION_COL}={partition_value}")
    before = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
    tmp = part_dir + f".compact-{uuid.uuid4().hex}"
    spark.read.parquet(part_dir).coalesce(target_files).write.parquet(tmp)
    swap = part_dir + f".old-{uuid.uuid4().hex}"
    os.rename(part_dir, swap)
    os.rename(tmp, part_dir)
    shutil.rmtree(swap)
    for extra in ("_SUCCESS",):
        p = os.path.join(part_dir, extra)
        if os.path.exists(p):
            os.remove(p)
    return len(before)
