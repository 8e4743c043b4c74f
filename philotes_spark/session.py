"""SparkSession factory tuned for both local testing and 100 TB-scale jobs.

Every knob here is chosen for the *cluster* plan first; the one knob sized
by the session's core count is the shuffle partition count.

Scale rationale (SURVEY §4, pyspark guide):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic join-strategy switches replace most hand-tuning at 100 TB.
- ``spark.sql.shuffle.partitions`` — on a real cluster you want O(2-3× total
  cores); AQE coalesces down, so err high. The factory sets
  ``max(cpus, 32)``: the core count, but never fewer than 32.
- Arrow enabled: every pandas_udf / mapInPandas boundary is Arrow-batched.
- UTC session timezone: parquet timestamps are naive; pinning UTC keeps
  results identical to the DuckDB oracle and to any other engine.
- ``spark.sql.codegen.cache.maxEntries`` = 4096: a session answers the
  same query shapes again and again, and Spark's default cache of 100
  compiled classes is far below the engine's working set (the 24-query
  ``lake_queries`` roster compiles ~340 distinct classes, the 188-query
  registry ~2 030 at sf0.01), so a warm session recompiled almost every
  class on each pass: 350 compilations in one warmed ``lake_queries``
  pass with the default, 0 with 4096.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "philotes_spark",
    master: str | None = None,
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    On a real cluster, pass ``master=None`` and let spark-submit supply the
    master; the AQE/pushdown settings below are scale-safe as-is.
    """
    cpus = cpus or DEFAULT_CPUS
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: the 100 TB workhorse ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(max(cpus, 32)))
        # 128 MB input splits: matches the reference's parquet row-group
        # target (internal/iceberg/writer/parquet.go:84) and keeps one task
        # per row group at scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- correctness / comparability ---
        .config("spark.sql.session.timeZone", "UTC")
        # fixture events.parquet carries TIMESTAMP(NANOS) which Spark has
        # no native type for; read as long and convert in the catalog
        # (sources/catalog.py) — same µs truncation DuckDB applies.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # standard TIMESTAMP_MICROS instead of legacy INT96: INT96 writes
        # NO parquet min/max statistics, which silently disables both
        # row-group skipping and the snapshot manifests' ts footer stats
        # (file-level scan planning on time predicates — a first-order
        # scan-cost lever on any time-series table at 100 TB). INT96 is
        # deprecated in the parquet spec; every modern reader (DuckDB,
        # Trino, Iceberg) expects MICROS.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # --- python boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- scheduling latency ---
        # No data locality exists for this engine's storage (local files in
        # one JVM here; S3/object storage on a cluster, where every task is
        # equally "remote") — waiting up to 3 s per locality level for a
        # better-placed executor only adds scheduler latency. 0 dispatches
        # tasks to the first free slot.
        .config("spark.locality.wait", "0s")
        # --- compiled-code reuse ---
        # One per-JVM cache of compiled classes (Spark reads the size when
        # the JVM first compiles). 4096 is ~2x the registry's working set
        # (~2 030 classes at sf0.01; the lake_queries roster ~340). Cost:
        # +5.6 MB metaspace (203.1 -> 208.7 MB) and +1 085 loaded classes
        # after two registry passes. Never 0: that turns the cache off.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # --- local-mode niceties (harmless on a cluster) ---
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
