"""Catalog over the parquet fixture tables.

Mirrors the reference's catalog browsing surface (SURVEY §2 A16/A32/A33:
``internal/iceberg/catalog/rest.go:40-184``, ``internal/api/services/
source.go:227-384``, ``services/query.go:121-265``) — in Spark this is the
built-in catalog: temp views + ``spark.catalog`` / ``SHOW TABLES`` /
``DESCRIBE``; no REST client needed.

All reads go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown, column pruning and partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The driver-generated star schema + event stream + LLM-pipeline tables.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Pure ``spark.read.parquet`` — scans stay
    pushdown- and pruning-capable.

    TIMEZONE REQUIREMENT: the fixtures hold naive timestamps, and the
    NTZ→LTZ normalization below is value-identical only under a UTC
    session timezone (``spark.sql.session.timeZone=UTC``, which
    :func:`philotes_spark.session.get_spark` pins). Under any other
    session timezone every timestamp would silently shift, so a non-UTC
    session warns loudly here rather than corrupting quietly.

    The analyzed DataFrame is cached ON the session (re-reading parquet
    footers + schema analysis costs 50–115 ms per call, and a query roster
    touches tables dozens of times). The cached object is a lazy plan, not
    data — scans, pushdown, and pruning behave identically; a fresh
    session gets a fresh cache and re-runs the conf setup below."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz = None
    if tz not in (None, "UTC", "Etc/UTC", "GMT"):
        import warnings

        warnings.warn(
            f"load_table requires spark.sql.session.timeZone=UTC for "
            f"value-identical naive-timestamp reads; session has {tz!r} — "
            f"timestamp columns will be shifted",
            stacklevel=2,
        )
    cache = spark.__dict__.setdefault("_philotes_plan_cache", {})
    key = (sf_dir, name)
    cached = cache.get(key)
    if cached is not None:
        return cached
    # Fixture timestamps are naive parquet TIMESTAMP (isAdjustedToUTC=false;
    # some generations use NANOS, some MICROS). Pin both runtime-settable
    # reader confs here rather than at session build time — load_table must
    # work under ANY externally built SparkSession, not just our own session
    # factory:
    # - nanosAsLong: NANOS fixtures otherwise fail to read at all;
    # - inferTimestampNTZ=false: MICROS fixtures otherwise surface as
    #   TIMESTAMP_NTZ, a different type than every operator (and the DuckDB
    #   compare, which runs under the same pinned-UTC convention) was built
    #   against. With the UTC session timezone the LTZ reading is
    #   value-identical to the naive one.
    for conf, val in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
    ):
        try:
            spark.conf.set(conf, val)
        except Exception:
            pass  # conf locked down: fall through, casts below recover
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is TIMESTAMP(NANOS) in older fixture generations — Spark
    # reads it as long (nanosAsLong above); truncate ns→µs exactly like
    # DuckDB does so both engines see identical values.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    # Fallback when the NTZ-inference conf was locked down externally:
    # normalize any remaining TIMESTAMP_NTZ column to TIMESTAMP (UTC
    # session TZ makes the cast value-identical).
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        from pyspark.sql import functions as F

        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    cache[key] = df
    return df


# parquet row-group counts keyed per (path, part-file mtimes): footer
# metadata only (never data), the same footers Spark itself reads during
# planning — NOT result caching. The key carries each part file's own
# (name, mtime) — a directory's mtime need not change when a part is
# rewritten in place, so keying on the top-level mtime alone could serve
# a stale count for directory layouts (ADVICE r16 #2).
_ROW_GROUP_CACHE: dict[tuple, int] = {}


def _table_parquet_parts(path: str) -> list[str]:
    """The parquet part files behind ``path`` — the path itself for a
    single-file table, the sorted ``*.parquet`` members for a directory
    layout."""
    import glob

    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


def _parquet_row_groups(path: str) -> int:
    """Total row groups across ``path`` (a parquet file, or a flat dir of
    ``*.parquet`` parts). Returns a large sentinel on any read problem so
    callers treat unknown layouts as NOT parallelism-starved (the
    scale-safe default: never add an exchange we cannot justify)."""
    try:
        files = _table_parquet_parts(path)
        key = (path, tuple((f, os.path.getmtime(f)) for f in files))
    except OSError:
        return 1 << 30
    cached = _ROW_GROUP_CACHE.get(key)
    if cached is not None:
        return cached
    try:
        import pyarrow.parquet as pq

        total = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    except Exception:
        total = 1 << 30
    _ROW_GROUP_CACHE[key] = total
    return total


def load_table_parallel(
    spark: SparkSession, sf_dir: str, name: str, key: str, min_bytes: int = 0
) -> DataFrame:
    """:func:`load_table` plus a scan-parallelism floor for heavy narrow
    pipelines (optimization guide §2.5 input skew / §6 split sizing).

    Parquet cannot split inside a row group: however small
    ``maxPartitionBytes`` or large ``minPartitionNum``, a file with one
    row group feeds exactly ONE task, and every narrow operator above the
    scan (tokenizers, Arrow folds, per-row decoders) inherits that task
    count. The fixture tables are written as a single row group per SF,
    so at bench scale the whole text/similarity tier ran single-task on a
    32-core session (measured: text_quality_stats sf1 3.67 s single-task
    vs 0.77 s repartitioned).

    When — and only when — the layout under-supplies parallelism
    (row groups < session cores), hash-repartition by the table's unique
    ``key`` to ``defaultParallelism``. Properties that make this
    scale-honest rather than a local-mode hack:

    - at 100 TB any table has thousands of row groups, the guard never
      fires, and the returned plan is the same object ``load_table``
      returns (pinned by ``test_scan_parallel_guard``);
    - the partition count adapts to the session (the driver re-runs the
      bench at lower core counts), not to this host;
    - hashing a unique key is deterministic under retries (guide §2.5's
      objection to ``rand()``-derived keys does not apply) and needs no
      pre-shuffle sort (unlike round-robin ``repartition(n)``);
    - the explicit partition count makes the exchange REPARTITION_BY_NUM,
      which AQE is contractually not allowed to coalesce away.

    Callers must only use this where reassociating per-partition partial
    aggregates cannot change results (per-document outputs, integer
    aggregates) — each converted query re-proves oracle hash equality.

    ``min_bytes`` additionally gates the guard on input size: the
    exchange costs a fixed extra stage (~0.15-0.2 s locally), so for
    call sites whose per-byte work only overtakes that cost above a few
    MB of input, the guard should stay off below the measured crossover
    (text_repetition_stats A/B: +39% at a 0.6 MB input, −13% at
    1.76 MB, −25% at 5.9 MB). 0 (default) means "always worth it" —
    measured per converted call site.
    """
    df = load_table(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    path = os.path.join(sf_dir, f"{name}.parquet")
    if _parquet_row_groups(path) >= n:
        return df
    if min_bytes:
        # sum the part files for directory layouts — os.path.getsize on
        # the directory itself returns the ~4 KB directory entry, which
        # would silently disable the guard for multi-MB multi-part
        # tables (ADVICE r16 #1)
        try:
            if sum(os.path.getsize(f) for f in _table_parquet_parts(path)) < min_bytes:
                return df
        except OSError:
            return df
    from pyspark.sql import functions as F

    return df.repartition(n, F.col(key))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view so the SQL surface
    (SURVEY §2B) works verbatim: ``spark.sql("SELECT ... FROM lineitem")``."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def list_tables(spark: SparkSession) -> list[str]:
    """Catalog browsing (A33) — built-in ``spark.catalog``."""
    return sorted(t.name for t in spark.catalog.listTables())


def show_create_table(spark: SparkSession, sf_dir: str, name: str) -> str:
    """``SHOW CREATE TABLE`` (B1, sample-queries.sql:24): reconstruct the
    DDL from the live schema. Spark's built-in SHOW CREATE TABLE needs a
    persisted catalog table; the fixture tables are path-based parquet, so
    the statement is generated — same text a catalog-backed table yields."""
    df = load_table(spark, sf_dir, name)
    # DDL is rendered in the PG/DuckDB dialect the reference speaks, where
    # TIMESTAMP already means "without time zone" — Spark's TIMESTAMP_NTZ
    # is the same type under a dialect-specific name, so normalize it.
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString().upper().replace('TIMESTAMP_NTZ', 'TIMESTAMP')}"
        for f in df.schema.fields
    )
    return f"CREATE TABLE {name} ({cols}) USING parquet"


def describe_table(spark: SparkSession, name: str) -> DataFrame:
    """``DESCRIBE t`` (B1) — served by Spark SQL natively. The name is
    validated part-by-part before interpolation (names can arrive from an
    external API caller, control.py:121-135)."""
    from philotes_spark.control import validate_identifier

    qualified = ".".join(validate_identifier(p) for p in name.split("."))
    return spark.sql(f"DESCRIBE {qualified}")
