"""The scan-parallelism guard (catalog.load_table_parallel, r16).

Parquet cannot split inside a row group, so a table whose files carry
fewer row groups than the session has cores starves every narrow
operator above the scan down to that task count. The guard
hash-repartitions by the table's unique key to defaultParallelism —
but ONLY when the layout under-supplies parallelism. These tests pin
both sides of that contract:

- starved layout (fixture tables: one row group per file) → plan gains
  exactly one REPARTITION_BY_NUM exchange sized to the session;
- well-supplied layout (row groups >= cores — the 100 TB case) → the
  returned plan is load_table's own object, byte-identical, no exchange;
- results are row-identical either way (the correctness contract every
  converted query additionally re-proves against the DuckDB oracle).
"""

from __future__ import annotations

import os

import pytest

from philotes_spark.sources import catalog
from philotes_spark.plans.audit import count_data_shuffles, count_shuffles


def test_guard_fires_on_single_row_group_fixture(spark, sf_dir):
    """The driver fixtures are one row group per file → the guard must
    repartition to defaultParallelism with an explicit (AQE-proof)
    partition count."""
    df = catalog.load_table_parallel(spark, sf_dir, "documents", "doc_id")
    plan = df._jdf.queryExecution().toString()
    assert "REPARTITION_BY_NUM" in plan
    assert count_shuffles(df) == 1
    # the guard's exchange is excluded from the data-shape audit count
    assert count_data_shuffles(df) == 0
    # partition count follows the session, not a constant
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_guard_inert_when_row_groups_cover_cores(spark, tmp_path):
    """A layout with >= cores row groups (the at-scale case) must come
    back as load_table's own plan — no exchange, same object."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = spark.sparkContext.defaultParallelism
    rows = 4 * n
    tbl = pa.table(
        {
            "doc_id": pa.array(range(rows), type=pa.int64()),
            "text": pa.array([f"doc {i}" for i in range(rows)]),
        }
    )
    sf = tmp_path / "sf_many_groups"
    sf.mkdir()
    # row_group_size=4 → rows/4 >= cores row groups in one file
    pq.write_table(tbl, str(sf / "documents.parquet"), row_group_size=4)
    plain = catalog.load_table(spark, str(sf), "documents")
    guarded = catalog.load_table_parallel(spark, str(sf), "documents", "doc_id")
    assert guarded is plain  # the exact load_table plan, not a copy
    assert count_shuffles(guarded) == 0


def test_guard_unknown_layout_defaults_to_no_exchange(spark, tmp_path):
    """A missing/unreadable file must be treated as NOT starved (the
    scale-safe default: never add an exchange we cannot justify).
    load_table itself will fail later on a truly missing table — the
    guard's row-group probe must not be the thing that breaks."""
    assert catalog._parquet_row_groups(str(tmp_path / "nope.parquet")) >= 1 << 30


def test_guard_results_row_identical(spark, sf_dir):
    """Same rows either way (order-insensitive): the guard only moves
    rows between partitions."""
    plain = catalog.load_table(spark, sf_dir, "documents")
    guarded = catalog.load_table_parallel(spark, sf_dir, "documents", "doc_id")
    a = sorted(map(tuple, plain.select("doc_id", "text").collect()))
    b = sorted(map(tuple, guarded.select("doc_id", "text").collect()))
    assert a == b


def test_explicit_repartition_counts_as_data_shuffle(spark, sf_dir):
    """r17 (ADVICE r16 #3 / VERDICT #6): count_data_shuffles excludes
    ONLY an exchange shaped like the guard's — a query-level
    ``repartition(n)`` (round-robin) or a repartition on a different
    count is a data shuffle and must trip the bound, so the
    zero-shuffle audits still catch an accidental corpus-sized shuffle
    added deeper in a plan."""
    n = spark.sparkContext.defaultParallelism
    base = catalog.load_table(spark, sf_dir, "documents")
    # round-robin repartition: REPARTITION_BY_NUM, but no guard signature
    assert count_data_shuffles(base.repartition(n)) == 1
    # keyed repartition at a non-guard count: also counts
    assert count_data_shuffles(base.repartition(n + 7, base.doc_id)) == 1
    # the guard's own exchange still excluded; stacking a user
    # repartition on top counts exactly the user's
    guarded = catalog.load_table_parallel(spark, sf_dir, "documents", "doc_id")
    assert count_data_shuffles(guarded) == 0
    assert count_data_shuffles(guarded.repartition(n)) == 1


def test_guard_shaped_repartition_over_aggregate_counts(spark, sf_dir):
    """The guard's exchange is recognised by its place in the plan, not
    by a process-wide record of (key, count) signatures: the same key
    and count repartitioning an aggregate or a join is a data shuffle,
    even after the guard has fired on that key in this session."""
    n = spark.sparkContext.defaultParallelism
    guarded = catalog.load_table_parallel(spark, sf_dir, "documents", "doc_id")
    assert count_data_shuffles(guarded) == 0
    docs = catalog.load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("doc_id").count()
    # the aggregate's own exchange plus the query-level repartition
    assert count_shuffles(agg) == 1
    assert count_data_shuffles(agg.repartition(n, "doc_id")) == 2
    joined = docs.select("doc_id", "lang").join(
        docs.select("doc_id", "source").hint("shuffle_hash"), "doc_id"
    )
    shuffles = count_data_shuffles(joined)
    assert count_data_shuffles(joined.repartition(n, "doc_id")) == shuffles + 1


def test_min_bytes_gate_sums_directory_parts(spark, tmp_path):
    """r17 (ADVICE r16 #1): for a directory-of-parts layout the
    min_bytes gate must compare the SUM of the part sizes, not the
    ~4 KB directory entry — a multi-MB multi-part table must still get
    the repartition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path / "sf_dirparts"
    tdir = sf / "documents.parquet"
    tdir.mkdir(parents=True)
    # two single-row-group parts, ~100 KB of text each
    for i in range(2):
        tbl = pa.table(
            {
                "doc_id": pa.array(range(i * 50, i * 50 + 50), type=pa.int64()),
                "text": pa.array(["x" * 2000] * 50),
            }
        )
        pq.write_table(tbl, str(tdir / f"part-{i}.parquet"))
    parts_bytes = sum(
        os.path.getsize(str(tdir / f)) for f in os.listdir(str(tdir))
    )
    assert os.path.getsize(str(tdir)) < parts_bytes  # the ADVICE premise
    # min_bytes between the dir-entry size and the parts total: the old
    # getsize(dir) gate would refuse; the summed gate must fire
    df = catalog.load_table_parallel(
        spark, str(sf), "documents", "doc_id", min_bytes=parts_bytes // 2
    )
    assert "REPARTITION_BY_NUM" in df._jdf.queryExecution().toString()


def test_row_group_cache_keys_on_part_mtime(tmp_path):
    """r17 (ADVICE r16 #2): rewriting a PART file inside a directory
    layout must invalidate the row-group cache even when the directory
    mtime is unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tdir = tmp_path / "t.parquet"
    tdir.mkdir()
    p = str(tdir / "part-0.parquet")
    t1 = pa.table({"x": pa.array(range(8), type=pa.int64())})
    pq.write_table(t1, p, row_group_size=8)
    dstat = os.stat(str(tdir))
    assert catalog._parquet_row_groups(str(tdir)) == 1
    pq.write_table(t1, p, row_group_size=2)
    os.utime(p, (os.path.getmtime(p) + 2, os.path.getmtime(p) + 2))
    # pin the directory mtime back so only the part's mtime moved
    os.utime(str(tdir), (dstat.st_atime, dstat.st_mtime))
    assert catalog._parquet_row_groups(str(tdir)) == 4


def test_row_group_cache_keys_on_mtime(tmp_path):
    """The footer-count cache invalidates itself when the file changes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "t.parquet")
    t1 = pa.table({"x": pa.array(range(8), type=pa.int64())})
    pq.write_table(t1, p, row_group_size=8)
    assert catalog._parquet_row_groups(p) == 1
    pq.write_table(t1, p, row_group_size=2)
    os.utime(p, (os.path.getmtime(p) + 2, os.path.getmtime(p) + 2))
    assert catalog._parquet_row_groups(p) == 4
