"""Time-travel + metadata-table + expiry tests for the snapshot layer
(B5/B6/A7/A17 parity, sample-queries.sql:47-61 surface).
"""

import os

import pytest

from philotes_spark.sources.snapshots import CommitConflict, SnapshotTable


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "t"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "v")


def test_append_and_time_travel(spark, table):
    v1 = table.commit(_df(spark, 0, 10))
    v2 = table.commit(_df(spark, 10, 15))
    assert (v1, v2) == (1, 2)
    assert table.read().count() == 15  # latest
    assert table.read(version=1).count() == 10  # VERSION AS OF 1
    assert table.read(version=2).count() == 15


def test_timestamp_as_of(spark, table):
    table.commit(_df(spark, 0, 10))
    t1 = table.snapshots().collect()[0].timestamp_ms
    table.commit(_df(spark, 10, 15))
    assert table.read(as_of_ms=t1).count() == 10
    with pytest.raises(ValueError, match="no snapshot at or before"):
        table.read(as_of_ms=t1 - 10_000)


def test_overwrite_replaces_history_forward(spark, table):
    table.commit(_df(spark, 0, 10))
    table.commit(_df(spark, 100, 103), operation="overwrite")
    assert table.read().count() == 3
    assert table.read(version=1).count() == 10  # history intact


def test_snapshots_metadata_table(spark, table):
    table.commit(_df(spark, 0, 10))
    table.commit(_df(spark, 10, 15))
    snaps = table.snapshots().orderBy("version").collect()
    assert [s.version for s in snaps] == [1, 2]
    assert snaps[0].parent == 0 and snaps[1].parent == 1
    assert snaps[1].added_rows == 5 and snaps[1].total_files > snaps[1].added_files - 1
    files = table.files().collect()
    assert all(f.size_bytes > 0 for f in files)


def test_commit_conflict_detected(spark, table, monkeypatch):
    table.commit(_df(spark, 0, 10))
    table.commit(_df(spark, 10, 15))
    # a writer with a stale view of the log (thinks parent is v1) must
    # fail its commit of v2 instead of silently forking history
    monkeypatch.setattr(table, "current_version", lambda: 1)
    with pytest.raises(CommitConflict):
        table.commit(_df(spark, 50, 60))


def test_expire_snapshots_removes_unreferenced_files(spark, table):
    table.commit(_df(spark, 0, 10))
    table.commit(_df(spark, 100, 103), operation="overwrite")
    deleted = table.expire_snapshots(keep_last=1)
    assert deleted > 0  # v1's files are unreferenced by the overwrite
    assert table.read().count() == 3  # latest still readable
    with pytest.raises(ValueError, match="unknown version"):
        table.read(version=1)


def test_expiring_versions_dry_run_matches_expiry(spark, table):
    """r12: expiring_versions is the side-effect-free half of
    expire_snapshots — the statement surface pre-checks published refs
    against it BEFORE deleting anything, so the two must agree exactly.
    Tag-pinned versions are retained by both."""
    table.commit(_df(spark, 0, 10))
    table.commit(_df(spark, 10, 15))
    table.commit(_df(spark, 20, 23), operation="overwrite")
    table.tag("audit", version=2)
    # dry run: v1 is doomed, v2 is tag-pinned, v3 is the kept head
    assert table.expiring_versions(keep_last=1) == [1]
    assert table.current_version() == 3  # nothing was touched
    table.read(version=1)  # still readable — truly a dry run
    table.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="unknown version"):
        table.read(version=1)
    table.read(version=2)  # the tag-pinned version survived
    assert table.expiring_versions(keep_last=1) == []  # idempotent


def test_empty_table_read_raises(spark, table):
    with pytest.raises(FileNotFoundError):
        table.read()


def test_partitioned_commit_and_partitions_metadata(spark, table):
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        F.col("id").alias("v"), (F.col("id") % 4).alias("bucket")
    )
    table.commit(df, partition_by=["bucket"])
    # partition columns survive the snapshot read (basePath discovery)
    got = table.read()
    assert set(got.columns) == {"v", "bucket"}
    assert got.count() == 100
    assert got.filter(F.col("bucket") == 2).count() == 25
    # $partitions: one row per hive partition, with file counts + sizes
    parts = {r.partition: r for r in table.partitions().collect()}
    assert set(parts) == {f"bucket={i}" for i in range(4)}
    assert all(r.file_count >= 1 and r.size_bytes > 0 for r in parts.values())


def test_properties_carry_and_merge(spark, table):
    table.commit(_df(spark, 0, 5), properties={"owner": "cdc", "fmt": "parquet"})
    table.commit(_df(spark, 5, 9), properties={"fmt": "parquet-v2"})
    props = {r.key: r.value for r in table.properties().collect()}
    assert props == {"owner": "cdc", "fmt": "parquet-v2"}  # merged forward
    v1 = {r.key: r.value for r in table.properties(version=1).collect()}
    assert v1["fmt"] == "parquet"  # versioned like the data


def test_commit_conflict_leaves_no_tmp(spark, table, tmp_path):
    import os

    table.commit(_df(spark, 0, 10))
    monkey_parent = table.current_version() - 1  # stale writer view
    orig = table.current_version
    table.current_version = lambda: monkey_parent
    try:
        with pytest.raises(CommitConflict):
            table.commit(_df(spark, 50, 60))
    finally:
        table.current_version = orig
    leftovers = [f for f in os.listdir(table.snap_dir) if ".tmp-" in f]
    assert leftovers == []


def test_metadata_summary_table(spark, table):
    from pyspark.sql import functions as F

    df = spark.range(0, 40).select(
        F.col("id").alias("v"), (F.col("id") % 2).alias("bucket")
    )
    table.commit(df, partition_by=["bucket"], properties={"owner": "cdc"})
    m = table.metadata().collect()[0]
    assert m.version == 1 and m.operation == "append"
    assert m.total_files >= 2 and m.total_bytes > 0
    assert m.partition_spec == "bucket"
    assert m.n_properties == 1


def test_append_inherits_partition_spec(spark, table):
    from pyspark.sql import functions as F

    def df(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("v"), (F.col("id") % 2).alias("bucket")
        )

    table.commit(df(0, 20), partition_by=["bucket"])
    table.commit(df(20, 30))  # plain append: must inherit hive layout
    got = table.read()
    assert got.count() == 30
    assert got.filter(F.col("bucket") == 1).count() == 15  # readable union
    # conflicting EXPLICIT spec on append is rejected (silently honoring it
    # would fork the layout without recording an evolution); changing the
    # layout is evolve_partition_spec / ALTER ... ADD PARTITION FIELD
    with pytest.raises(ValueError, match="conflicts with the table's default"):
        table.commit(df(30, 40), partition_by=["v"])
    table.commit(df(0, 6), operation="overwrite")  # back to unpartitioned
    assert table.read().count() == 6
    assert table.partitions().collect()[0].partition == "<unpartitioned>"


def test_clustered_commit_prunes_files(spark, table):
    """r06 sort_by: a clustered commit range-partitions + sorts the
    write, so per-file [min, max] ranges are disjoint and a range
    predicate skips most files; the same data committed unclustered
    (hash repartition) spreads every value range across every file and
    prunes nothing. Also: appends inherit the parent's sort order, and
    the manifest records it."""
    import random

    from philotes_spark.sources.snapshots import SnapshotTable

    rng = random.Random(7)
    rows = [(rng.randrange(10_000),) for _ in range(4_000)]
    df = spark.createDataFrame(rows, "v long").repartition(8)

    table.commit(df, sort_by=["v"])
    m = table._resolve()
    assert m["sort_by"] == ["v"] and m["stats_cols"] == ["v"]
    total = len(m["files"])
    assert total >= 4
    kept, tot = table.pruned_file_count("v", lo=100, hi=600)
    assert tot == total
    assert kept <= max(1, total // 4), (
        f"clustered table must prune a narrow range: kept {kept}/{tot}"
    )
    # correctness under pruning: read_where returns exactly the rows
    want = sorted(v for (v,) in rows if 100 <= v <= 600)
    got = sorted(
        r.v for r in table.read_where("v", lo=100, hi=600)
        .filter("v >= 100 AND v <= 600").collect()
    )
    assert got == want

    # the unclustered twin: same data, no sort → nothing prunes
    flat = SnapshotTable(spark, table.path + "_flat")
    flat.commit(df, stats_cols=["v"])
    kept_flat, tot_flat = flat.pruned_file_count("v", lo=100, hi=600)
    assert kept_flat == tot_flat, "hash-partitioned files all overlap the range"

    # appends inherit the clustering + stats cols
    table.commit(
        spark.createDataFrame([(50_000 + i,) for i in range(100)], "v long")
        .repartition(2)
    )
    m2 = table._resolve()
    assert m2["sort_by"] == ["v"]
    kept2, tot2 = table.pruned_file_count("v", lo=50_000, hi=60_000)
    assert tot2 > total and kept2 <= tot2 - total, (
        "the old files must prune away for the new key range"
    )


def test_expire_partitioned_and_orphaned_staged_dirs(spark, table):
    """r06 regression: expiry on a hive-partitioned table must walk the
    nested key=value layout (the one-level listing crashed with
    IsADirectoryError and missed nested dead files), and a staged dir
    orphaned by a lost commit race must be swept too
    (remove_orphan_files semantics)."""
    import os
    import uuid

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "k long, p string"
    ).coalesce(1)
    table.commit(df, partition_by=["p"])
    table.commit(
        spark.createDataFrame([(9, "z")], "k long, p string").coalesce(1),
        operation="overwrite",
        partition_by=["p"],
    )
    # fake a conflicted commit: data staged, no manifest references it
    orphan_dir = os.path.join(table.data_dir, uuid.uuid4().hex)
    spark.createDataFrame([(7, "q")], "k long, p string").coalesce(1).write.partitionBy(
        "p"
    ).parquet(orphan_dir)
    assert os.path.isdir(orphan_dir)

    deleted = table.expire_snapshots(keep_last=1)
    assert deleted >= 3  # v1's two partitions + the orphaned staged file
    assert not os.path.isdir(orphan_dir), "orphaned staged dir must be swept"
    assert sorted(map(tuple, table.read().collect())) == [(9, "z")]


def test_clustering_survives_merge_and_compact(spark, table):
    """r06: sort-order-aware rewrites — a merge's rewritten files and a
    sort-compaction's output regain disjoint value ranges, so the table
    keeps pruning after maintenance instead of degrading rewrite by
    rewrite. The manifest keeps carrying sort_by through both."""
    import random

    rng = random.Random(11)
    rows = [(i, rng.randrange(1000)) for i in range(4000)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(8)
    table.commit(df, sort_by=["k"])

    # upsert a narrow key band: only files overlapping it rewrite
    table.merge(
        spark.createDataFrame(
            [(k, 9999) for k in range(100, 140)], "k long, v long"
        ),
        key_cols=["k"],
    )
    m = table._resolve()
    assert m["operation"] == "merge" and m["sort_by"] == ["k"]
    kept, tot = table.pruned_file_count("k", lo=3000, hi=3500)
    assert kept <= max(1, tot // 3), f"post-merge pruning degraded: {kept}/{tot}"
    got = {r.k: r.v for r in table.read().filter("k >= 100 AND k < 140").collect()}
    assert got == {k: 9999 for k in range(100, 140)}

    # compaction re-sorts the rewritten small files
    v = table.compact(small_file_bytes=1 << 30)  # everything is "small"
    assert v is not None
    m2 = table._resolve()
    assert m2["operation"] == "compact" and m2["sort_by"] == ["k"]
    kept2, tot2 = table.pruned_file_count("k", lo=3000, hi=3500)
    assert kept2 <= max(1, tot2 // 2), (
        f"post-compact pruning degraded: {kept2}/{tot2}"
    )
    assert table.read().count() == 4000


def test_incremental_read_appends(spark, table):
    table.commit(_df(spark, 0, 10))
    table.commit(_df(spark, 10, 15))
    table.commit(_df(spark, 15, 22))
    inc = table.read_incremental(from_version=1)
    rows = {(r.v, r.commit_version) for r in inc.collect()}
    assert rows == {(v, 2) for v in range(10, 15)} | {
        (v, 3) for v in range(15, 22)
    }
    # bounded upper end
    assert table.read_incremental(1, to_version=2).count() == 5
    # empty range yields an empty frame with the tagged schema
    empty = table.read_incremental(3, to_version=3)
    assert empty.count() == 0 and "commit_version" in empty.columns


def test_incremental_read_skips_compact_refuses_merge(spark, table):
    import pyspark.sql.functions as F

    table.commit(_df(spark, 0, 10).repartition(4), stats_cols=["v"])
    table.compact(small_file_bytes=1 << 30)  # v2: rewrite, no row change
    table.commit(_df(spark, 10, 12))  # v3
    inc = table.read_incremental(from_version=1)
    assert {(r.v, r.commit_version) for r in inc.collect()} == {
        (10, 3),
        (11, 3),
    }
    table.merge(
        _df(spark, 0, 1).withColumn("v", F.col("v") + 100), key_cols=["v"]
    )  # v4
    with pytest.raises(ValueError, match="crosses a 'merge' commit"):
        table.read_incremental(from_version=1)
    # a range that stops before the merge still works
    assert table.read_incremental(1, to_version=3).count() == 2


def test_incremental_read_skips_rewrite_late_appends(spark, table):
    """rewrite-late-appends is row-preserving (like compact): an
    incremental range crossing it emits only genuinely appended rows,
    with the file baseline reset to the rewritten files."""
    import pyspark.sql.functions as F

    table.commit(_df(spark, 0, 10))  # v1
    table.merge(  # v2: pending eq delta deleting v=3
        spark.createDataFrame([(3, True)], "v long, _del boolean"),
        key_cols=["v"],
        delete_col="_del",
        mode="mor",
    )
    table.commit(_df(spark, 3, 4))  # v3: late append re-introducing key 3
    assert table.rewrite_late_appends() is not None  # v4
    table.commit(_df(spark, 20, 22))  # v5
    # the range CROSSES the rewrite: v3's append emits (file-diff
    # contract), v4 resets the baseline instead of refusing or
    # re-emitting its rewritten rows, v5 diffs against the new files
    inc = table.read_incremental(from_version=2)
    assert {(r.v, r.commit_version) for r in inc.collect()} == {
        (3, 3),
        (20, 5),
        (21, 5),
    }
    # a range crossing the merge-mor commit itself still refuses
    with pytest.raises(ValueError, match="crosses a 'merge-mor'"):
        table.read_incremental(from_version=1)


def test_incremental_read_partitioned_and_validation(spark, table):
    from pyspark.sql import functions as F

    def df(lo, hi):
        return _df(spark, lo, hi).withColumn(
            "bucket", (F.col("v") % 2).cast("string")
        )

    table.commit(df(0, 6), partition_by=["bucket"])
    table.commit(df(6, 10))
    inc = table.read_incremental(from_version=1)
    # hive path inference types the partition col (numeric here) — same
    # behavior as read(); compare value-wise
    got = {(r.v, str(r.bucket), r.commit_version) for r in inc.collect()}
    assert got == {(v, str(v % 2), 2) for v in range(6, 10)}
    with pytest.raises(ValueError, match="bad incremental range"):
        table.read_incremental(0, to_version=9)


def test_read_changes_append_only_is_all_inserts(spark, table):
    table.commit(_df(spark, 0, 10))
    table.commit(_df(spark, 10, 13))
    ch = table.read_changes(1)
    got = {(r.v, r.change_type) for r in ch.collect()}
    assert got == {(v, "insert") for v in range(10, 13)}


def test_read_changes_keyed_diff_classifies(spark, table):
    from pyspark.sql import functions as F

    table.commit(
        _df(spark, 0, 10).withColumn("val", F.col("v") * 10), stats_cols=["v"]
    )
    changes = spark.createDataFrame(
        [(3, 999, False), (20, 200, False), (5, 50, False), (7, 70, True)],
        "v long, val long, _del boolean",
    )
    table.merge(changes, key_cols=["v"], delete_col="_del")
    with pytest.raises(ValueError, match="key_cols is required"):
        table.read_changes(1)
    ch = table.read_changes(1, key_cols=["v"])
    got = {(r.v, r.val, r.change_type) for r in ch.collect()}
    # v=5 upserted with an UNCHANGED payload -> not a change at all
    assert got == {(3, 999, "update"), (20, 200, "insert"), (7, 70, "delete")}


# --- merge-on-read deltas (Iceberg v2 equality deletes) ----------------------


def _mor_changes(spark, rows):
    return spark.createDataFrame(rows, "v long, val long, _del boolean")


def test_mor_merge_no_base_rewrite_and_stacking(spark, table):
    from pyspark.sql import functions as F

    table.commit(_df(spark, 0, 10).withColumn("val", F.col("v") * 10))
    base_files = table._resolve()["files"]
    table.merge(
        _mor_changes(spark, [(3, 999, False), (7, 0, True)]),
        key_cols=["v"],
        delete_col="_del",
        mode="mor",
    )
    m = table._resolve()
    assert m["files"] == base_files, "MoR must not rewrite base files"
    assert m["operation"] == "merge-mor" and len(m["deltas"]) == 1
    got = {r.v: r.val for r in table.read().collect()}
    assert got[3] == 999 and 7 not in got and len(got) == 9
    # second delta stacks; later delta wins on the same key
    table.merge(
        _mor_changes(spark, [(3, 111, False), (20, 200, False)]),
        key_cols=["v"],
        delete_col="_del",
        mode="mor",
    )
    got = {r.v: r.val for r in table.read().collect()}
    assert got[3] == 111 and got[20] == 200 and len(got) == 10
    # time travel still sees the pre-delta version
    assert {r.v for r in table.read(version=1).collect()} == set(range(10))


def test_mor_append_inherits_deltas_and_cow_refused(spark, table):
    from pyspark.sql import functions as F

    table.commit(_df(spark, 0, 6).withColumn("val", F.col("v")))
    table.merge(
        _mor_changes(spark, [(2, 0, True)]),
        key_cols=["v"], delete_col="_del", mode="mor",
    )
    table.commit(_df(spark, 10, 12).withColumn("val", F.col("v")))
    got = {r.v for r in table.read().collect()}
    assert got == {0, 1, 3, 4, 5, 10, 11}, "append must not resurrect key 2"
    with pytest.raises(ValueError, match="pending MoR deltas"):
        table.merge(
            _mor_changes(spark, [(1, 5, False)]),
            key_cols=["v"], delete_col="_del",
        )


def test_compact_deltas_materializes_and_clears(spark, table):
    from pyspark.sql import functions as F

    table.commit(
        _df(spark, 0, 50).withColumn("val", F.col("v")), stats_cols=["v"]
    )
    table.merge(
        _mor_changes(spark, [(5, 500, False), (6, 0, True)]),
        key_cols=["v"], delete_col="_del", mode="mor",
    )
    before = {r.v: r.val for r in table.read().collect()}
    v = table.compact_deltas()
    m = table._resolve()
    assert v == 3 and m["deltas"] == [] and m["operation"] == "compact-deltas"
    assert {r.v: r.val for r in table.read().collect()} == before
    assert table.compact_deltas() is None  # idempotent: nothing pending
    # incremental range across compact-deltas contributes nothing
    assert table.read_incremental(2, to_version=3).count() == 0
    # a CoW merge works again after compaction
    table.merge(
        _mor_changes(spark, [(1, 100, False)]),
        key_cols=["v"], delete_col="_del",
    )
    assert {r.v: r.val for r in table.read().collect()}[1] == 100


def test_mor_read_where_applies_deltas_and_expire_keeps_them(spark, table):
    from pyspark.sql import functions as F

    table.commit(
        _df(spark, 0, 100).withColumn("val", F.col("v")).repartition(4),
        stats_cols=["v"],
        sort_by=["v"],
    )
    table.merge(
        _mor_changes(spark, [(10, 1000, False), (11, 0, True)]),
        key_cols=["v"], delete_col="_del", mode="mor",
    )
    got = {
        r.v: r.val
        for r in table.read_where("v", lo=5, hi=20)
        .filter("v >= 5 AND v <= 20").collect()
    }
    assert got[10] == 1000 and 11 not in got and len(got) == 15
    # expiry must treat delta files as live references; the only
    # collectable files are empty staged parts the delta writer dropped
    # from its manifest (r08: empty part files never enter deltas)
    import pyarrow.parquet as pq

    live_before = {
        f
        for d in table._resolve().get("deltas", [])
        for f in d.get("key_files", []) + d.get("upsert_files", [])
    }
    deleted = table.expire_snapshots(keep_last=1)
    got2 = {r.v: r.val for r in table.read().collect()}
    assert got2[10] == 1000 and 11 not in got2 and len(got2) == 99
    # every referenced delta file survived the expiry
    assert all(
        pq.ParquetFile(f).metadata.num_rows >= 0 for f in live_before
    )  # readable = still on disk


def test_plain_compact_carries_deltas(spark, table):
    """Small-file compaction rewrites base BYTES only — pending equality
    deletes must survive it (dropping them would resurrect deleted
    rows)."""
    from pyspark.sql import functions as F

    table.commit(
        _df(spark, 0, 20).withColumn("val", F.col("v")).repartition(4)
    )
    table.merge(
        _mor_changes(spark, [(3, 0, True), (4, 400, False)]),
        key_cols=["v"], delete_col="_del", mode="mor",
    )
    assert table.compact(small_file_bytes=1 << 30) == 3
    m = table._resolve()
    assert len(m["deltas"]) == 1, "compact must carry pending deltas"
    got = {r.v: r.val for r in table.read().collect()}
    assert 3 not in got and got[4] == 400 and len(got) == 19


def test_mor_upsert_with_evolved_schema(spark, table):
    """A MoR upsert may carry columns the base lacks (additive evolution
    A12): the delta union must surface the new column with nulls for
    base rows, same read semantics as evolved appends."""
    from pyspark.sql import functions as F

    table.commit(_df(spark, 0, 5).withColumn("val", F.col("v")))
    changes = spark.createDataFrame(
        [(1, 100, "eu", False)], "v long, val long, region string, _del boolean"
    )
    table.merge(changes, key_cols=["v"], delete_col="_del", mode="mor")
    got = {r.v: (r.val, r.region) for r in table.read().collect()}
    assert got[1] == (100, "eu")
    assert got[0] == (0, None) and len(got) == 5


# --- named refs (tags) + rollback --------------------------------------------


def test_tags_pin_versions_and_survive_expiry(spark, table):
    table.commit(_df(spark, 0, 10))
    table.commit(_df(spark, 10, 15))
    table.tag("audit-v1", version=1)
    table.commit(_df(spark, 15, 18))
    assert table.read(tag="audit-v1").count() == 10
    refs = {r.name: r.version for r in table.tags().collect()}
    assert refs == {"audit-v1": 1}
    with pytest.raises(ValueError, match="already exists"):
        table.tag("audit-v1", version=2)
    # expiry keeps the tagged version AND its files
    table.expire_snapshots(keep_last=1)
    assert table.read(tag="audit-v1").count() == 10
    with pytest.raises(ValueError, match="unknown version"):
        table.read(version=2)  # untagged mid version expired
    table.delete_tag("audit-v1")
    assert table.tags().count() == 0


def test_rollback_is_metadata_only_and_keeps_history(spark, table):
    from pyspark.sql import functions as F

    table.commit(_df(spark, 0, 10).withColumn("val", F.col("v")))
    table.merge(
        _mor_changes(spark, [(3, 999, False), (4, 0, True)]),
        key_cols=["v"], delete_col="_del", mode="mor",
    )
    bad = {r.v: r.val for r in table.read().collect()}
    assert bad[3] == 999 and 4 not in bad
    v3 = table.rollback(to_version=1)
    assert v3 == 3 and table._resolve()["operation"] == "rollback"
    good = {r.v: r.val for r in table.read().collect()}
    assert good == {v: v for v in range(10)}, "rollback restores v1 content"
    # the rolled-back-over version stays time-travelable
    assert {r.v: r.val for r in table.read(version=2).collect()} == bad
    # incremental refuses to file-diff across a rollback (replace commit)
    with pytest.raises(ValueError, match="crosses a 'rollback'"):
        table.read_incremental(2)


# --- branches + write-audit-publish ------------------------------------------


def test_write_audit_publish_flow(spark, table):
    from pyspark.sql import functions as F

    table.commit(_df(spark, 0, 10).withColumn("val", F.col("v")))
    main_v = table.current_version()
    # WRITE: stage a batch on an audit branch — main must not move
    br = table.create_branch("audit")
    br.commit(_df(spark, 10, 15).withColumn("val", F.col("v")))
    br.merge(
        _mor_changes(spark, [(3, 333, False)]),
        key_cols=["v"], delete_col="_del", mode="mor",
    )
    assert table.current_version() == main_v, "branch writes leave main alone"
    assert {r.v for r in table.read().collect()} == set(range(10))
    # AUDIT: validate on the branch
    audited = {r.v: r.val for r in br.read().collect()}
    assert audited[3] == 333 and set(audited) == set(range(15))
    # PUBLISH: fast-forward main to the branch head (metadata-only)
    v = table.fast_forward("audit")
    assert v == main_v + 1
    assert table._resolve()["operation"] == "fast-forward"
    assert {r.v: r.val for r in table.read().collect()} == audited
    # pre-publish main history intact
    assert {r.v for r in table.read(version=main_v).collect()} == set(range(10))
    assert table.list_branches() == ["audit"]
    with pytest.raises(ValueError, match="already exists"):
        table.create_branch("audit")


def test_branch_files_survive_main_expiry_and_drop_frees_them(spark, table):
    table.commit(_df(spark, 0, 5))
    br = table.create_branch("wip")
    br.commit(_df(spark, 5, 9))  # branch-exclusive files in shared data dir
    table.commit(_df(spark, 100, 103), operation="overwrite")
    deleted = table.expire_snapshots(keep_last=1)
    # v1's files: still referenced by the branch fork — must survive
    assert br.read().count() == 9, "branch must survive main expiry"
    assert deleted == 0
    with pytest.raises(ValueError, match="call it on the main table"):
        br.expire_snapshots()
    table.drop_branch("wip")
    assert table.list_branches() == []
    deleted = table.expire_snapshots(keep_last=1)
    assert deleted > 0, "dropped branch's exclusive files become orphans"
    assert table.read().count() == 3


def test_mor_on_partitioned_table(spark, table):
    """MoR deltas over a hive-partitioned base: the partitioned read
    resolves layout first, then the delta anti-join/union applies —
    partition columns ride in the upsert files as regular columns."""
    from pyspark.sql import functions as F

    df = spark.range(0, 20).select(
        F.col("id").alias("v"), (F.col("id") % 2).cast("string").alias("bucket")
    )
    table.commit(df, partition_by=["bucket"])
    changes = spark.createDataFrame(
        [(3, "1", False), (4, "0", True), (50, "0", False)],
        "v long, bucket string, _del boolean",
    )
    table.merge(changes, key_cols=["v"], delete_col="_del", mode="mor")
    got = {r.v: str(r.bucket) for r in table.read().collect()}
    assert 4 not in got and got[50] == "0" and got[3] == "1"
    assert len(got) == 20  # 20 - 1 del + 1 insert
    table.compact_deltas()
    got2 = {r.v: str(r.bucket) for r in table.read().collect()}
    assert got2 == got
    assert table._resolve()["partition_by"] == ["bucket"]


def test_racing_mor_merge_loses_conflict(spark, table, monkeypatch):
    """Two MoR writers racing the same parent: the loser's manifest link
    fails with CommitConflict (same optimistic-concurrency guarantee as
    append commits), and the table stays consistent."""
    table.commit(_df(spark, 0, 10))
    table.merge(
        _mor_changes(spark, [(1, 11, False)]),
        key_cols=["v"], delete_col="_del", mode="mor",
    )
    # stale writer: thinks the parent is still v1
    real_load = table._load
    monkeypatch.setattr(
        table, "current_version", lambda: 1
    )
    monkeypatch.setattr(
        table, "_load", lambda name: real_load("v00000001.json")
        if name == "v00000001.json" else real_load(name)
    )
    with pytest.raises(CommitConflict):
        table.merge(
            _mor_changes(spark, [(2, 22, False)]),
            key_cols=["v"], delete_col="_del", mode="mor",
        )
    monkeypatch.undo()
    assert table.metadata().collect()[0].n_pending_deltas == 1
    got = {r.v for r in table.read().collect()}
    assert got == set(range(10))


def test_zorder_commit_prunes_on_both_dimensions(spark, table):
    """Z-order clustering: a 2-D z-ordered commit prunes files for a
    narrow range on EITHER column; the lexicographically-sorted twin
    prunes only on its leading column. Value-verified under pruning."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(13)
    rows = [(rng.randrange(10_000), rng.randrange(10_000)) for _ in range(8_000)]
    df = spark.createDataFrame(rows, "a long, b long").repartition(16)

    table.commit(df, zorder_by=["a", "b"])
    m = table._resolve()
    assert m["zorder_by"] == ["a", "b"]
    assert set(m["stats_cols"]) == {"a", "b"}
    total = len(m["files"])
    assert total >= 8
    kept_a, _ = table.pruned_file_count("a", lo=100, hi=900)
    kept_b, _ = table.pruned_file_count("b", lo=100, hi=900)
    assert kept_a <= total // 2, f"z-order must prune dim a: {kept_a}/{total}"
    assert kept_b <= total // 2, f"z-order must prune dim b: {kept_b}/{total}"

    # the lexicographic twin: same data sorted by (a, b) — only a prunes
    lex = SnapshotTable(spark, table.path + "_lex")
    lex.commit(df, sort_by=["a", "b"], stats_cols=["a", "b"])
    lk_a, lt = lex.pruned_file_count("a", lo=100, hi=900)
    lk_b, _ = lex.pruned_file_count("b", lo=100, hi=900)
    assert lk_a <= lt // 2
    assert lk_b > lt // 2, "lexicographic sort cannot prune the trailing dim"

    # correctness under pruned reads, both dimensions
    want_a = sorted((a, b) for a, b in rows if 100 <= a <= 900)
    got_a = sorted(
        (r.a, r.b)
        for r in table.read_where("a", lo=100, hi=900)
        .filter("a >= 100 AND a <= 900").collect()
    )
    assert got_a == want_a
    want_b = sorted((a, b) for a, b in rows if 100 <= b <= 900)
    got_b = sorted(
        (r.a, r.b)
        for r in table.read_where("b", lo=100, hi=900)
        .filter("b >= 100 AND b <= 900").collect()
    )
    assert got_b == want_b


def test_zorder_survives_merge_append_and_delta_compaction(spark, table):
    """The z-order marker and clustering persist through append (inherit
    + re-cluster), CoW merge, MoR delta compaction — pruning on the
    trailing dimension must still work after all three."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(29)
    rows = [(i, rng.randrange(10_000), rng.randrange(10_000)) for i in range(6_000)]
    df = spark.createDataFrame(rows, "k long, a long, b long").repartition(12)
    table.commit(df, zorder_by=["a", "b"])

    # append inherits + clusters its own files
    more = [(10_000 + i, rng.randrange(10_000), rng.randrange(10_000)) for i in range(3_000)]
    table.commit(spark.createDataFrame(more, "k long, a long, b long").repartition(6))
    assert table._resolve()["zorder_by"] == ["a", "b"]

    # CoW merge keeps the marker and re-clusters rewritten files
    table.merge(
        spark.createDataFrame([(1, 5, 5, False)], "k long, a long, b long, _del boolean"),
        key_cols=["k"], delete_col="_del",
    )
    assert table._resolve()["zorder_by"] == ["a", "b"]

    # MoR + compaction keep it too
    table.merge(
        spark.createDataFrame([(2, 7, 7, False)], "k long, a long, b long, _del boolean"),
        key_cols=["k"], delete_col="_del", mode="mor",
    )
    table.compact_deltas()
    m = table._resolve()
    assert m["zorder_by"] == ["a", "b"] and m["deltas"] == []

    b20 = spark.createDataFrame(rows + more, "k long, a long, b long").approxQuantile("b", [0.2], 0.001)[0]
    kept_b, total = table.pruned_file_count("b", lo=None, hi=b20)
    assert kept_b < total, f"trailing-dim pruning lost: {kept_b}/{total}"


# --- dynamic partition overwrite ---------------------------------------------


def _part_df(spark, rows):
    from pyspark.sql import Row

    return spark.createDataFrame([Row(day=d, v=v) for d, v in rows])


def test_overwrite_partitions_replaces_only_touched(spark, table):
    table.commit(
        _part_df(spark, [("d1", 1), ("d1", 2), ("d2", 10), ("d3", 100)]),
        partition_by=["day"],
    )
    v = table.overwrite_partitions(_part_df(spark, [("d2", 99), ("d2", 98)]))
    got = sorted((r.day, r.v) for r in table.read().collect())
    assert got == [("d1", 1), ("d1", 2), ("d2", 98), ("d2", 99), ("d3", 100)]
    # time travel still sees the pre-overwrite d2
    old = sorted((r.day, r.v) for r in table.read(version=v - 1).collect())
    assert ("d2", 10) in old and ("d2", 99) not in old
    # history records the operation
    ops = {r.version: r.operation for r in table.snapshots().collect()}
    assert ops[v] == "overwrite-partitions"


def test_overwrite_partitions_new_partition_is_an_insert(spark, table):
    table.commit(_part_df(spark, [("d1", 1)]), partition_by=["day"])
    table.overwrite_partitions(_part_df(spark, [("d9", 9)]))
    got = sorted((r.day, r.v) for r in table.read().collect())
    assert got == [("d1", 1), ("d9", 9)]


def test_overwrite_partitions_requires_partitioned_table(spark, table):
    table.commit(_df(spark, 0, 5))
    with pytest.raises(ValueError, match="partitioned"):
        table.overwrite_partitions(_part_df(spark, [("d1", 1)]))


def test_overwrite_partitions_refuses_pending_deltas(spark, table):
    from pyspark.sql import Row

    table.commit(
        _part_df(spark, [("d1", 1), ("d2", 10)]), partition_by=["day"]
    )
    table.merge(
        spark.createDataFrame([Row(day="d2", v=11)]), key_cols=["day"], mode="mor"
    )
    with pytest.raises(ValueError, match="deltas"):
        table.overwrite_partitions(_part_df(spark, [("d2", 42)]))
    table.compact_deltas()
    table.overwrite_partitions(_part_df(spark, [("d2", 42)]))
    got = sorted((r.day, r.v) for r in table.read().collect())
    assert got == [("d1", 1), ("d2", 42)]


# --- row-level DELETE / UPDATE -----------------------------------------------


def test_delete_where_removes_matching_rows(spark, table):
    table.commit(_df(spark, 0, 100), stats_cols=["v"])
    v = table.delete_where("v % 10 = 3", key_cols=["v"])
    got = sorted(r.v for r in table.read().collect())
    assert got == [x for x in range(100) if x % 10 != 3]
    # time travel still sees the deleted rows
    assert len(table.read(version=v - 1).collect()) == 100


def test_update_where_rewrites_matching_rows(spark, table):
    from pyspark.sql import Row

    table.commit(
        spark.createDataFrame([Row(k=i, val=float(i)) for i in range(20)]),
        stats_cols=["k"],
    )
    table.update_where("k >= 15", {"val": "val * 100"}, key_cols=["k"])
    got = {r.k: r.val for r in table.read().collect()}
    assert got[14] == 14.0 and got[15] == 1500.0 and got[19] == 1900.0
    assert len(got) == 20


def test_delete_where_mor_is_metadata_sized(spark, table):
    table.commit(_df(spark, 0, 50))
    before = set(table._resolve()["files"])
    table.delete_where("v < 5", key_cols=["v"], mode="mor")
    m = table._resolve()
    assert set(m["files"]) == before, "MoR delete must not rewrite base files"
    assert m["deltas"], "delete must land as a pending delta"
    got = sorted(r.v for r in table.read().collect())
    assert got == list(range(5, 50))


def test_schema_history_journal(spark, tmp_path):
    """t$schema_history (VERDICT r06 #6): schema_version bumps exactly
    when a version's visible column list changes — added column, then a
    no-change append, then a type-stable rename-free evolution."""
    from pyspark.sql import Row

    from philotes_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([Row(k=1, v="a")]))
    t.commit(
        spark.createDataFrame([Row(k=2, v="b", extra=2.5)])
    )  # additive evolution
    t.commit(spark.createDataFrame([Row(k=3, v="c", extra=3.5)]))  # no change
    hist = {r.version: r for r in t.schema_history().collect()}
    assert [hist[v].schema_version for v in (1, 2, 3)] == [0, 1, 1]
    assert hist[1].n_columns == 2 and hist[2].n_columns == 3
    assert hist[2].columns.endswith("extra double")
    assert hist[1].captured_at_ms <= hist[3].captured_at_ms


def test_delete_files_metadata_table(spark, tmp_path):
    """`t$delete_files` (Iceberg parity): pending positional + equality
    delete files with sequence numbers and key columns; empty after
    compaction."""
    from philotes_spark import sql_frontend
    from philotes_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "delf"))
    t.commit(spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v"))
    t.delete_where_positional("k = 1")  # seq 2
    t.merge(  # seq 3: equality delta
        spark.createDataFrame([(2, 0, True)], "k long, v long, _d boolean"),
        key_cols=["k"],
        delete_col="_d",
        mode="mor",
    )
    rows = {r.delete_type: r for r in t.delete_files().collect()}
    assert rows["position"].content == 1
    assert rows["position"].sequence_number == 2
    assert rows["position"].n_rows == 1
    assert rows["equality"].content == 2
    assert rows["equality"].sequence_number == 3
    assert rows["equality"].equality_columns == "k"
    # the $-syntax serves it as SQL text
    got = sql_frontend.sql(
        spark,
        "SELECT delete_type, COUNT(*) AS n FROM delf$delete_files "
        "GROUP BY delete_type ORDER BY delete_type",
        {"delf": t},
    ).collect()
    assert [(r.delete_type, r.n) for r in got] == [("equality", 1), ("position", 1)]
    t.compact_deltas()
    assert t.delete_files().count() == 0


def test_fast_forward_refuses_diverged_main(spark, tmp_path):
    """r15: publishing a branch onto a main that advanced past the fork
    would silently drop main's newer rows — refused with cherrypick
    named; cherrypick then keeps BOTH sides."""
    from philotes_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
    wip = t.create_branch("wip")
    wip.commit(spark.createDataFrame([(2, "b")], "k long, v string"))
    t.commit(spark.createDataFrame([(3, "c")], "k long, v string"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cherrypick"):
        t.fast_forward("wip")
    v = t.cherrypick("wip")
    assert v == t.current_version()
    m = t._load(f"v{v:08d}.json")
    assert m["operation"] == "cherry-pick"
    got = sorted((r.k, r.v) for r in t.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # already applied: a second cherrypick refuses, not double-applies
    with _pytest.raises(ValueError, match="already"):
        t.cherrypick("wip")
    # un-diverged fast_forward still works
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
    w2 = t2.create_branch("w")
    w2.commit(spark.createDataFrame([(2, "b")], "k long, v string"))
    t2.fast_forward("w")
    assert sorted(r.k for r in t2.read().collect()) == [1, 2]


def test_cherrypick_refuses_non_append_branches(spark, tmp_path):
    """Only pure appends cherry-pick (Iceberg's rule): a branch that
    rewrote fork-point files, stacked MoR deltas, or evolved schema/
    spec refuses with the reason named."""
    import pytest as _pytest

    from philotes_spark.sources.snapshots import SnapshotTable

    def fresh(name):
        t = SnapshotTable(spark, str(tmp_path / name))
        t.commit(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "k long, v string"
            ),
            stats_cols=["k"],
        )
        return t

    # rewrote fork-point data (CoW delete)
    t = fresh("rw")
    b = t.create_branch("wip")
    b.delete_where("k = 1", key_cols=["k"])
    t.commit(spark.createDataFrame([(9, "z")], "k long, v string"))
    with _pytest.raises(ValueError, match="removed/rewrote"):
        t.cherrypick("wip")
    # MoR deltas beyond the fork
    t = fresh("mor")
    b = t.create_branch("wip")
    b.delete_where("k = 1", key_cols=["k"], mode="mor")
    t.commit(spark.createDataFrame([(9, "z")], "k long, v string"))
    with _pytest.raises(ValueError, match="MoR deltas"):
        t.cherrypick("wip")
    # schema evolution beyond the fork
    t = fresh("sch")
    b = t.create_branch("wip")
    b.alter_rename_column("v", "val")
    t.commit(spark.createDataFrame([(9, "z")], "k long, v string"))
    with _pytest.raises(ValueError, match="schema evolution"):
        t.cherrypick("wip")
    # nothing staged: no-op, current version returned
    t = fresh("noop")
    t.create_branch("wip")
    t.commit(spark.createDataFrame([(9, "z")], "k long, v string"))
    assert t.cherrypick("wip") == t.current_version()


def test_entries_metadata_matches_avro_manifest_entries(spark, tmp_path):
    """r15 parity pin: the engine's $entries view and the PUBLISHED Avro
    manifest chain are two renderings of one truth — per version, the
    raw manifest entries (decoded through the engine's own OCF reader,
    which the cleanroom decoder suite already cross-checks) must carry
    the same file set, the same ADDED/EXISTING/DELETED statuses, and
    the same adding-snapshot provenance as the metadata table."""
    from philotes_spark.sources.iceberg_manifest import (
        read_manifest_list,
        read_ocf,
        write_manifests_for_version,
    )
    from philotes_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(i, f"a{i}") for i in range(20)], "k long, v string"
        ).coalesce(1),
        stats_cols=["k"],
    )
    t.commit(
        spark.createDataFrame(
            [(i, f"b{i}") for i in range(100, 120)], "k long, v string"
        ).coalesce(1)
    )
    t.delete_where("k = 5", key_cols=["k"])  # CoW: rewrites file 1 only

    for v in range(1, t.current_version() + 1):
        ml = write_manifests_for_version(t, v)
        avro = {}
        for mf in read_manifest_list(ml):
            _, _, entries = read_ocf(mf["manifest_path"])
            for e in entries:
                if e["data_file"]["content"] != 0:
                    continue  # delete files live in $delete_files
                avro[e["data_file"]["file_path"]] = (
                    e["status"],
                    e["snapshot_id"],
                )
        eng = {
            r.file_path: (r.status, r.snapshot_id)
            for r in t.entries(version=v).collect()
        }
        # same files, same status, same adding-snapshot attribution
        assert eng == avro, f"v{v}: {eng} != {avro}"


def test_remove_orphan_files_older_than_guard(spark, tmp_path):
    """r15: the orphan sweep's concurrency guard — an unreferenced file
    modified after the cutoff is LEFT ALONE (it may be another writer's
    staged-but-uncommitted data; deleting it would fail that commit),
    while genuinely old orphans still go. Iceberg's older_than."""
    import os as _os
    import time as _time

    from philotes_spark.sources.snapshots import SnapshotTable
    from philotes_spark.sql_frontend import sql as sql_stmt

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a")], "k long, v string"))
    # a "staged by an in-flight commit" orphan: fresh mtime
    fresh_dir = _os.path.join(t.data_dir, "inflight0000")
    _os.makedirs(fresh_dir)
    fresh = _os.path.join(fresh_dir, "part-00000.parquet")
    with open(fresh, "wb") as fh:
        fh.write(b"PAR1stub")
    # a genuinely dead orphan: mtime an hour in the past
    dead_dir = _os.path.join(t.data_dir, "deadbeef0000")
    _os.makedirs(dead_dir)
    dead = _os.path.join(dead_dir, "part-00000.parquet")
    with open(dead, "wb") as fh:
        fh.write(b"PAR1stub")
    old = _time.time() - 3600
    _os.utime(dead, (old, old))

    cutoff_ms = int((_time.time() - 600) * 1000)
    out = sql_stmt(
        spark,
        f"CALL remove_orphan_files(table => 't', older_than => {cutoff_ms})",
        {"t": t},
    ).collect()
    assert out[0].deleted_files == 1
    assert _os.path.exists(fresh), "in-flight-aged orphan must survive"
    assert not _os.path.exists(dead)
    assert t.read().count() == 1  # referenced data untouched
    # no cutoff: single-writer behavior, everything unreferenced goes
    assert t.remove_orphan_files() == 1
    assert not _os.path.exists(fresh)


# --- the manifest carry-forward contract -------------------------------------

_CARRIED = (
    "partition_by", "properties", "file_stats", "stats_cols",
    "sort_by", "zorder_by", "deltas", "schema_ops",
)


def _carried(m: dict) -> dict:
    return {k: m.get(k) for k in _CARRIED}


def _contract_table(spark, path) -> SnapshotTable:
    t = SnapshotTable(spark, path)
    t.commit(
        spark.createDataFrame(
            [(i, i % 3, f"s{i}", i) for i in range(12)],
            "k long, g long, x string, n int",
        ).coalesce(2),
        stats_cols=["k"],
        sort_by=["k"],
        properties={"owner": "etl"},
    )
    return t


def test_metadata_commits_carry_every_field_they_do_not_own(spark, tmp_path):
    """Every metadata-only commit carries each manifest field from the
    manifest it builds on — the parent, or for rollback/branch/
    fast-forward the manifest it adopts — except the fields that
    operation owns."""
    t = _contract_table(spark, str(tmp_path / "t"))
    ops = [
        ("set_properties", lambda: t.set_properties({"a": "1"}), {"properties"}),
        ("alter_add", lambda: t.alter_add_columns([("c2", "string")]),
         {"schema_ops"}),
        ("alter_rename", lambda: t.alter_rename_column("x", "x2"),
         {"schema_ops"}),
        ("alter_widen", lambda: t.alter_widen_column("n", "bigint"),
         {"schema_ops"}),
        ("alter_drop", lambda: t.alter_drop_column("c2"), {"schema_ops"}),
        ("evolve_partition_spec", lambda: t.evolve_partition_spec(["g"]),
         {"partition_by"}),
        ("set_write_order", lambda: t.set_write_order(sort_by=["n"]),
         {"sort_by", "stats_cols"}),
        ("delete_where_positional",
         lambda: t.delete_where_positional("k = 1"), {"deltas"}),
        ("rewrite_manifests", lambda: t.rewrite_manifests(), set()),
    ]
    for name, run, owned in ops:
        parent = t._resolve()
        run()
        m = t._resolve()
        assert m["version"] == parent["version"] + 1, name
        for k in _CARRIED:
            if k not in owned:
                assert m.get(k) == parent.get(k), (name, k)
        for k in owned:
            assert m.get(k) != parent.get(k), (name, k)
    assert "provenance" in t._resolve()

    # rollback adopts the target version's fields, not the parent's
    target = t._resolve(version=t.current_version() - 2)
    t.rollback(to_version=target["version"])
    assert _carried(t._resolve()) == _carried(target)

    # a branch adopts its fork point's fields plus its fork marker
    src = t._resolve()
    br = t.create_branch("audit")
    head = br._resolve()
    assert head["properties"] == {
        **src["properties"], "branch.forked_from": str(src["version"])
    }
    assert {**_carried(head), "properties": None} == {
        **_carried(src), "properties": None
    }

    # fast-forward adopts the branch head's fields minus the marker
    t.fast_forward("audit")
    assert _carried(t._resolve()) == {
        **_carried(head), "properties": src["properties"]
    }

    # provenance is never inherited past rewrite_manifests' own commit
    names = sorted(f for f in os.listdir(t.snap_dir) if f.startswith("v"))
    with_prov = [n for n in names if "provenance" in t._load(n)]
    assert with_prov == [
        n for n in names if t._load(n)["operation"] == "rewrite-manifests"
    ]
    assert len(with_prov) == 1


def test_rollback_takes_clustered_roots_from_the_parent(spark, tmp_path):
    """``clustered_roots`` is the resume marker for the CURRENT write
    order, so a rollback keeps the parent's marks (here: none, since
    set_write_order reset them) rather than the target version's."""
    t = _contract_table(spark, str(tmp_path / "t"))
    assert t._resolve()["clustered_roots"]  # the clustered commit marks its root
    t.set_write_order(sort_by=["n"])
    assert t._resolve()["clustered_roots"] == []
    t.rollback(to_version=1)
    m = t._resolve()
    assert m["sort_by"] == ["k"]  # the target's order...
    assert m["clustered_roots"] == []  # ...but the parent's marks


def test_full_rewrites_reset_deltas_and_schema_ops(spark, tmp_path):
    """The rewrites that materialize the applied read fold the pending
    deltas and the schema-op journal into the data, so both reset."""
    for name, run in (
        ("compact_deltas", lambda t: t.compact_deltas()),
        ("rewrite_clustered", lambda t: t.rewrite_clustered()),
    ):
        t = _contract_table(spark, str(tmp_path / name))
        t.alter_add_columns([("c2", "string")])
        t.merge(
            spark.createDataFrame(
                [(2, 0, "u", 5, "z", False)],
                "k long, g long, x string, n int, c2 string, _del boolean",
            ),
            key_cols=["k"], delete_col="_del", mode="mor",
        )
        before = t._resolve()
        assert before["deltas"] and before["schema_ops"], name
        run(t)
        m = t._resolve()
        assert (m["deltas"], m["schema_ops"]) == ([], []), name
        assert m["properties"] == before["properties"], name
        assert m["stats_cols"] == before["stats_cols"], name
    # materialize_schema refuses pending deltas: a journal-only table
    t = _contract_table(spark, str(tmp_path / "materialize"))
    t.alter_add_columns([("c2", "string")])
    t.materialize_schema()
    m = t._resolve()
    assert (m["deltas"], m["schema_ops"]) == ([], [])
    assert m["sort_by"] == ["k"] and m["properties"] == {"owner": "etl"}


# --- recorded read schemas (root_schemas) ---------------------------------


def _inferring(t: SnapshotTable) -> SnapshotTable:
    """``t`` as seen through manifests without recorded schemas (the
    shape manifests had before ``root_schemas`` and the deltas'
    ``<kind>_schema`` fields): every read infers its schema from the
    footers."""
    legacy = SnapshotTable(t.spark, t.path)
    load = legacy._load

    def stripped(name: str) -> dict:
        m = {k: v for k, v in load(name).items() if k != "root_schemas"}
        if "deltas" in m:
            m["deltas"] = [
                {k: v for k, v in d.items() if not k.endswith("_schema")}
                for d in m["deltas"]
            ]
        return m

    legacy._load = stripped
    return legacy


def _same_read(got, want, what) -> None:
    # StructType equality covers column order, types, nullability and
    # field metadata
    assert got.schema == want.schema, (what, got.schema, want.schema)
    assert sorted(map(repr, got.collect())) == sorted(
        map(repr, want.collect())
    ), what


def test_recorded_schemas_read_like_inference(spark, tmp_path):
    """Every version of a table that went through additive evolution,
    the four ALTERs, a schema rewrite, CoW and MoR merges, delta
    compaction, adoption of a foreign file, a partition-spec evolution
    and a positional delete reads with the same schema (column order
    included) and rows whether the schema comes from the manifest or
    from inference; so does a stats-pruned read over a subset of the
    roots."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from philotes_spark.sources.snapshots import _has_widen

    t = SnapshotTable(spark, str(tmp_path / "t"))
    cols = "k long, g long, x string, n int"
    t.commit(
        spark.createDataFrame(
            [(i, i % 3, f"s{i}", i) for i in range(12)], cols
        ).coalesce(2),
        stats_cols=["k"],
    )
    t.commit(  # additive evolution: a new column, and another order —
        # the read's column order then follows the roots' path order
        spark.createDataFrame(
            [(i / 2, i, i % 3, f"s{i}", i) for i in range(100, 106)],
            "e double, " + cols,
        ).coalesce(1)
    )
    t.alter_add_columns([("c2", "string")])
    t.alter_rename_column("x", "x2")
    t.alter_widen_column("n", "bigint")
    t.alter_drop_column("c2")
    t.materialize_schema()
    applied = "k long, g long, x2 string, n bigint, e double"
    t.merge(  # pruned CoW: only the file holding k=3 rewrites
        spark.createDataFrame(
            [(3, 0, "U3", 3, 1.5, False), (4, 1, None, None, None, True)],
            applied + ", _del boolean",
        ),
        key_cols=["k"], delete_col="_del",
    )
    t.merge(
        spark.createDataFrame(
            [(5, 2, "M5", 5, 2.5, False)], applied + ", _del boolean"
        ),
        key_cols=["k"], delete_col="_del", mode="mor",
    )
    t.compact_deltas()
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    pq.write_table(  # no Spark schema in its footer; columns reordered
        pa.table({
            "e": [9.5], "k": pa.array([200], pa.int64()),
            "g": pa.array([2], pa.int64()), "x2": ["f"],
            "n": pa.array([200], pa.int64()),
        }),
        str(foreign / "f.parquet"),
    )
    before = set(t._resolve()["files"])
    t.add_files(str(foreign))
    (adopted,) = set(t._resolve()["files"]) - before
    adopted_root = os.path.relpath(adopted, t.data_dir).split(os.sep)[0]
    t.evolve_partition_spec(["g"])
    t.commit(  # hive-partitioned append under the evolved spec
        spark.createDataFrame(
            [(i, i % 3, f"p{i}", i, 0.5) for i in range(300, 306)], applied
        ).coalesce(1)
    )
    t.delete_where_positional("k = 301")

    legacy = _inferring(t)
    for v in range(1, t.current_version() + 1):
        _same_read(t.read(version=v), legacy.read(version=v), v)
        m = t._resolve(version=v)
        if not _has_widen(m) and not any(t._root_fields(m).values()):
            # a flat read IS one mergeSchema scan of the version's files
            assert (
                t._read_file_list(m["files"], m).schema
                == spark.read.option("mergeSchema", "true")
                .parquet(*m["files"]).schema
            ), v
    m = t._resolve()
    roots = {os.path.relpath(f, t.data_dir).split(os.sep)[0] for f in m["files"]}
    assert set(m["root_schemas"]) == roots - {adopted_root}

    # a pruned read takes the schema of the SURVIVING roots only: at v2
    # the probe misses the root that carries e
    pruned = t.read_where("k", 0, 5, version=2)
    assert "e" not in pruned.columns
    _same_read(pruned, legacy.read_where("k", 0, 5, version=2), "v2 pruned")
    _same_read(
        t.read_where("k", 290, 310), legacy.read_where("k", 290, 310), "head"
    )


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, read back through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _two_root_table(spark, path) -> SnapshotTable:
    t = SnapshotTable(spark, path)
    rows = "k long, v string"
    t.commit(
        spark.createDataFrame([(i, f"a{i}") for i in range(100)], rows)
        .coalesce(1),
        stats_cols=["k"],
    )
    t.commit(
        spark.createDataFrame([(i, f"b{i}") for i in range(1000, 1100)], rows)
        .coalesce(1)
    )
    return t


def test_recorded_schema_reads_run_no_inference_job(spark, tmp_path):
    """With the schema in the manifest, a range probe is one scan job,
    not an inference job plus the scan, and a pruned CoW merge saves
    the inference job over its affected files (3 jobs here, against 4
    when the schema is inferred)."""
    t = _two_root_table(spark, str(tmp_path / "t"))
    legacy = _inferring(_two_root_table(spark, str(tmp_path / "legacy")))
    assert _jobs(spark, lambda: t.read_where("k", 0, 50).collect()) == 1
    assert _jobs(spark, lambda: legacy.read_where("k", 0, 50).collect()) == 2
    changes = spark.createDataFrame(
        [(5, "U5", False), (7, None, True)], "k long, v string, _del boolean"
    )
    for tbl, jobs in ((t, 3), (legacy, 4)):
        assert _jobs(
            spark,
            lambda: tbl.merge(changes, key_cols=["k"], delete_col="_del"),
        ) == jobs
        got = {r.k: r.v for r in tbl.read().collect()}
        assert got[5] == "U5" and 7 not in got and len(got) == 199


def _cdc_batch_merge_jobs(spark, tmp_path, frame) -> int:
    """Jobs of a CDC micro-batch's copy-on-write merge (dedup window,
    pruned by key range), table and batch built by ``frame``; checks the
    merged rows."""
    from pyspark.sql import functions as F

    from philotes_spark.streaming.lakehouse import latest_change_per_key

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        frame([(i, f"n{i}", float(i), "INSERT", i) for i in range(2000)]),
        stats_cols=["id"],
    )
    events = [(1990 + i % 20, f"u{i}", 1.5 * i, "UPDATE", 2000 + i)
              for i in range(60)]
    events += [(2000 + i, f"i{i}", 2.5 * i, "INSERT", 2100 + i) for i in range(30)]
    events += [(1980 + i, None, None, "DELETE", 2200 + i) for i in range(5)]
    changes = latest_change_per_key(frame(events), ["id"], "_cdc_lsn").withColumn(
        "_del", F.col("_cdc_op") == "DELETE"
    )
    jobs = _jobs(
        spark, lambda: t.merge(changes, key_cols=["id"], delete_col="_del")
    )
    got = {r.id: r.name for r in t.read().collect()}
    assert len(got) == 2000 + 30 - 5
    assert got[1995] == "u45" and got[2029] == "i29" and 1984 not in got
    return jobs


_CDC_COLS = ["id", "name", "amount", "_cdc_op", "_cdc_lsn"]


def test_cdc_batch_cow_merge_runs_four_jobs(spark, tmp_path):
    """A CDC micro-batch's copy-on-write merge (dedup window, pruned by
    key range) runs 4 Spark jobs: the window's shuffle, the checkpoint
    that materializes the change set and observes its summary, the
    broadcast of its keys, and the write. Table and batch are built
    from pandas frames, as a sink receives them."""
    import pandas as pd

    def frame(rows):
        return spark.createDataFrame(pd.DataFrame(rows, columns=_CDC_COLS))

    assert _cdc_batch_merge_jobs(spark, tmp_path, frame) == 4


def test_list_built_cdc_batch_cow_merge_runs_four_jobs(spark, tmp_path):
    """The same merge with table and batch built from Python lists runs
    the same 4 jobs: the anti-join broadcasts the keys by the observed
    row count, where the list-built plan's size estimate (~10^19 bytes)
    planned a shuffle join."""
    schema = "id long, name string, amount double, _cdc_op string, _cdc_lsn long"

    def frame(rows):
        return spark.createDataFrame(rows, schema)

    assert _cdc_batch_merge_jobs(spark, tmp_path, frame) == 4


def test_mor_reads_run_no_delta_inference_job(spark, tmp_path):
    """A pending delta's files are read with the schema the delta
    recorded from their footers: each equality delta costs a read one
    job (its key broadcast), not three, and a positional delta one, not
    two; deltas without a record still read by inference."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame([(i, "a") for i in range(100)], "k long, v string")
        .coalesce(1),
        stats_cols=["k"],
    )
    legacy = _inferring(t)
    for n in (1, 2):
        t.merge(
            spark.createDataFrame(
                [(n, "U", False), (50 + n, None, True)],
                "k long, v string, _del boolean",
            ),
            key_cols=["k"], delete_col="_del", mode="mor",
        )
        assert _jobs(spark, lambda: t.read().collect()) == 1 + n
        assert _jobs(spark, lambda: t.read_where("k", 0, 10).collect()) == 1 + n
        # legacy: one inference job for the base files, three per delta
        assert _jobs(spark, lambda: legacy.read().collect()) == 2 + 3 * n
        _same_read(t.read(), legacy.read(), n)
    p = SnapshotTable(spark, str(tmp_path / "p"))
    p.commit(
        spark.createDataFrame([(i, "a") for i in range(100)], "k long, v string")
        .coalesce(1)
    )
    p.delete_where_positional("k < 5")
    assert _jobs(spark, lambda: p.read().collect()) == 2
    assert _jobs(spark, lambda: _inferring(p).read().collect()) == 4
    assert p.read().count() == 95


def _footer_opens(monkeypatch) -> list[str]:
    """Record the path of every ``pyarrow.parquet.ParquetFile`` open."""
    import pyarrow.parquet as pq

    opened: list[str] = []
    real = pq.ParquetFile

    class Spy(real):
        def __init__(self, source, *a, **kw):
            opened.append(str(source))
            super().__init__(source, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", Spy)
    return opened


def test_commit_reads_each_new_footer_once(spark, tmp_path, monkeypatch):
    """An append, a CoW merge and a late-append rewrite read each new
    data file's footer once, for its size, rows, stats and schema
    together, and no other file's."""
    from collections import Counter

    t = SnapshotTable(spark, str(tmp_path / "t"))
    rows = "k long, v string"
    t.commit(
        spark.createDataFrame([(i, f"a{i}") for i in range(40)], rows)
        .repartition(2),
        stats_cols=["k"],
    )
    for step in ("append", "merge"):
        before = set(t._resolve()["files"])
        opened = _footer_opens(monkeypatch)
        if step == "append":
            t.commit(
                spark.createDataFrame([(i, f"b{i}") for i in range(40, 60)], rows)
                .repartition(2)
            )
        else:
            t.merge(
                spark.createDataFrame([(3, "U3")], rows), key_cols=["k"]
            )
        monkeypatch.undo()
        m = t._resolve()
        new = set(m["files"]) - before
        assert new and Counter(opened) == Counter(new), (step, opened)
        assert set(m["file_meta"]) == set(m["files"]), step
        assert all(m["file_stats"][f].get("k") for f in new), step
        assert m["root_schemas"], step
    assert m["added_rows"] == 1
    assert t._resolve(version=2)["added_rows"] == 20
    # a late append after a pending equality delta, rewritten: the
    # empty-part filter and the manifest share one read per staged file
    t.merge(spark.createDataFrame([(5, "U5")], rows), key_cols=["k"], mode="mor")
    t.commit(spark.createDataFrame([(5, "late"), (70, "c")], rows).coalesce(1))
    before = set(t._resolve()["files"])
    opened = _footer_opens(monkeypatch)
    assert t.rewrite_late_appends() is not None
    monkeypatch.undo()
    m = t._resolve()
    new = set(m["files"]) - before
    counts = Counter(opened)
    assert new and new <= set(counts) and set(counts.values()) == {1}, opened
    staged = {os.path.dirname(f) for f in new}
    assert {os.path.dirname(f) for f in counts} == staged, opened
    assert all(m["file_stats"][f].get("k") for f in new)
    assert set(m["file_meta"]) == set(m["files"])
