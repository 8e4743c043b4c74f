"""Copy-on-write MERGE into SnapshotTable (A17 extension): upsert/delete
semantics, time travel across merges, and file-level pruning via the
manifest's footer min/max stats (Iceberg-style file skipping)."""

import pytest
from pyspark.sql import functions as F

from philotes_spark.sources.snapshots import SnapshotTable


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "t"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_merge_upsert_and_insert(spark, table):
    table.commit(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    table.merge(_df(spark, [(2, "B2"), (9, "new")]), key_cols=["k"])
    got = {r.k: r.v for r in table.read().collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 9: "new"}
    # time travel: v1 unchanged
    v1 = {r.k: r.v for r in table.read(version=1).collect()}
    assert v1 == {1: "a", 2: "b", 3: "c"}
    assert table._resolve()["operation"] == "merge"


def test_merge_with_deletes(spark, table):
    table.commit(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    changes = spark.createDataFrame(
        [(2, "B2", False), (3, None, True)], "k long, v string, _del boolean"
    )
    table.merge(changes, key_cols=["k"], delete_col="_del")
    got = {r.k: r.v for r in table.read().collect()}
    assert got == {1: "a", 2: "B2"}  # 3 deleted, not re-inserted


def test_merge_prunes_untouched_files(spark, table):
    # two disjoint key-range files, stats recorded from the footers
    lo = _df(spark, [(i, f"lo{i}") for i in range(0, 100)]).coalesce(1)
    hi = _df(spark, [(i, f"hi{i}") for i in range(1000, 1100)]).coalesce(1)
    table.commit(lo, stats_cols=["k"])
    table.commit(hi)  # stats_cols inherited from the parent manifest
    m = table._resolve()
    assert len(m["files"]) == 2
    assert all(m["file_stats"][f]["k"] for f in m["files"])

    # change set touches only the low range → the hi file must carry over
    # by reference (same path), not be rewritten
    table.merge(_df(spark, [(5, "LO5")]), key_cols=["k"])
    m2 = table._resolve()
    hi_files = [f for f in m["files"] if m["file_stats"][f]["k"][0] >= 1000]
    assert hi_files and all(f in m2["files"] for f in hi_files), (
        "file outside the change-set key range was rewritten"
    )
    assert len(m2["files"]) == len(hi_files) + m2["added_files"]
    got = {r.k: r.v for r in table.read().collect()}
    assert got[5] == "LO5" and got[1050] == "hi1050" and len(got) == 200


def test_merge_without_stats_rewrites_all(spark, table):
    table.commit(_df(spark, [(1, "a"), (2, "b")]))  # no stats_cols
    v = table.merge(_df(spark, [(2, "B")]), key_cols=["k"])
    m = table._resolve(version=v)
    # full rewrite: no parent file survives by reference
    parent_files = set(table._resolve(version=1)["files"])
    assert not parent_files & set(m["files"])
    assert {r.k: r.v for r in table.read().collect()} == {1: "a", 2: "B"}


def test_merge_expire_keeps_live_files(spark, table):
    table.commit(_df(spark, [(1, "a"), (2, "b")]), stats_cols=["k"])
    table.merge(_df(spark, [(2, "B")]), key_cols=["k"])
    deleted = table.expire_snapshots(keep_last=1)
    assert deleted >= 1  # the rewritten v1 file is gone
    assert {r.k: r.v for r in table.read().collect()} == {1: "a", 2: "B"}
    with pytest.raises(ValueError):
        table.read(version=1)


def test_compact_rewrites_small_files_only(spark, table):
    # three tiny appends → three small files; one large-ish file kept as-is
    for lo in (0, 100, 200):
        table.commit(
            _df(spark, [(i, f"v{i}") for i in range(lo, lo + 50)]).coalesce(1),
            stats_cols=["k"],
        )
    m = table._resolve()
    assert len(m["files"]) == 3
    v = table.compact(small_file_bytes=32 * 1024 * 1024)
    assert v == 4
    m2 = table._resolve()
    assert m2["operation"] == "compact"
    assert len(m2["files"]) == 1, "three small files must collapse to one"
    # row-identical across the rewrite, history intact
    got = {r.k: r.v for r in table.read().collect()}
    assert len(got) == 150 and got[123] == "v123"
    assert table.read(version=3).count() == 150
    # stats were recomputed for the compacted file
    (f,) = m2["files"]
    assert m2["file_stats"][f]["k"] == [0, 249]
    # nothing further to do: a single file is already compact
    assert table.compact(small_file_bytes=32 * 1024 * 1024) is None


def test_merge_sequence_matches_dict_model(spark, table):
    """Model-based check: a random-ish sequence of merges (upserts +
    deletes) must leave the table equal to a plain dict applying the
    same operations — and every historical version must stay readable."""
    import random

    rng = random.Random(1234)
    model: dict[int, str] = {}
    table.commit(_df(spark, [(k, f"init{k}") for k in range(20)]), stats_cols=["k"])
    for k in range(20):
        model[k] = f"init{k}"

    for step in range(4):
        ups = {rng.randrange(0, 30): f"s{step}u{j}" for j in range(rng.randrange(1, 6))}
        dels = {k for k in rng.sample(sorted(model), k=min(2, len(model)))} - set(ups)
        rows = [(k, v, False) for k, v in ups.items()] + [
            (k, None, True) for k in dels
        ]
        changes = spark.createDataFrame(rows, "k long, v string, _del boolean")
        table.merge(changes, key_cols=["k"], delete_col="_del")
        model.update(ups)
        for k in dels:
            model.pop(k, None)
        got = {r.k: r.v for r in table.read().collect()}
        assert got == model, f"diverged at step {step}"

    # all five versions readable; v1 is still the initial state
    assert table.current_version() == 5
    assert {r.k: r.v for r in table.read(version=1).collect()} == {
        k: f"init{k}" for k in range(20)
    }


def test_partitioned_compact_rewrites_per_partition(spark, tmp_path):
    p = SnapshotTable(spark, str(tmp_path / "pc"))

    def df(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("b")
        )

    # three appends → 3 small files per partition value
    for lo in (0, 40, 80):
        p.commit(df(lo, lo + 40).repartition(1), partition_by=["b"])
    m1 = p._resolve()
    assert len(m1["files"]) == 6
    v = p.compact(small_file_bytes=32 * 1024 * 1024)
    assert v == 4
    m2 = p._resolve()
    assert m2["operation"] == "compact" and m2["partition_by"] == ["b"]
    assert len(m2["files"]) < 6
    got = p.read()
    assert got.count() == 120
    assert got.filter(F.col("b") == 1).count() == 60  # partition cols intact
    assert p.read(version=3).count() == 120  # history readable
    # idempotent: no partition holds ≥2 small files any more
    assert p.compact(small_file_bytes=32 * 1024 * 1024) is None


def test_read_where_prunes_files_by_stats(spark, table):
    # three disjoint key-range files with footer stats
    for lo in (0, 1000, 2000):
        table.commit(
            _df(spark, [(i, f"v{i}") for i in range(lo, lo + 100)]).coalesce(1),
            stats_cols=["k"],
        )
    scanned, total = table.pruned_file_count("k", lo=1010, hi=1050)
    assert (scanned, total) == (1, 3), "only the middle file can match"
    got = table.read_where("k", lo=1010, hi=1050)
    assert got.count() == 41
    # equals the unpruned filter exactly
    full = table.read().filter((F.col("k") >= 1010) & (F.col("k") <= 1050))
    assert sorted(r.k for r in got.collect()) == sorted(r.k for r in full.collect())
    # out-of-range: zero files scanned, empty result, schema preserved
    scanned, _ = table.pruned_file_count("k", lo=99999)
    assert scanned == 0
    empty = table.read_where("k", lo=99999)
    assert empty.count() == 0 and set(empty.columns) == {"k", "v"}


def test_read_where_without_stats_scans_all(spark, table):
    table.commit(_df(spark, [(1, "a"), (2, "b")]))  # no stats_cols
    scanned, total = table.pruned_file_count("k", lo=0, hi=0)
    assert scanned == total  # unknown ⇒ must read
    assert table.read_where("k", lo=2, hi=2).count() == 1  # residual filter


def test_merge_empty_table_raises(spark, table):
    with pytest.raises(FileNotFoundError):
        table.merge(_df(spark, [(1, "a")]), key_cols=["k"])


def test_partitioned_merge_prunes_partitions(spark, tmp_path):
    p = SnapshotTable(spark, str(tmp_path / "p"))
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") % 4).alias("b"),
    )
    p.commit(df.repartition(1), partition_by=["b"])
    m1 = p._resolve()
    untouched_before = [f for f in m1["files"] if "b=3" in f]
    assert untouched_before

    # changes touch only partitions b=0 and b=1
    changes = spark.createDataFrame(
        [(0, "NEW0", 0), (41, "NEW41", 1)], "k long, v string, b long"
    )
    p.merge(changes, key_cols=["k"])
    m2 = p._resolve()
    assert m2["operation"] == "merge" and m2["partition_by"] == ["b"]
    # b=3 files carried by reference, not rewritten
    assert all(f in m2["files"] for f in untouched_before)
    got = {r.k: (r.v, r.b) for r in p.read().collect()}
    assert len(got) == 41
    assert got[0] == ("NEW0", 0) and got[41] == ("NEW41", 1)
    assert got[3][0] == "v3"  # untouched partition intact
    # time travel across the partitioned merge
    assert p.read(version=1).count() == 40


def test_partitioned_merge_requires_partition_cols(spark, tmp_path):
    p = SnapshotTable(spark, str(tmp_path / "p2"))
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("b")
    )
    p.commit(df, partition_by=["b"])
    with pytest.raises(ValueError, match="partition columns"):
        p.merge(df.select("k"), key_cols=["k"])


def test_merge_with_timestamp_key_does_not_crash(spark, table):
    # footer stats for timestamps serialize as text; range compare must
    # degrade to no-pruning, never TypeError (review finding r03)
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1) + dt.timedelta(days=i), f"v{i}") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v string")
    table.commit(df.coalesce(1), stats_cols=["ts"])
    changes = spark.createDataFrame(
        [(dt.datetime(2024, 1, 3), "NEW")], "ts timestamp, v string"
    )
    table.merge(changes, key_cols=["ts"])
    got = {r.ts: r.v for r in table.read().collect()}
    assert got[dt.datetime(2024, 1, 3)] == "NEW" and len(got) == 10
    # read_where with a datetime range: unprunable (str stats) but correct
    out = table.read_where("ts", lo=dt.datetime(2024, 1, 5))
    assert out.count() == 6  # Jan 5..Jan 10 inclusive


def test_merge_empty_change_set_is_noop(spark, table):
    table.commit(_df(spark, [(1, "a")]), stats_cols=["k"])
    v_before = table.current_version()
    v = table.merge(_df(spark, []).limit(0), key_cols=["k"])
    assert v == v_before, "empty merge must not create a version"
    assert {r.k: r.v for r in table.read().collect()} == {1: "a"}


def test_partitioned_merge_with_boolean_partition(spark, tmp_path):
    # hive renders a boolean partition as 'b=true' while Python str(True)
    # is 'True'; the old str() rendering classified every touched boolean
    # partition as untouched, so the stale pre-merge row silently
    # survived (ADVICE r03)
    p = SnapshotTable(spark, str(tmp_path / "boolp"))
    rows = [(1, "a", True), (2, "b", True), (3, "c", False)]
    df = spark.createDataFrame(rows, "k long, v string, flag boolean")
    p.commit(df.repartition(1), partition_by=["flag"])
    changes = spark.createDataFrame([(1, "A2", True)], "k long, v string, flag boolean")
    p.merge(changes, key_cols=["k"])
    got = {r.k: r.v for r in p.read().collect()}
    assert got == {1: "A2", 2: "b", 3: "c"}, "stale row in flag=true must be gone"
    # untouched flag=false partition carried by reference
    m2 = p._resolve()
    false_files = [f for f in p._resolve(version=1)["files"] if "flag=false" in f]
    assert false_files and all(f in m2["files"] for f in false_files)


def test_partitioned_merge_unsupported_partition_type_raises(spark, tmp_path):
    # float/decimal path rendering is engine-specific; guessing would
    # silently mis-route the merge, so it must raise instead
    p = SnapshotTable(spark, str(tmp_path / "floatp"))
    df = spark.createDataFrame([(1, "a", 0.5)], "k long, v string, fp double")
    p.commit(df.repartition(1), partition_by=["fp"])
    changes = spark.createDataFrame([(1, "A2", 0.5)], "k long, v string, fp double")
    with pytest.raises(TypeError, match="partition column"):
        p.merge(changes, key_cols=["k"])


def test_partitioned_merge_with_escaped_partition_values(spark, tmp_path):
    # ':' is percent-escaped in hive paths; partition matching must
    # unescape or stale rows survive the merge (review finding r03)
    p = SnapshotTable(spark, str(tmp_path / "esc"))
    rows = [(1, "a", "x:1"), (2, "b", "x:1"), (3, "c", "y:2")]
    df = spark.createDataFrame(rows, "k long, v string, part string")
    p.commit(df.repartition(1), partition_by=["part"])
    changes = spark.createDataFrame([(1, "A2", "x:1")], "k long, v string, part string")
    p.merge(changes, key_cols=["k"])
    got = {r.k: r.v for r in p.read().collect()}
    assert got == {1: "A2", 2: "b", 3: "c"}, "stale row for key 1 must be gone"


# --- positional deletes (Iceberg v2's second delete-file kind) ---------------


def test_positional_delete_basic(spark, tmp_path):
    """delete_where_positional lands the doomed rows' (file, row_index)
    addresses as an O(deleted) delta: no base file rewritten, no key
    columns needed, readers anti-join on the address pair."""
    from pyspark.sql import Row

    from philotes_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [Row(v=i, tag="even" if i % 2 == 0 else "odd") for i in range(20)]
        ).repartition(3)
    )
    m1_files = t._resolve(version=1)["files"]
    v = t.delete_where_positional("tag = 'odd'")
    assert v == 2
    m2 = t._resolve(version=2)
    assert m2["operation"] == "delete-pos"
    assert m2["files"] == m1_files  # zero base files rewritten
    assert m2["deltas"][0]["type"] == "pos"
    assert sorted(r.v for r in t.read().collect()) == list(range(0, 20, 2))
    # time travel still serves the pre-delete state
    assert t.read(version=1).count() == 20
    # stacked positional deletes compose
    t.delete_where_positional("v >= 10")
    assert sorted(r.v for r in t.read().collect()) == [0, 2, 4, 6, 8]
    # pruned reads resolve the deltas too
    got = sorted(r.v for r in t.read_where("v", lo=0, hi=6).collect())
    assert got == [0, 2, 4, 6]


def test_positional_delete_compaction_and_equality_stacking(spark, tmp_path):
    from pyspark.sql import Row

    from philotes_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([Row(k=i, x=float(i)) for i in range(10)]))
    t.delete_where_positional("k IN (3, 4)")
    # an equality-delete MERGE stacks on top of a positional delta
    chg = spark.createDataFrame([Row(k=5, x=500.0), Row(k=11, x=110.0)])
    t.merge(chg, key_cols=["k"], mode="mor")
    got = {r.k: r.x for r in t.read().collect()}
    assert 3 not in got and 4 not in got
    assert got[5] == 500.0 and got[11] == 110.0
    assert len(got) == 9  # 10 - 2 positionally deleted + 1 inserted
    # a further positional delete over the pending upsert delta is
    # ambiguous (upserted rows have no base-file address) — refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compact_deltas"):
        t.delete_where_positional("x > 100")
    # compaction folds everything; results identical, deltas cleared
    before = {r.k: r.x for r in t.read().collect()}
    t.compact_deltas()
    assert t._resolve()["deltas"] == []
    assert {r.k: r.x for r in t.read().collect()} == before
    # and positional deletes work again post-compaction
    t.delete_where_positional("x > 100")
    assert 11 not in {r.k for r in t.read().collect()}


def test_positional_delete_on_partitioned_table(spark, tmp_path):
    from pyspark.sql import Row

    from philotes_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [Row(day="d1" if i < 6 else "d2", v=i) for i in range(12)]
        ),
        partition_by=["day"],
    )
    # the condition references the hive partition column
    t.delete_where_positional("day = 'd1' AND v % 2 = 1")
    got = sorted((r.day, r.v) for r in t.read().collect())
    assert got == [("d1", 0), ("d1", 2), ("d1", 4)] + [
        ("d2", v) for v in range(6, 12)
    ]


def test_write_mode_table_properties_drive_dml(spark, tmp_path):
    """Iceberg's write.<op>.mode table properties (copy-on-write |
    merge-on-read) pick the DML execution mode when the caller passes
    none — a table opts its statements into MoR without call sites
    knowing (the property names/values are Iceberg's own)."""
    from pyspark.sql import Row

    import pytest as _pytest

    from philotes_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame([Row(k=i, v=float(i)) for i in range(8)]),
        properties={"write.delete.mode": "merge-on-read"},
    )
    base_files = t._resolve()["files"]
    t.delete_where("k >= 6", key_cols=["k"])  # no mode passed
    m = t._resolve()
    assert m["operation"] == "merge-mor"  # property chose MoR
    assert m["files"] == base_files  # no rewrite
    assert sorted(r.k for r in t.read().collect()) == list(range(6))
    # update has no property set → defaults to copy-on-write, which
    # merge correctly refuses over the pending MoR delta
    with _pytest.raises(ValueError, match="pending MoR deltas"):
        t.update_where("k = 0", {"v": "v + 100"}, key_cols=["k"])
    # explicit argument still overrides the property
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.commit(
        spark.createDataFrame([Row(k=1, v=1.0), Row(k=2, v=2.0)]),
        properties={"write.delete.mode": "merge-on-read"},
    )
    t2.delete_where("k = 1", key_cols=["k"], mode="cow")
    assert t2._resolve()["operation"] == "merge"  # CoW despite property
    # bad property value errors clearly
    t3 = SnapshotTable(spark, str(tmp_path / "t3"))
    t3.commit(
        spark.createDataFrame([Row(k=1, v=1.0)]),
        properties={"write.update.mode": "sideways"},
    )
    with _pytest.raises(ValueError, match="bad write.update.mode"):
        t3.update_where("k = 1", {"v": "2.0"}, key_cols=["k"])


def test_compact_folds_pending_positional_deltas(spark, tmp_path):
    """r13 bug fix: OPTIMIZE/compact() over a pending POSITIONAL delta
    used to rewrite the files its (path, index) references point at and
    RESURRECT the deleted rows. compact now folds the delta stack first
    (equality deltas are key-based and survive rewrites; positional ones
    are path-keyed and cannot), so the compacted table stays
    row-identical to the pre-compaction read."""
    from pyspark.sql import functions as F

    from philotes_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.range(0, 100)
        .select(F.col("id").alias("k"), F.lit("x").alias("v"))
        .repartition(4)
    )
    t.delete_where_positional("k = 5")
    assert t.read().count() == 99
    v = t.compact(small_file_bytes=32 * 1024 * 1024)
    assert v == t.current_version()
    m = t._load(f"v{t.current_version():08d}.json")
    assert not m.get("deltas")  # folded, not carried broken
    assert t.read().count() == 99
    assert t.read().filter("k = 5").count() == 0  # stays deleted

    # partitioned path takes the same guard
    p = SnapshotTable(spark, str(tmp_path / "p"))
    p.commit(
        spark.range(0, 100)
        .select(F.col("id").alias("k"), (F.col("id") % 3).alias("g"),
                F.lit("x").alias("v"))
        .repartition(4),
        partition_by=["g"],
    )
    p.delete_where_positional("k = 7")
    assert p.read().count() == 99
    p.compact(small_file_bytes=32 * 1024 * 1024)
    assert p.read().count() == 99
    assert p.read().filter("k = 7").count() == 0


def test_merge_prunes_with_timestamp_key(spark, tmp_path):
    """r15: a TIMESTAMP merge key prunes too — footer stats store
    timestamps as ISO text, and the probe now compares in that stored
    form instead of hitting the incomparable-⇒-keep fallback (which
    silently degraded pruned CoW to a full-table rewrite on every
    time-keyed merge)."""
    import datetime as dt

    t = SnapshotTable(spark, str(tmp_path / "ts"))
    mk = lambda pairs: spark.createDataFrame(pairs, "ts timestamp, v string")
    jan = mk([(dt.datetime(2024, 1, 1, h), f"jan{h}") for h in range(10)])
    jun = mk([(dt.datetime(2024, 6, 1, h), f"jun{h}") for h in range(10)])
    t.commit(jan.coalesce(1), stats_cols=["ts"])
    t.commit(jun.coalesce(1))
    m = t._resolve()
    assert len(m["files"]) == 2
    # change set touches only June → the January file carries by
    # reference, not rewritten
    t.merge(
        mk([(dt.datetime(2024, 6, 1, 3), "JUN3")]), key_cols=["ts"]
    )
    m2 = t._resolve()
    jan_files = [
        f for f in m["files"] if str(m["file_stats"][f]["ts"][0]).startswith("2024-01")
    ]
    assert jan_files and all(f in m2["files"] for f in jan_files), (
        "time-keyed merge rewrote a file outside the change-set range"
    )
    got = {r.ts: r.v for r in t.read().collect()}
    assert got[dt.datetime(2024, 6, 1, 3)] == "JUN3" and len(got) == 20


_ACTIONS = (
    "collect", "take", "count", "first", "head", "toArrow", "toPandas",
    "localCheckpoint", "checkpoint",
)


def _spy_actions(spark, monkeypatch) -> list[str]:
    """Record, in order, every top-level DataFrame action (an action that
    calls another — ``take`` → ``collect`` — records once) and every
    parquet write. Each action re-runs its frame's whole lineage, so the
    count is what a merge pays over its change set."""
    events: list[str] = []
    depth = [0]
    df_cls = type(spark.range(1))
    writer_cls = type(spark.range(1).write)

    def spy(cls, name, label):
        orig = getattr(cls, name)

        def wrapped(*a, **kw):
            if depth[0] == 0:
                events.append(label or name)
            depth[0] += 1
            try:
                return orig(*a, **kw)
            finally:
                depth[0] -= 1

        monkeypatch.setattr(cls, name, wrapped)

    for name in _ACTIONS:
        spy(df_cls, name, None)
    spy(writer_cls, "parquet", "write")
    return events


def test_pruned_cow_merge_runs_one_action_before_the_write(
    spark, table, monkeypatch
):
    """The CoW merge evaluates the change set ONCE — a local checkpoint
    that observes row count, upsert count and key range on the way —
    then writes from it: every action re-runs the change set's lineage
    (a dedup window shuffle in the CDC sink), so each extra one costs a
    pass."""
    lo = _df(spark, [(i, f"lo{i}") for i in range(0, 100)]).coalesce(1)
    hi = _df(spark, [(i, f"hi{i}") for i in range(1000, 1100)]).coalesce(1)
    table.commit(lo, stats_cols=["k"])
    table.commit(hi)
    m1 = table._resolve()
    changes = spark.createDataFrame(
        [(5, "LO5", False), (7, None, True), (150, "new", False)],
        "k long, v string, _del boolean",
    )
    events = _spy_actions(spark, monkeypatch)
    table.merge(changes, key_cols=["k"], delete_col="_del")
    monkeypatch.undo()
    assert events == ["localCheckpoint", "write"], events
    m = table._resolve()
    assert m["added_rows"] == 2
    hi_files = [f for f in m1["files"] if m1["file_stats"][f]["k"][0] >= 1000]
    assert hi_files and all(f in m["files"] for f in hi_files), (
        "the file outside the change-set key range must carry over"
    )
    got = {r.k: r.v for r in table.read().collect()}
    assert got[5] == "LO5" and got[150] == "new" and 7 not in got
    assert len(got) == 200


def test_partitioned_merge_runs_one_action_before_the_write(
    spark, tmp_path, monkeypatch
):
    p = SnapshotTable(spark, str(tmp_path / "p"))
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") % 4).alias("b"),
    )
    p.commit(df.repartition(1), partition_by=["b"])
    changes = spark.createDataFrame(
        [(0, "NEW0", 0, False), (41, "NEW41", 1, False), (5, None, 1, True)],
        "k long, v string, b long, _del boolean",
    )
    events = _spy_actions(spark, monkeypatch)
    p.merge(changes, key_cols=["k"], delete_col="_del")
    monkeypatch.undo()
    assert events == ["localCheckpoint", "write"], events
    assert p._resolve()["added_rows"] == 2
    got = {r.k: r.v for r in p.read().collect()}
    assert got[0] == "NEW0" and got[41] == "NEW41" and 5 not in got
    assert len(got) == 40


@pytest.mark.parametrize("partitioned", [False, True])
def test_merge_added_rows_counts_upserts_and_null_flag_removes(
    spark, tmp_path, partitioned
):
    """``added_rows`` is the count of rows the merge upserts: UPDATEs and
    INSERTs, not DELETEs, and not a row whose delete flag is NULL. Such
    a row's key is removed (its key is in the change set, its row is not
    upserted) — the semantics the merge has always had."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    schema = "k long, v string, b long"
    base = [(k, f"v{k}", k % 2) for k in range(1, 7)]
    t.commit(
        spark.createDataFrame(base, schema).coalesce(1),
        stats_cols=["k"],
        partition_by=["b"] if partitioned else None,
    )
    changes = spark.createDataFrame(
        [
            (2, "U2", 0, False),   # update
            (3, None, 1, True),    # delete
            (4, "N4", 0, None),    # NULL flag: removed, not upserted
            (7, "I7", 1, False),   # insert
        ],
        schema + ", _del boolean",
    )
    t.merge(changes, key_cols=["k"], delete_col="_del")
    assert t._resolve()["added_rows"] == 2
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: "v1", 2: "U2", 5: "v5", 6: "v6", 7: "I7"}


def test_recluster_unclustered_table_skips_planning(spark, table, monkeypatch):
    """With no sort_by/zorder_by, _recluster hands the frame back without
    asking for its partition count — that question plans (and under AQE
    runs) the whole rewrite just to throw the number away."""
    df = _df(spark, [(1, "a")])

    def boom(self):
        raise AssertionError("unclustered _recluster touched df.rdd")

    monkeypatch.setattr(type(df), "rdd", property(boom))
    assert table._recluster(df, {}) is df
    assert table._recluster(df, {"sort_by": [], "zorder_by": []}) is df


def test_mor_merge_runs_only_its_two_writes(spark, table, monkeypatch):
    """A merge-on-read merge runs the delete-key write and the upsert
    write and nothing else: whether the change set was empty is read
    from the staged files' footers, not asked of the change set."""
    table.commit(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), stats_cols=["k"])
    changes = spark.createDataFrame(
        [(1, "A", False), (2, None, True)], "k long, v string, _del boolean"
    )
    events = _spy_actions(spark, monkeypatch)
    v = table.merge(changes, key_cols=["k"], delete_col="_del", mode="mor")
    monkeypatch.undo()
    assert events == ["write", "write"], events
    assert v == 2 and table._resolve()["added_rows"] == 1
    assert {r.k: r.v for r in table.read().collect()} == {1: "A", 3: "c"}


def test_empty_mor_merge_commits_nothing_and_leaves_no_root(spark, table):
    import os

    table.commit(_df(spark, [(1, "a")]), stats_cols=["k"])
    roots = sorted(os.listdir(table.data_dir))
    empty = spark.createDataFrame(
        [(1, "A", False)], "k long, v string, _del boolean"
    ).filter("k < 0")
    v = table.merge(empty, key_cols=["k"], delete_col="_del", mode="mor")
    assert v == 1 and table.current_version() == 1
    assert sorted(os.listdir(table.data_dir)) == roots
    assert [tuple(r) for r in table.read().collect()] == [(1, "a")]


@pytest.mark.parametrize("partitioned", [False, True])
def test_merge_evaluates_each_change_row_once(spark, tmp_path, partitioned):
    """The summary, the anti-join keys and the upserts of a copy-on-write
    merge all read ONE pass over the change set: a nondeterministic UDF
    on the key (which no plan may reuse or fold) runs once per change
    row."""
    from pyspark.sql.types import LongType

    t = SnapshotTable(spark, str(tmp_path / "t"))
    schema = "k long, v string, b long"
    t.commit(
        spark.createDataFrame([(k, f"v{k}", k % 2) for k in range(20)], schema)
        .coalesce(1),
        stats_cols=["k"],
        partition_by=["b"] if partitioned else None,
    )
    calls = spark.sparkContext.accumulator(0)

    def tap(k):
        calls.add(1)
        return k

    changes = spark.createDataFrame(
        [(2, "U2", 0, False), (3, None, 1, True), (25, "I25", 1, False)],
        schema + ", _del boolean",
    ).withColumn("k", F.udf(tap, LongType()).asNondeterministic()("k"))
    t.merge(changes, key_cols=["k"], delete_col="_del")
    assert calls.value == 3
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 20 and got[2] == "U2" and got[25] == "I25"
    assert 3 not in got


@pytest.mark.parametrize("partitioned", [False, True])
def test_merge_leaves_nothing_in_storage(
    spark, tmp_path, monkeypatch, partitioned
):
    """The change set's checkpoint is released when the merge returns:
    after a merge, an empty merge, and a merge whose write raises."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    schema = "k long, v string, b long"
    t.commit(
        spark.createDataFrame([(k, f"v{k}", k % 2) for k in range(20)], schema)
        .coalesce(1),
        stats_cols=["k"],
        partition_by=["b"] if partitioned else None,
    )
    sc = spark.sparkContext._jsc.sc()

    def stored() -> set[int]:
        return {i.id() for i in sc.getRDDStorageInfo()}

    before = stored()
    changes = spark.createDataFrame(
        [(2, "U2", 0, False), (25, "I25", 1, False)], schema + ", _del boolean"
    )
    assert t.merge(changes, key_cols=["k"], delete_col="_del") == 2
    assert stored() <= before
    assert t.merge(
        changes.filter("k < 0"), key_cols=["k"], delete_col="_del"
    ) == 2
    assert stored() <= before

    def failing_stage(self, writer):
        raise OSError("disk full")

    monkeypatch.setattr(SnapshotTable, "_stage", failing_stage)
    with pytest.raises(OSError, match="disk full"):
        t.merge(changes, key_cols=["k"], delete_col="_del")
    monkeypatch.undo()
    assert stored() <= before
    assert t.current_version() == 2


def test_positional_delete_runs_only_its_write(spark, table, monkeypatch):
    """A positional delete runs its write and nothing else: the staged
    files' footers say whether any row matched. A delete that matches
    nothing adds no version and leaves no staged root."""
    import os

    table.commit(_df(spark, [(k, f"v{k}") for k in range(10)]).coalesce(1))
    events = _spy_actions(spark, monkeypatch)
    assert table.delete_where_positional("k < 3") == 2
    monkeypatch.undo()
    assert events == ["write"], events
    roots = sorted(os.listdir(table.data_dir))
    assert table.delete_where_positional("k > 100") == 2
    assert table.current_version() == 2
    assert sorted(os.listdir(table.data_dir)) == roots
    assert sorted(r.k for r in table.read().collect()) == list(range(3, 10))
