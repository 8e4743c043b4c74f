"""Rotation-hygiene gate (VERDICT r16 next-round #10): every query in the
driver's correctness window must run under a BARE SparkSession — the
driver builds its own session, so any dependence on the repo's session
factory confs (writer timestamp type, timezone, arrow flags, ...) is a
latent driver-only failure. r16 shipped exactly that bug:
``snapshot_ts_prune_read`` passed every in-repo gate and failed 49/50 in
the driver because Spark's default INT96 timestamps write no parquet
stats.

The converse holds too: snapshot writes pin the writer confs they need
for the write only and leave the caller's session as they found it
(test_snapshot_writes_leave_session_confs_unchanged, in-process).

A truly bare session needs a fresh JVM (``getOrCreate`` inside this
process would reuse the pytest session and its confs), so the smoke runs
in a subprocess. Scope: the r16 tier-8 graduates — the queries whose
in-window exposure is newest — plus any future graduate MUST be added
here before rotating into the window (checklist in registry.py).
"""

import subprocess
import sys
import textwrap

import pytest

# the r16 window graduates (newest driver exposure) — extend on rotation
GRADUATES = [
    "snapshot_tighten_read",
    "snapshot_entries_meta",
    "snapshot_cherrypick_read",
    "snapshot_ts_prune_read",
]

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("bare-session-smoke")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # prove the session really is vanilla where it matters
    assert (
        spark.conf.get("spark.sql.parquet.outputTimestampType") == "INT96"
    ), "smoke invalid: session not bare"

    from philotes_spark import registry

    registry.load_all()
    for name in {names!r}:
        df = registry.QUERIES[name](spark, {sf_dir!r})
        n = df.count()
        assert n > 0, (name, n)
        print("BARE_OK", name, n, flush=True)
    spark.stop()
    """
)


@pytest.mark.slow
def test_window_graduates_run_under_bare_session(sf_dir):
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _SCRIPT.format(repo=repo, names=GRADUATES, sf_dir=sf_dir)
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    for name in GRADUATES:
        assert f"BARE_OK {name}" in proc.stdout, (name, proc.stdout)


_TS_TYPE = "spark.sql.parquet.outputTimestampType"


@pytest.mark.parametrize("prior", [None, "INT96"])
def test_snapshot_writes_leave_session_confs_unchanged(spark, tmp_path, prior):
    """A commit and a merge leave every session conf exactly as found,
    whether the writer's timestamp type was unset (bare session) or set
    by the caller — and the write still lands TIMESTAMP_MICROS, whose
    footer stats the manifest records."""
    import datetime as dt

    from philotes_spark.sources.snapshots import SnapshotTable

    saved = spark.conf.getAll.get(_TS_TYPE)
    try:
        if prior is None:
            spark.conf.unset(_TS_TYPE)
        else:
            spark.conf.set(_TS_TYPE, prior)
        before = dict(spark.conf.getAll)
        t = SnapshotTable(spark, str(tmp_path / "t"))
        rows = [(k, dt.datetime(2024, 1, 1 + k, 12)) for k in range(8)]
        t.commit(
            spark.createDataFrame(rows, "k long, ts timestamp").repartition(2),
            stats_cols=["k", "ts"],
        )
        assert dict(spark.conf.getAll) == before
        t.merge(
            spark.createDataFrame(
                [(3, dt.datetime(2024, 2, 1), False), (5, None, True)],
                "k long, ts timestamp, _del boolean",
            ),
            key_cols=["k"],
            delete_col="_del",
        )
        assert dict(spark.conf.getAll) == before
        m = t._resolve()
        assert all(st.get("ts") for st in m["file_stats"].values()), m
    finally:
        if saved is None:
            spark.conf.unset(_TS_TYPE)
        else:
            spark.conf.set(_TS_TYPE, saved)


def test_snapshot_writes_read_one_conf_key(spark, tmp_path, monkeypatch):
    """A commit and a merge read the one writer conf they pin, by key:
    ``getAll`` fetches every session conf over py4j, dozens of round
    trips a write."""
    from pyspark.sql.conf import RuntimeConfig

    from philotes_spark.sources.snapshots import SnapshotTable

    def boom(self):
        raise AssertionError("getAll on the snapshot write path")

    saved = spark.conf.get(_TS_TYPE, None)
    monkeypatch.setattr(RuntimeConfig, "getAll", property(boom))
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.merge(
        spark.createDataFrame([(2, "B")], "k long, v string"), key_cols=["k"]
    )
    monkeypatch.undo()
    assert spark.conf.get(_TS_TYPE, None) == saved
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "a"), (2, "B")]
