"""``registry.invalidate_query_cache`` makes the next run of every query
cold, for every fixture directory at once, by freeing exactly what the
engine keeps for the session (``philotes_spark.state``)."""

import os
import re
import shutil
import subprocess
import sys
import textwrap

from philotes_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _stored(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_invalidate_drops_every_dir_memos_and_persisted_data(
    spark, sf_dir, tmp_path
):
    """Invalidation drops the index memos and prepared queries of EVERY
    directory and frees the indexes' blocks before it returns. The
    storage check covers the RDDs these queries persisted: a shared test
    session also holds RDDs that other tests persisted through the RDD
    API, which the engine does not own."""
    from philotes_spark import state

    registry.load_all()
    dirs = []
    for name in ("a", "b"):
        d = str(tmp_path / name)
        shutil.copytree(sf_dir, d)
        dirs.append(d)

    before = _stored(spark)
    for d in dirs:
        registry.QUERIES["sim_ivf_topk"](spark, d).collect()
    assert {("ivf_index", d) for d in dirs} <= set(state._store(spark)[0])
    built = _stored(spark) - before
    assert built, "the IVF indexes are persisted"

    registry.invalidate_query_cache(spark)

    assert state._store(spark) == ({}, {})
    assert _stored(spark) & built == set()


def test_invalidate_frees_every_checkpoint_the_queries_made(spark, sf_dir):
    """Queries that locally checkpoint (snapshot reads, the IVF-PQ
    portable twin) or iterate over checkpoints (BPE merges, connected
    components) leave no RDD in storage once invalidated: the engine
    frees each iteration's checkpoint when the next one is materialized,
    and invalidation frees what the built queries still hold."""
    registry.load_all()
    registry.invalidate_query_cache(spark)
    before = _stored(spark)
    for name in (
        "sim_ivfpq_portable",
        "snapshot_version_as_of",
        "snapshot_history",
        "snapshot_partitions",
        "text_bpe_merges",
        "dedup_connected_components",
    ):
        registry.QUERIES[name](spark, sf_dir).collect()
    built = _stored(spark) - before
    assert built, "the queries keep checkpoints"

    registry.invalidate_query_cache(spark)

    assert _stored(spark) & built == set()


def test_invalidate_keeps_a_callers_own_cache(spark):
    """Invalidation frees the engine's blocks, not the session's: a
    DataFrame the caller persisted stays in storage."""
    mine = spark.range(7).selectExpr("id * 3 AS x").persist()
    try:
        assert mine.count() == 7
        ids = _stored(spark)
        registry.invalidate_query_cache(spark)
        assert ids <= _stored(spark)
        assert mine.storageLevel.useMemory
    finally:
        mine.unpersist(blocking=True)


def test_fresh_session_after_stop_builds_its_own_index(sf_dir, tmp_path):
    """The store belongs to the session: after the first session stops,
    a new one builds its own IVF index instead of serving a DataFrame of
    the stopped session. Runs in its own process, since stopping the
    shared test session would end every other test's."""
    script = textwrap.dedent(
        f"""
        from philotes_spark import registry
        from philotes_spark.session import get_spark

        registry.load_all()
        sf = {sf_dir!r}
        first = get_spark(app_name="first", cpus=2)
        assert registry.QUERIES["sim_ivf_topk"](first, sf).count() == 50
        first.stop()
        second = get_spark(app_name="second", cpus=2)
        print("ROWS", registry.QUERIES["sim_ivf_topk"](second, sf).count())
        second.stop()
        """
    )
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SPARK_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path),
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS 50" in out.stdout, out.stdout


def test_engine_keeps_blocks_only_through_the_store():
    """Every persist, cache and checkpoint in the engine goes through
    ``state.keep``, so invalidation can free it; nothing clears the
    session-wide cache."""
    pkg = os.path.join(REPO, "philotes_spark")
    owner = os.path.join(pkg, "state.py")
    banned = re.compile(
        r"\.(?:persist|cache|localCheckpoint|checkpoint)\(|clearCache"
    )
    hits = []
    for root, _, files in os.walk(pkg):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == owner:
                continue
            with open(path, encoding="utf-8") as fh:
                for n, line in enumerate(fh, 1):
                    if banned.search(line):
                        hits.append(f"{os.path.relpath(path, REPO)}:{n}")
    assert hits == []
