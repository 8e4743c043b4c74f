"""``registry.invalidate_query_cache`` makes the next run of every query
cold, for every fixture directory at once."""

import shutil
import time

from philotes_spark import registry
from philotes_spark.similarity import queries as simq


def test_invalidate_drops_every_dir_memos_and_persisted_data(
    spark, sf_dir, tmp_path
):
    """Spark's ``clearCache`` is session-wide, so invalidation must drop
    the index memos and prepared queries of EVERY directory: a memo kept
    for another directory would hold an unpersisted DataFrame that
    silently re-encodes the corpus on every action. The storage check
    covers the RDDs these queries persisted: a shared test session also
    holds RDDs that other tests persisted through the RDD API, which
    ``clearCache`` does not own."""
    registry.load_all()
    dirs = []
    for name in ("a", "b"):
        d = str(tmp_path / name)
        shutil.copytree(sf_dir, d)
        dirs.append(d)
    jsc = spark.sparkContext._jsc.sc()

    def stored() -> set[int]:
        return {i.id() for i in jsc.getRDDStorageInfo()}

    before = stored()
    for d in dirs:
        registry.QUERIES["sim_ivf_topk"](spark, d).collect()
    assert set(dirs) <= set(simq._IVF_INDEX)
    built = stored() - before
    assert built, "the IVF indexes are persisted"

    registry.invalidate_query_cache(spark)

    assert simq._IVF_INDEX == {}
    assert simq._PQ_INDEX == {}
    assert simq._IVFPQ_INDEX == {}
    assert spark.__dict__.get("_philotes_query_cache", {}) == {}
    # unpersist may finish asynchronously
    deadline = time.monotonic() + 10.0
    while stored() & built and time.monotonic() < deadline:
        time.sleep(0.05)
    assert stored() & built == set()
