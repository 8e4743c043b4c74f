"""What the engine keeps for a SparkSession, and the one place that frees it.

Two kinds of state outlive a single query build:

- memos: prepared query DataFrames and trained ANN indexes, built once
  per key (``(name, sf_dir)``, ``(kind, sf_dir)``) and reused
  (:func:`memo`);
- blocks: DataFrames the engine persists or locally checkpoints
  (:func:`keep`), freed one at a time (:func:`release`) or all at once
  (:func:`clear`, which ``registry.invalidate_query_cache`` calls).

The store belongs to the session object, so a new session (say, after
the first one stopped) never serves another session's memos, and
invalidation frees exactly the blocks the engine made, never a caller's
own cached data. This is the explicit-state, explicit-invalidation model
of incremental top-k similarity search over interactive sessions
(EDBT 2020).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_ATTR = "_philotes_state"


def _store(spark: SparkSession) -> tuple[dict, dict]:
    """``spark``'s (memos, kept): kept maps ``id(df)`` to ``(df, the
    checkpoint's RDD id, or None for a persist)``."""
    return spark.__dict__.setdefault(_ATTR, ({}, {}))


def memo(spark: SparkSession, key: Any, build: Callable[[], Any]) -> Any:
    """``build()``'s value, built once per ``key`` for this session."""
    memos = _store(spark)[0]
    if key not in memos:
        # threads may race to build a key: the first result stays, and
        # the blocks any build kept are freed with the rest
        memos.setdefault(key, build())
    return memos[key]


def keep(df: DataFrame, checkpoint: bool = False) -> DataFrame:
    """``df`` persisted, or (``checkpoint``) eagerly local-checkpointed,
    and recorded in its session's store until :func:`release` or
    :func:`clear`. A checkpoint cuts the lineage: its blocks live on the
    executors and cannot be recomputed."""
    if checkpoint:
        df = df.localCheckpoint(eager=True)
        rdd_id = df._jdf.logicalPlan().rdd().id()
    else:
        df, rdd_id = df.persist(), None
    _store(df.sparkSession)[1][id(df)] = (df, rdd_id)
    return df


def release(df: DataFrame) -> None:
    """Free the blocks :func:`keep` made for ``df``, and only those;
    returns once they are gone."""
    entry = _store(df.sparkSession)[1].pop(id(df), None)
    if entry is not None:
        _free(*entry)


def clear(spark: SparkSession) -> None:
    """Drop every memo of ``spark`` and free every block it kept. A
    stopped session's blocks went with its context."""
    _, kept = spark.__dict__.pop(_ATTR, ({}, {}))
    if spark.sparkContext._jsc is not None:
        for df, rdd_id in list(kept.values()):
            _free(df, rdd_id)


def _free(df: DataFrame, rdd_id: int | None) -> None:
    if rdd_id is None:
        df.unpersist(blocking=True)
    else:
        # RDD.unpersist logs a WARN on every call for a locally
        # checkpointed RDD; unpersistRDD frees the same blocks quietly
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, True)
