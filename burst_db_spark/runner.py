"""One query scope and one query runner.

A query's temporary state belongs to the query, as it belongs to the
connection in an embedded engine. Builders persist frames, checkpoint
them and stage files through :func:`persist`, :func:`checkpoint` and
:func:`tmpdir`; each registers what it makes in the innermost open
:func:`scope`, which frees every registered frame and removes every
registered dir when it exits, on success or failure. A loop that
replaces its state each round frees the old round at once through
:func:`release`. The registry is a context variable, so two queries
running in different driver threads each release only their own state,
and a builder's pool threads join their caller's scope when submitted
through ``contextvars.copy_context().run``. With no scope open, the
calls only do their own work and release nothing, except
:func:`release`, which always frees what it is given.

A released checkpoint is gone for good: a frame that still reads it
fails, where one that reads a released cache only recomputes. A builder
therefore releases no checkpoint its returned frame reads, and returns
no frame out of an inner scope that owns a checkpoint the frame reads.

:func:`run` is the one way to time or verify a registered query.
"""

from __future__ import annotations

import shutil
import tempfile
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame, SparkSession

_OWNED: ContextVar[list | None] = ContextVar("burst_db_spark_scope", default=None)


@contextmanager
def scope() -> Iterator[None]:
    """Own every frame persisted or checkpointed and every dir staged
    until the block exits."""
    owned: list = []
    token = _OWNED.set(owned)
    try:
        yield
    finally:
        _OWNED.reset(token)
        for item in reversed(owned):
            _free(item)


def _own(item):
    owned = _OWNED.get()
    if owned is not None:
        owned.append(item)
    return item


def _free(item) -> None:
    if isinstance(item, str):
        shutil.rmtree(item, ignore_errors=True)
        return
    if item.is_cached:
        item.unpersist()
    # a local checkpoint (which may also have been persisted):
    # DataFrame.unpersist() frees none of its blocks, so free the
    # checkpointed RDD's blocks by id (RDD.unpersist would log that a
    # locally checkpointed RDD cannot be recomputed, once per release)
    plan = item._jdf.queryExecution().analyzed()
    if plan.nodeName() == "LogicalRDD" and plan.rdd().isLocallyCheckpointed():
        sc = item.sparkSession.sparkContext._jsc.sc()
        sc.unpersistRDD(plan.rdd().id(), False)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, released when the current scope exits. A frame
    whose plan is already cached is returned as is and registers
    nothing: the cache's owner releases it."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk:
        return df
    return _own(df.persist())


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, released when the current
    scope exits."""
    return _own(df.localCheckpoint(eager=True))


def release(*dfs: DataFrame) -> None:
    """Free, now, the cache and checkpoint each of these frame objects
    made, and drop them from the current scope. A frame whose plan only
    reads a cache another frame made is left alone."""
    owned = _OWNED.get()
    for df in dfs:
        if owned is not None:
            try:
                owned.remove(df)  # by identity: frames define no __eq__
            except ValueError:
                pass
        _free(df)


def tmpdir(prefix: str) -> str:
    """A new staging dir, removed when the current scope exits."""
    return _own(tempfile.mkdtemp(prefix=prefix))


def noop_write(df: DataFrame) -> None:
    """Execute ``df`` in full and discard the rows: the timers' action."""
    df.write.format("noop").mode("overwrite").save()


def run(spec, spark: SparkSession, sf_dir: str, act: Callable[[DataFrame], object]):
    """Build ``spec`` and apply ``act`` to the built frame inside one
    scope, with the query's name as the job group. Returns
    ``(act's result, build seconds, build + act seconds)``; the scope
    releases the query's state after the timer stops."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    before = [(k, sc.getLocalProperty(k)) for k in keys]
    sc.setJobGroup(spec.name, spec.name)
    try:
        with scope():
            t0 = time.perf_counter()
            df = spec.build(spark, sf_dir)
            t1 = time.perf_counter()
            result = act(df)
            t2 = time.perf_counter()
    finally:
        for k, v in before:
            sc.setLocalProperty(k, v)
    return result, t1 - t0, t2 - t0
