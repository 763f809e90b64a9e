"""One query scope and one query runner.

A query's temporary state belongs to the query, as it belongs to the
connection in an embedded engine. Builders persist frames and stage
files through :func:`persist` and :func:`tmpdir`; both register what
they make in the innermost open :func:`scope`, which unpersists every
registered frame and removes every registered dir when it exits, on
success or failure. The registry is a context variable, so two queries
running in different driver threads each release only their own state,
and a builder's pool threads join their caller's scope when submitted
through ``contextvars.copy_context().run``. With no scope open, both
calls only do their own work and release nothing.

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
    """Own every frame persisted and dir staged until the block exits."""
    owned: list = []
    token = _OWNED.set(owned)
    try:
        yield
    finally:
        _OWNED.reset(token)
        for item in reversed(owned):
            if isinstance(item, str):
                shutil.rmtree(item, ignore_errors=True)
            else:
                item.unpersist()


def _own(item):
    owned = _OWNED.get()
    if owned is not None:
        owned.append(item)
    return item


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, released when the current scope exits."""
    return _own(df.persist())


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
