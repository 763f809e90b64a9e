"""Data-derived shuffle/state partition counts for one-shot micro-batch
drains (burst_db_spark.streaming.drain_partitions), and the drain helpers
that apply them (run_drain/drain) without leaving the session changed.

The derivation must be a pure function of the staged INPUT DATA — never
of the core count — so the driver's 8-core and 32-core bench runs
execute the identical streaming shape, and at large volume the byte
term grows the parallelism back."""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from burst_db_spark import streaming
from burst_db_spark.streaming import (
    _DRAIN_MAX_PARTITIONS,
    _DRAIN_TARGET_BYTES,
    drain,
    drain_partitions,
    run_drain,
)


def _stage(tmp_path, name: str, n_files: int, bytes_per_file: int) -> str:
    d = tmp_path / name
    d.mkdir()
    for i in range(n_files):
        (d / f"part-{i:05d}.parquet").write_bytes(b"\0" * bytes_per_file)
    # metadata files must NOT count
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-00000.crc").write_bytes(b"\0" * 1024)
    return str(d)


def test_file_count_floor(tmp_path):
    p = _stage(tmp_path, "tiny", 4, 1024)
    assert drain_partitions(p) == 4  # 4 staged files, bytes ~0


def test_byte_term_grows_with_volume(tmp_path):
    small = _stage(tmp_path, "small", 1, 1024)
    big = _stage(tmp_path, "big", 1, 3 * _DRAIN_TARGET_BYTES + 1)
    assert drain_partitions(small) == 1
    assert drain_partitions(big) == 4  # ceil(3*64MiB+1 / 64MiB)


def test_cap(tmp_path):
    lots = _stage(tmp_path, "lots", 4097, 1)
    assert drain_partitions(lots) == _DRAIN_MAX_PARTITIONS


def test_multiple_paths_sum(tmp_path):
    a = _stage(tmp_path, "a", 2, 1024)
    b = _stage(tmp_path, "b", 3, 1024)
    assert drain_partitions(a, b) == 5


def test_core_count_independent(tmp_path, monkeypatch):
    # the derivation must not consult the scheduler/core count at all
    p = _stage(tmp_path, "x", 2, 1024)
    monkeypatch.setattr(os, "cpu_count", lambda: 999)
    assert drain_partitions(p) == 2


def _stage_ids(spark, tmp: str, n_files: int):
    """Stage ``n_files`` real parquet files under ``{tmp}/in``; return the
    streaming per-residue count over them."""
    spark.range(0, 60, 1, numPartitions=n_files).write.parquet(f"{tmp}/in")
    return (
        spark.readStream.schema("id long").parquet(f"{tmp}/in")
        .groupBy((F.col("id") % 3).alias("r"))
        .agg(F.count("*").alias("n"))
    )


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _offset_partitions(ckpt: str) -> str:
    with open(f"{ckpt}/offsets/0") as f:
        meta = json.loads(f.read().splitlines()[1])
    return meta["conf"]["spark.sql.shuffle.partitions"]


def test_conf_scoping_restores(spark, tmp_path):
    tmp = str(tmp_path / "d")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    views = _temp_views(spark)
    got = drain(_stage_ids(spark, tmp, 3), tmp)
    assert sorted((r.r, r.n) for r in got.collect()) == [(0, 20), (1, 20), (2, 20)]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert _temp_views(spark) == views
    assert not os.path.exists(tmp)


def test_conf_restored_on_error(spark, tmp_path):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    views = _temp_views(spark)
    # start() fails: the conf is restored and the lock released
    tmp = str(tmp_path / "a")
    agg = _stage_ids(spark, tmp, 2)
    with pytest.raises(Py4JJavaError):
        run_drain(spark, agg.writeStream.format("no.such.sink"), tmp)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # the drain itself fails: no view or staging dir is left behind
    tmp = str(tmp_path / "b")
    bad = _stage_ids(spark, tmp, 1).select(
        "r", F.assert_true(F.col("n") < 0).alias("never")
    )
    with pytest.raises(StreamingQueryException):
        drain(bad, tmp)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert _temp_views(spark) == views
    assert not os.path.exists(tmp)


def test_overlapping_drains_keep_their_own_partitions(spark, tmp_path, monkeypatch):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    views = _temp_views(spark)
    tmps = {n: str(tmp_path / f"t{n}") for n in (2, 5)}
    aggs = {n: _stage_ids(spark, tmp, n) for n, tmp in tmps.items()}
    recorded = {}

    def rmtree(path, ignore_errors=False):
        recorded[path] = _offset_partitions(f"{path}/ckpt")
        shutil.rmtree(path, ignore_errors=ignore_errors)

    monkeypatch.setattr(streaming, "shutil", SimpleNamespace(rmtree=rmtree))
    with ThreadPoolExecutor(2) as pool:
        futs = {n: pool.submit(drain, aggs[n], tmps[n]) for n in tmps}
        got = {n: sorted(tuple(r) for r in f.result(timeout=120).collect())
               for n, f in futs.items()}
    assert got[2] == got[5] == [(0, 20), (1, 20), (2, 20)]
    assert recorded == {tmps[n]: str(n) for n in tmps}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert _temp_views(spark) == views
    assert not any(os.path.exists(t) for t in tmps.values())
