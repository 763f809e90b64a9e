"""Python DataSource API (sources/pyds.py): the zarr_py registered
format must infer the schema from .zarray, declare one InputPartition
per chunk, and return exactly what the mapInPandas reader returns."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.sources.pyds import ZarrPyDataSource, register_zarr_py
from burst_db_spark.sources.zarr import read_zarr_array, write_zarr_cube
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def cube_store(spark, tmp_path_factory):
    store = str(tmp_path_factory.mktemp("pyds") / "cube")
    li = load(spark, SF_DIR, "lineitem")
    cells = (
        li.select(
            ((F.year("l_shipdate") - 1995) * 12 + F.month("l_shipdate") - 1).alias(
                "t"
            ),
            (F.col("l_suppkey") % 8).alias("si"),
            (F.col("l_partkey") % 8).alias("pi"),
            F.floor("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("t", "si", "pi")
        .agg(F.sum("q").cast("bigint").alias("v"))
    )
    write_zarr_cube(
        cells,
        store,
        ["t", "si", "pi"],
        "v",
        shape=(84, 8, 8),
        chunks=(12, 8, 8),
        compressor={"id": "zlib", "level": 6},
    )
    register_zarr_py(spark)
    return store


def test_schema_inferred_and_partition_per_chunk(spark, cube_store):
    df = (
        spark.read.format("zarr_py")
        .option("store", cube_store)
        .option("dims", "t,si,pi")
        .load()
    )
    assert df.schema.simpleString() == (
        "struct<t:bigint,si:bigint,pi:bigint,value:bigint>"
    )
    # 84/12 = 7 time chunks, 1 chunk per other dim
    assert df.rdd.getNumPartitions() == 7
    assert df.count() == 84 * 8 * 8


def test_matches_mapinpandas_reader(spark, cube_store):
    via_ds = (
        spark.read.format("zarr_py")
        .option("store", cube_store)
        .option("dims", "t,si,pi")
        .load()
    )
    via_fn = read_zarr_array(spark, cube_store, dim_names=["t", "si", "pi"])
    assert sorted(map(tuple, via_ds.collect())) == sorted(
        map(tuple, via_fn.collect())
    )


def test_value_col_and_missing_store_errors(spark, cube_store):
    df = (
        spark.read.format("zarr_py")
        .option("store", cube_store)
        .option("value_col", "qty")
        .load()
    )
    assert df.columns == ["i0", "i1", "i2", "qty"]
    with pytest.raises(Exception):
        spark.read.format("zarr_py").load().collect()


def test_datasource_name():
    assert ZarrPyDataSource.name() == "zarr_py"


def test_stream_reader_incremental_append(spark, cube_store, tmp_path):
    """DataSourceStreamReader: run availableNow over the existing
    t-chunks, append a whole chunk row along dim 0 (+ patch .zarray),
    restart from the same checkpoint — only the NEW chunk's rows are
    emitted (offset = processed t-chunk count), no duplicates, and the
    final sink equals a batch read of the grown store."""
    import json
    import shutil

    # work on a private copy: this test mutates the store
    store = str(tmp_path / "cube")
    shutil.copytree(cube_store, store)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("zarr_py")
            .option("store", store)
            .option("dims", "t,si,pi")
            .load()
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(sink).count()
    assert n1 == 84 * 8 * 8

    # append one whole t-chunk row: clone t-chunk 0's single file (the
    # chunk grid is (7, 1, 1)) and grow the declared shape 84 -> 96
    shutil.copyfile(os.path.join(store, "0.0.0"), os.path.join(store, "7.0.0"))
    zarray = os.path.join(store, ".zarray")
    meta = json.load(open(zarray))
    meta["shape"][0] = 96
    json.dump(meta, open(zarray, "w"))

    run_once()
    got = spark.read.parquet(sink)
    assert got.count() == 96 * 8 * 8
    assert got.groupBy("t", "si", "pi").count().where("count > 1").count() == 0
    # the streamed union equals a batch read of the grown store
    batch = (
        spark.read.format("zarr_py")
        .option("store", store)
        .option("dims", "t,si,pi")
        .load()
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_reader_partial_chunk_growth(spark, cube_store, tmp_path):
    """ADVICE r5: rows appended INSIDE an already-partial edge chunk
    must not be skipped. Row-based offsets carry the .zarray snapshot
    that defined them, so batch N+1 re-enters the same chunk index with
    the in-chunk row range [old_shape, new_shape). Sequence: declare a
    partial edge chunk (78 of 84 rows), drain, grow it to full (84),
    drain, then append a whole new chunk (96) — every drain emits
    exactly the delta, no dupes, final sink == batch read."""
    import json
    import shutil

    store = str(tmp_path / "cube")
    shutil.copytree(cube_store, store)
    zarray = os.path.join(store, ".zarray")

    def set_shape(n):
        meta = json.load(open(zarray))
        meta["shape"][0] = n
        json.dump(meta, open(zarray, "w"))

    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("zarr_py")
            .option("store", store)
            .option("dims", "t,si,pi")
            .load()
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    set_shape(78)  # edge chunk 6 only partially filled (72..77)
    run_once()
    assert spark.read.parquet(sink).count() == 78 * 8 * 8

    set_shape(84)  # the partial chunk fills up — 6 new rows in chunk 6
    run_once()
    got = spark.read.parquet(sink)
    assert got.count() == 84 * 8 * 8
    assert got.groupBy("t", "si", "pi").count().where("count > 1").count() == 0

    # then a whole appended chunk still works on top
    shutil.copyfile(os.path.join(store, "0.0.0"), os.path.join(store, "7.0.0"))
    set_shape(96)
    run_once()
    got = spark.read.parquet(sink)
    assert got.count() == 96 * 8 * 8
    assert got.groupBy("t", "si", "pi").count().where("count > 1").count() == 0
    batch = (
        spark.read.format("zarr_py")
        .option("store", store)
        .option("dims", "t,si,pi")
        .load()
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_batch_writer_roundtrip_and_append_merge(spark, tmp_path):
    """df.write.format('zarr_py'): overwrite round-trips exactly; append
    merges new chunk files over existing ones (untouched chunks keep
    their data)."""
    from burst_db_spark.sources.zarr import chunk_repartitioned

    store = str(tmp_path / "wcube")
    df = (
        spark.range(0, 24 * 4)
        .selectExpr(
            "id % 24 AS t",
            "CAST(floor(id / 24) AS LONG) AS s",
            "id * 7 % 100 AS v",
        )
    )
    opts = dict(store=store, dims="t,s", value_col="v", shape="24,4",
                chunks="8,4")
    w = chunk_repartitioned(df, ["t", "s"], [8, 4]).write.format("zarr_py")
    for k, val in opts.items():
        w = w.option(k, val)
    w.mode("overwrite").save()
    back = (
        spark.read.format("zarr_py").option("store", store)
        .option("dims", "t,s").option("value_col", "v").load()
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # append: rewrite only the t-chunk [8, 16) with v+1000
    patch = df.where("t >= 8 AND t < 16").withColumn(
        "v", F.col("v") + 1000
    )
    w2 = chunk_repartitioned(patch, ["t", "s"], [8, 4]).write.format("zarr_py")
    for k, val in opts.items():
        w2 = w2.option(k, val)
    w2.mode("append").save()
    got = {
        (r.t, r.s): r.v
        for r in spark.read.format("zarr_py").option("store", store)
        .option("dims", "t,s").option("value_col", "v").load().collect()
    }
    for (t, s), v in got.items():
        base = (t + s * 24) * 7 % 100
        assert v == (base + 1000 if 8 <= t < 16 else base), (t, s)


def test_batch_writer_rejects_chunk_spanning_tasks(spark, tmp_path):
    """The two-phase commit must refuse a layout where one chunk's rows
    were written by two tasks (lost-update risk) with an actionable
    error."""
    import pytest as _pytest

    df = spark.range(0, 64).selectExpr("id % 16 AS t", "id AS v")
    with _pytest.raises(Exception, match="written by two tasks"):
        (
            df.repartition(8)  # round-robin: chunks span tasks
            .write.format("zarr_py")
            .option("store", str(tmp_path / "bad"))
            .option("dims", "t").option("value_col", "v")
            .option("shape", "16").option("chunks", "4")
            .mode("overwrite").save()
        )


def test_stream_writer_restart_is_idempotent(spark, tmp_path):
    """writeStream.format('zarr_py'): an availableNow drain publishes
    every chunk batch-by-batch with monotone shape growth; a SECOND
    drain from the same checkpoint (no new data) changes nothing."""
    import json

    from burst_db_spark.sources.zarr import chunk_repartitioned

    in_dir, store = tmp_path / "in", str(tmp_path / "scube")
    for i in range(3):
        d = str(in_dir / f"b{i}")
        spark.range(i * 4, (i + 1) * 4).selectExpr(
            "id AS t", "id * 11 AS v"
        ).coalesce(1).write.parquet(d)
        for fn in os.listdir(d):
            os.utime(os.path.join(d, fn), (1_700_000_000 + i * 3600,) * 2)

    def drain():
        stream = (
            spark.readStream.format("parquet").schema("t long, v long")
            .option("maxFilesPerTrigger", "1").load(str(in_dir / "*"))
        )
        q = (
            chunk_repartitioned(stream, ["t"], [4], n_partitions=2)
            .writeStream.format("zarr_py")
            .option("store", store).option("dims", "t")
            .option("value_col", "v")
            .option("shape", "4").option("chunks", "4")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()

    drain()
    meta = json.load(open(os.path.join(store, ".zarray")))
    assert meta["shape"] == [12]  # grew 4 -> 8 -> 12 across commits
    read = lambda: sorted(  # noqa: E731
        map(
            tuple,
            spark.read.format("zarr_py").option("store", store)
            .option("dims", "t").option("value_col", "v").load().collect(),
        )
    )
    first = read()
    assert first == [(t, t * 11) for t in range(12)]
    drain()  # restart with exhausted input: nothing may change
    assert read() == first
