"""Zarr v2 source/sink: chunk-parallel long-form read, distributed
chunk write, codec + layout edge cases."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from burst_db_spark.sources.zarr import (
    read_zarr_array,
    write_zarr_array,
    write_zarr_cube,
)


def _store(tmp_path, name="cube"):
    return str(tmp_path / name)


def _as_dict(df, dims):
    return {tuple(r[d] for d in dims): r["value"] for r in df.collect()}


class TestReadWrite:
    def test_roundtrip_edge_chunks_zlib(self, spark, tmp_path):
        rng = np.random.RandomState(3)
        a = rng.randint(-50, 50, size=(5, 7)).astype("<i8")
        st = _store(tmp_path)
        write_zarr_array(st, a, chunks=(2, 3), compressor={"id": "zlib", "level": 6})
        got = _as_dict(read_zarr_array(spark, st, ["r", "c"]), ["r", "c"])
        assert len(got) == a.size
        assert all(got[(r, c)] == a[r, c] for r in range(5) for c in range(7))

    def test_missing_chunk_is_fill(self, spark, tmp_path):
        a = np.arange(16, dtype="<f8").reshape(4, 4)
        st = _store(tmp_path)
        write_zarr_array(st, a, chunks=(2, 2), compressor=None, fill_value=-9.5)
        os.remove(os.path.join(st, "1.1"))
        got = _as_dict(read_zarr_array(spark, st, ["r", "c"]), ["r", "c"])
        assert got[(3, 3)] == -9.5 and got[(0, 0)] == 0.0

    def test_fortran_order_and_slash_separator(self, spark, tmp_path):
        a = np.arange(24, dtype="<i4").reshape(4, 6)
        st = _store(tmp_path)
        os.makedirs(st)
        meta = {
            "zarr_format": 2, "shape": [4, 6], "chunks": [4, 6],
            "dtype": "<i4", "compressor": None, "fill_value": 0,
            "order": "F", "filters": None, "dimension_separator": "/",
        }
        with open(os.path.join(st, ".zarray"), "w") as f:
            json.dump(meta, f)
        os.makedirs(os.path.join(st, "0"))
        with open(os.path.join(st, "0", "0"), "wb") as f:
            f.write(a.tobytes(order="F"))
        got = _as_dict(read_zarr_array(spark, st, ["r", "c"]), ["r", "c"])
        assert all(got[(r, c)] == a[r, c] for r in range(4) for c in range(6))

    def test_blosc_and_filters_raise(self, spark, tmp_path):
        a = np.zeros((2, 2), dtype="<i8")
        st = _store(tmp_path)
        write_zarr_array(st, a, chunks=(2, 2))
        meta = json.load(open(os.path.join(st, ".zarray")))
        meta["compressor"] = {"id": "blosc", "cname": "zstd"}
        json.dump(meta, open(os.path.join(st, ".zarray"), "w"))
        with pytest.raises(NotImplementedError):
            read_zarr_array(spark, st, ["r", "c"])
        meta["compressor"] = None
        meta["filters"] = [{"id": "delta"}]
        json.dump(meta, open(os.path.join(st, ".zarray"), "w"))
        with pytest.raises(NotImplementedError):
            read_zarr_array(spark, st, ["r", "c"])

    def test_distributed_cube_write(self, spark, tmp_path):
        rows = [
            (int(t), int(y), int(t * 100 + y))
            for t in range(9)
            for y in range(5)
            if (t + y) % 4 != 0
        ]
        df = spark.createDataFrame(rows, "t long, y long, v long")
        st = _store(tmp_path)
        write_zarr_cube(
            df, st, ["t", "y"], "v", shape=(9, 5), chunks=(4, 5),
            compressor={"id": "gzip"},
        )
        got = _as_dict(read_zarr_array(spark, st, ["t", "y"]), ["t", "y"])
        for t in range(9):
            for y in range(5):
                want = t * 100 + y if (t + y) % 4 != 0 else 0
                assert got[(t, y)] == want
        # wholly-empty chunks must not be materialized
        n_files = len([p for p in os.listdir(st) if p != ".zarray"])
        assert n_files <= 3

    def test_one_task_per_chunk_read(self, spark, tmp_path):
        a = np.arange(64, dtype="<i8").reshape(8, 8)
        st = _store(tmp_path)
        write_zarr_array(st, a, chunks=(2, 8))
        df = read_zarr_array(spark, st, ["r", "c"])
        plan = df._jdf.queryExecution().executedPlan().toString()
        # decode happens in python workers over the chunk list — no join,
        # no extra exchange beyond the chunk-id repartition
        assert "MapInPandas" in plan

    def test_group_with_coords(self, spark, tmp_path):
        import json

        from burst_db_spark.sources.zarr import (
            read_zarr_coord,
            read_zarr_group,
            write_zarr_group,
        )

        st = _store(tmp_path, "grp")
        times = np.array([100, 200, 300, 400], dtype="<i8")
        write_zarr_group(st, {"t": times})
        a = np.arange(4 * 3, dtype="<f8").reshape(4, 3)
        write_zarr_array(os.path.join(st, "v"), a, chunks=(2, 3))
        assert json.load(open(os.path.join(st, ".zgroup")))["zarr_format"] == 2
        assert list(read_zarr_coord(st, "t")) == [100, 200, 300, 400]
        df = read_zarr_group(spark, st, "v", ["t", "y"])
        got = {(r["t"], r["y"]): r["value"] for r in df.collect()}
        # time carries coordinate VALUES; y (no coord array) keeps indices
        assert got[(100, 0)] == 0.0 and got[(400, 2)] == 11.0
        assert len(got) == 12
