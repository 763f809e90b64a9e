"""Zarr v2 chunked-array source and sink (SURVEY.md §2.1 S11 — the
reference opens GFS weather cubes with ``xr.open_zarr`` and subsets by
bbox+time: egms-snow-comparison-data-prep.ipynb cells 3-9,
snow_month_filter.py:31-68).

A zarr v2 directory store is public, trivially simple on-disk metadata:
``.zarray`` (JSON: shape/chunks/dtype/compressor/fill_value/order) next
to one file per chunk named ``i.j.k`` (or ``i/j/k``). That layout is
already the shape Spark wants — *a chunk is a split*:

- **read**: the driver reads only the tiny JSON; the chunk grid becomes
  a one-row-per-chunk DataFrame, and ``mapInPandas`` tasks each open,
  decompress, and vectorize exactly one chunk into long-form rows
  (dim indices + value) with numpy — no per-element Python. A 100 TB
  cube with 1e6 chunks is 1e6 independent splits; missing chunk files
  materialize as ``fill_value`` without reading anything.
- **write**: rows are grouped by the chunk their indices land in
  (pure column arithmetic → one hash exchange), and ``applyInPandas``
  tasks assemble + compress + write each chunk file independently —
  chunks never overlap, so the sink needs no coordination beyond the
  driver dropping the final ``.zarray``.

Codecs: ``null`` (raw), ``zlib``, ``gzip`` (stdlib) always work; zstd
is probed at import; ``blosc`` (the common default in the wild) has no
pure-python stdlib decode, so it raises a clearly-marked
NotImplementedError rather than pretending.
"""

from __future__ import annotations

import json
import os
import zlib
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from burst_db_spark.session import parallelism

try:  # optional; not in the base image
    import zstandard as _zstd  # type: ignore
except Exception:  # pragma: no cover - absence is the normal case
    _zstd = None

_SPARK_TYPES = {"i8": "bigint", "i4": "int", "f8": "double", "f4": "float"}


def _meta_path(store: str) -> str:
    return os.path.join(store, ".zarray")


def _load_meta(store: str) -> dict:
    with open(_meta_path(store)) as f:
        meta = json.load(f)
    if meta.get("zarr_format") != 2:
        raise ValueError(f"not a zarr v2 array: {store}")
    if meta.get("filters"):
        raise NotImplementedError("zarr filters are not supported")
    comp = meta.get("compressor")
    if comp is not None and comp.get("id") not in ("zlib", "gzip", "zstd"):
        raise NotImplementedError(
            f"zarr compressor {comp.get('id')!r} not supported "
            "(null/zlib/gzip/zstd only; blosc needs the blosc library)"
        )
    return meta


def _decompress(buf: bytes, comp: dict | None) -> bytes:
    if comp is None:
        return buf
    cid = comp["id"]
    if cid == "zlib":
        return zlib.decompress(buf)
    if cid == "gzip":
        return zlib.decompress(buf, wbits=31)
    if cid == "zstd":
        if _zstd is None:  # pragma: no cover
            raise NotImplementedError("zstd chunk but zstandard not installed")
        return _zstd.ZstdDecompressor().decompress(buf)
    raise NotImplementedError(cid)  # pragma: no cover - guarded in _load_meta


def _compress(buf: bytes, comp: dict | None) -> bytes:
    if comp is None:
        return buf
    cid = comp["id"]
    if cid == "zlib":
        return zlib.compress(buf, comp.get("level", 6))
    if cid == "gzip":
        co = zlib.compressobj(comp.get("level", 6), zlib.DEFLATED, 31)
        return co.compress(buf) + co.flush()
    if cid == "zstd":
        if _zstd is None:  # pragma: no cover
            raise NotImplementedError("zstd requested but zstandard not installed")
        return _zstd.ZstdCompressor(level=comp.get("level", 3)).compress(buf)
    raise NotImplementedError(cid)


def _chunk_path(store: str, idx: Sequence[int], sep: str) -> str:
    key = sep.join(str(i) for i in idx)
    return os.path.join(store, *key.split("/")) if sep == "/" else os.path.join(store, key)


def read_zarr_array(
    spark: SparkSession,
    store: str,
    dim_names: Sequence[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Read a zarr v2 array as a long-form DataFrame: one row per
    element, columns = global dim indices (bigint) + the value.

    One Spark task per chunk; the driver touches only ``.zarray``.
    """
    meta = _load_meta(store)
    shape = tuple(meta["shape"])
    chunks = tuple(meta["chunks"])
    dtype = np.dtype(meta["dtype"])
    order = meta.get("order", "C")
    comp = meta.get("compressor")
    fill = meta.get("fill_value", 0)
    sep = meta.get("dimension_separator", ".")
    ndim = len(shape)
    dims = list(dim_names) if dim_names else [f"i{d}" for d in range(ndim)]
    if len(dims) != ndim:
        raise ValueError(f"{len(dims)} dim names for {ndim}-d array")

    kind = dtype.str[1:]  # strip endianness
    spark_vt = _SPARK_TYPES.get(kind)
    if spark_vt is None:
        raise NotImplementedError(f"zarr dtype {meta['dtype']!r} not supported")
    out_schema = ", ".join(f"{d} bigint" for d in dims) + f", {value_col} {spark_vt}"

    grid = [range((shape[d] + chunks[d] - 1) // chunks[d]) for d in range(ndim)]
    import itertools

    keys = [list(t) for t in itertools.product(*grid)]
    cdf = spark.createDataFrame(
        [(k,) for k in keys], "chunk array<int>"
    ).repartition(min(len(keys), parallelism(spark) * 2))

    def decode(batches):
        np_dtype = dtype.newbyteorder("=")
        for pdf in batches:
            for cidx in pdf["chunk"]:
                cidx = list(cidx)
                path = _chunk_path(store, cidx, sep)
                if os.path.exists(path):
                    with open(path, "rb") as f:
                        raw = _decompress(f.read(), comp)
                    arr = np.frombuffer(raw, dtype=dtype).reshape(chunks, order=order)
                    arr = arr.astype(np_dtype, copy=False)
                else:
                    arr = np.full(chunks, fill, dtype=np_dtype)
                # trim the edge-chunk overhang beyond the array bounds
                slices = tuple(
                    slice(0, min(chunks[d], shape[d] - cidx[d] * chunks[d]))
                    for d in range(ndim)
                )
                arr = arr[slices]
                if arr.size == 0:
                    continue
                idx = np.indices(arr.shape).reshape(ndim, -1)
                cols = {
                    dims[d]: idx[d] + cidx[d] * chunks[d] for d in range(ndim)
                }
                cols[value_col] = arr.reshape(-1)
                yield pd.DataFrame(cols)

    return cdf.mapInPandas(decode, out_schema)


def read_zarr_coord(store: str, name: str):
    """Driver-side read of a 1-D coordinate array (``<store>/<name>``) —
    coords are metadata-scale (one value per grid line), never data-scale,
    so reading them on the driver mirrors xarray's lazy-open behavior."""
    import numpy as np

    sub = os.path.join(store, name)
    meta = _load_meta(sub)
    if len(meta["shape"]) != 1:
        raise ValueError(f"coordinate {name!r} is not 1-D")
    (n,) = meta["shape"]
    (c,) = meta["chunks"]
    dtype = np.dtype(meta["dtype"])
    comp = meta.get("compressor")
    sep = meta.get("dimension_separator", ".")
    out = np.full(n, meta.get("fill_value", 0), dtype=dtype.newbyteorder("="))
    for ci in range((n + c - 1) // c):
        path = _chunk_path(sub, (ci,), sep)
        if not os.path.exists(path):
            continue
        with open(path, "rb") as f:
            arr = np.frombuffer(_decompress(f.read(), comp), dtype=dtype)
        lo = ci * c
        out[lo : min(lo + c, n)] = arr[: min(c, n - lo)]
    return out


def read_zarr_group(
    spark: SparkSession,
    store: str,
    var: str,
    dims: Sequence[str],
    value_col: str = "value",
) -> DataFrame:
    """xarray-style open of a zarr GROUP: the data variable
    (``<store>/<var>``) plus its 1-D coordinate arrays (``<store>/<dim>``
    where present) → long-form DataFrame with COORDINATE VALUES as
    columns (the reference subsets GFS cubes by lat/lon/time values,
    not indices). Chunk-parallel data read; each coord rides in as a
    broadcast (idx, value) frame joined on the index — tiny by
    construction, so the joins never shuffle the data side."""
    if not os.path.exists(os.path.join(store, ".zgroup")):
        raise ValueError(f"not a zarr group: {store}")
    df = read_zarr_array(
        spark, os.path.join(store, var), dim_names=[f"__i_{d}" for d in dims],
        value_col=value_col,
    )
    for d in dims:
        sub = os.path.join(store, d)
        if not os.path.exists(_meta_path(sub)):
            df = df.withColumnRenamed(f"__i_{d}", d)  # no coord: keep index
            continue
        coord = read_zarr_coord(store, d)
        cdf = spark.createDataFrame(
            [(i, v.item()) for i, v in enumerate(coord)],
            f"__i_{d} long, {d} {'double' if coord.dtype.kind == 'f' else 'bigint'}",
        )
        df = df.join(F.broadcast(cdf), f"__i_{d}").drop(f"__i_{d}")
    return df


def write_zarr_group(
    store: str, coords: dict[str, "np.ndarray"], compressor: dict | None = None
) -> None:
    """Create the group skeleton: ``.zgroup`` + 1-D coordinate arrays.
    The data variable is written separately (``write_zarr_cube`` into
    ``<store>/<var>`` for the distributed path)."""
    os.makedirs(store, exist_ok=True)
    with open(os.path.join(store, ".zgroup"), "w") as f:
        json.dump({"zarr_format": 2}, f)
    for name, arr in coords.items():
        write_zarr_array(
            os.path.join(store, name), arr, chunks=(len(arr),), compressor=compressor
        )


def write_zarr_array(
    store: str,
    arr: "np.ndarray",
    chunks: Sequence[int],
    compressor: dict | None = None,
    fill_value=0,
) -> None:
    """Driver-side writer for a small (fixture/coord-scale) array —
    the distributed path is :func:`write_zarr_cube`."""
    os.makedirs(store, exist_ok=True)
    chunks = tuple(chunks)
    meta = {
        "zarr_format": 2,
        "shape": list(arr.shape),
        "chunks": list(chunks),
        "dtype": arr.dtype.str,
        "compressor": compressor,
        "fill_value": (
            fill_value.item() if isinstance(fill_value, np.generic) else fill_value
        ),
        "order": "C",
        "filters": None,
    }
    import itertools

    grid = [range((arr.shape[d] + chunks[d] - 1) // chunks[d]) for d in range(arr.ndim)]
    for cidx in itertools.product(*grid):
        sl = tuple(
            slice(cidx[d] * chunks[d], (cidx[d] + 1) * chunks[d])
            for d in range(arr.ndim)
        )
        block = arr[sl]
        if block.shape != chunks:  # pad the edge chunk to full size
            padded = np.full(chunks, fill_value, dtype=arr.dtype)
            padded[tuple(slice(0, s) for s in block.shape)] = block
            block = padded
        with open(_chunk_path(store, cidx, "."), "wb") as f:
            f.write(_compress(block.tobytes(order="C"), compressor))
    with open(_meta_path(store), "w") as f:
        json.dump(meta, f)


def write_zarr_cube(
    df: DataFrame,
    store: str,
    dims: Sequence[str],
    value_col: str,
    shape: Sequence[int],
    chunks: Sequence[int],
    dtype: str = "<i8",
    compressor: dict | None = None,
    fill_value=0,
) -> None:
    """Distributed zarr sink: long-form rows → chunk files.

    Each row's chunk is pure column arithmetic (``idx // chunk``), so
    the plan is one hash exchange on the chunk id followed by fully
    parallel ``applyInPandas`` chunk assembly — chunk files never
    overlap, so tasks need no coordination. Cells nobody wrote stay
    ``fill_value``; wholly-empty chunks are never materialized (reads
    synthesize them), which is what keeps a sparse 100 TB cube cheap.

    ``store`` must be a filesystem every task can reach (shared mount /
    NFS here; swap the ``open()`` calls for an fsspec filesystem to
    target S3/HDFS — the chunk-grouping plan is unchanged).
    """
    shape = tuple(int(s) for s in shape)
    chunks_t = tuple(int(c) for c in chunks)
    ndim = len(shape)
    if len(dims) != ndim or len(chunks_t) != ndim:
        raise ValueError("dims/shape/chunks rank mismatch")
    np_dtype = np.dtype(dtype)
    os.makedirs(store, exist_ok=True)

    ckey = F.array(
        *[
            F.floor(F.col(d).cast("long") / chunks_t[i]).cast("int")
            for i, d in enumerate(dims)
        ]
    )
    work = df.select(
        ckey.alias("__chunk"), *[F.col(d).cast("long") for d in dims], value_col
    )

    fill = fill_value

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        cidx = list(pdf["__chunk"].iloc[0])
        block = np.full(chunks_t, fill, dtype=np_dtype)
        local = tuple(
            pdf[dims[d]].to_numpy() - cidx[d] * chunks_t[d] for d in range(ndim)
        )
        block[local] = pdf[value_col].to_numpy().astype(np_dtype, copy=False)
        with open(_chunk_path(store, cidx, "."), "wb") as f:
            f.write(_compress(block.tobytes(order="C"), compressor))
        return pd.DataFrame({"n": [len(pdf)]})

    work.groupBy("__chunk").applyInPandas(build, "n long").agg(
        F.sum("n")
    ).collect()  # one action drives every chunk write

    meta = {
        "zarr_format": 2,
        "shape": list(shape),
        "chunks": list(chunks_t),
        "dtype": np_dtype.str,
        "compressor": compressor,
        "fill_value": fill,
        "order": "C",
        "filters": None,
    }
    with open(_meta_path(store), "w") as f:
        json.dump(meta, f)


def chunk_repartitioned(
    df: DataFrame,
    dims: Sequence[str],
    chunks: Sequence[int],
    n_partitions: int | None = None,
) -> DataFrame:
    """Repartition long-form cube rows so each zarr chunk's rows land in
    exactly ONE task — the partitioning contract of the ``zarr_py``
    DataSource writer (sources/pyds.py). One hash exchange on the chunk
    index vector; a task may own many whole chunks, but no chunk spans
    tasks (hash partitioning sends equal keys to one partition), which
    the writer's commit verifies."""
    key = F.array(
        *[
            F.floor(F.col(d).cast("long") / int(chunks[i])).cast("int")
            for i, d in enumerate(dims)
        ]
    )
    n = n_partitions or parallelism(df.sparkSession)
    return df.repartition(n, key)
