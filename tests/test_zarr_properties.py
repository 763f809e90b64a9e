"""Property tests: zarr round-trip over hypothesis-generated shapes,
chunk grids, and codecs; bloom membership over random key sets.

Spark jobs per example are slow, so example counts stay small — the
point is the shape/edge space (chunk overhang, rank, codec), not bulk.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
from hypothesis import given, settings, strategies as st

from burst_db_spark.operators.bloom import bloom_contains, build_bloom
from burst_db_spark.sources.zarr import read_zarr_array, write_zarr_array

_dims = st.integers(min_value=1, max_value=7)
_shape = st.tuples(_dims, _dims, _dims)
_codec = st.sampled_from([None, {"id": "zlib", "level": 1}, {"id": "gzip"}])


@settings(max_examples=6, deadline=None)
@given(shape=_shape, chunk=st.tuples(_dims, _dims, _dims), comp=_codec,
       data=st.randoms())
def test_zarr_roundtrip_any_shape(spark, shape, chunk, comp, data):
    rng = np.random.RandomState(data.randint(0, 2**31))
    arr = rng.randint(-1000, 1000, size=shape).astype("<i8")
    # @given rejects function-scoped fixtures such as tmp_path
    with tempfile.TemporaryDirectory(prefix="bds_zarr_prop_") as tmp:
        store = os.path.join(tmp, "a")
        write_zarr_array(store, arr, chunks=chunk, compressor=comp)
        got = {
            (r["i0"], r["i1"], r["i2"]): r["value"]
            for r in read_zarr_array(spark, store).collect()
        }
    assert len(got) == arr.size
    it = np.nditer(arr, flags=["multi_index"])
    for v in it:
        assert got[it.multi_index] == v


@settings(max_examples=5, deadline=None)
@given(keys=st.sets(st.text(min_size=1, max_size=12), min_size=1, max_size=60))
def test_bloom_never_false_negative(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    bits = build_bloom(df, "k", 1 << 12, 3)
    from pyspark.sql import functions as F

    hits = df.select(bloom_contains(spark, F.col("k"), bits, 1 << 12, 3).alias("h"))
    assert all(r["h"] for r in hits.collect())
