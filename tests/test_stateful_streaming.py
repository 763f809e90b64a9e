"""applyInPandasWithState: incremental reference-date selection must
match the batch applyInPandas result when fed the same data in
micro-batches (in order)."""

from __future__ import annotations

from pyspark.sql import functions as F

from burst_db_spark.plans import fixtures
from burst_db_spark.plans.frame_db import build_frames
from burst_db_spark.plans.reference_dates import reference_dates
from burst_db_spark.streaming import drain, stateful
from burst_db_spark.streaming.incremental import file_stream


def test_stateful_matches_batch(spark, tmp_path):
    trip = fixtures.burst_triplets(spark, n_triplets=60, n_tracks=2)
    _, bridge = build_frames(trip)
    acq = fixtures.acquisitions(spark, bridge, n_dates=80).select(
        F.col("frame_fid").cast("int").alias("frame_fid"), "sensing_time"
    )

    # batch ground truth
    batch = {
        (r.frame_fid, r.ref_idx): r.ref_date
        for r in reference_dates(acq, interval_days=365, min_acquisitions=15).collect()
    }

    # stream the same rows in two time-ordered micro-batches
    in_dir = str(tmp_path / "in")
    cut = "2017-06-01"
    acq.where(F.col("sensing_time") < cut).coalesce(1).write.parquet(in_dir)
    acq.where(F.col("sensing_time") >= cut).coalesce(1).write.mode("append").parquet(in_dir)

    stream = file_stream(spark, in_dir, "frame_fid int, sensing_time timestamp")
    out = stateful.attach(stream, interval_days=365, min_acqs=15)
    got = {
        (r.frame_fid, r.ref_idx): r.ref_date
        for r in drain(out, str(tmp_path), mode="append").collect()
    }
    assert got == batch
