"""Historical-burst ingest — the per-date CSV append workflow
(scripts/historical_bursts: parse_bursts.py:1096-1160 per-date outputs,
export_denormalized_db.py end-to-end; SURVEY.md §2.9 row 1).

Batch shape (the streaming twin is streaming.incremental):
1. glob-scan the semicolon CSVs (explicit schema — no inference pass)
2. dedup re-delivered rows per (burst, sensing_time) keeping the last,
   over rows hash-partitioned by sensing_date: the one Exchange
3. write parquet partitioned by sensing_date → per-date pruning; each
   date is in one task, so it is one file
4. denormalize against the frame dimension (broadcast) → the
   bursts_with_frame_ids shape (create_cslc_burst_catalog.py:90-103)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from burst_db_spark.operators.aggregates import dedup_latest
from burst_db_spark.session import fan_out
from burst_db_spark.sources.csv import read_historical_bursts


def ingest_daily_csvs(spark: SparkSession, glob: str, out_dir: str) -> None:
    """Steps 1-3: scan → dedup (keep max granule per key as the
    revision-winner stand-in) → date-partitioned parquet, one file per
    date. ``sensing_date`` is a function of ``sensing_time``, so adding
    it to the key leaves the groups as they are, and the dedup needs no
    exchange beyond the one by date."""
    raw = read_historical_bursts(spark, glob).withColumn(
        "sensing_date", F.to_date("sensing_time")
    )
    deduped = dedup_latest(
        fan_out(raw, "sensing_date"),
        ["sensing_date", "burst_id_jpl", "sensing_time"],
        order_col="granule",
        payload=["geometry"],
    )
    deduped.write.mode("overwrite").partitionBy("sensing_date").parquet(out_dir)


def denormalize(
    bursts: DataFrame, frame_bursts: DataFrame, frames: DataFrame
) -> DataFrame:
    """Step 4: the bursts_with_frame_ids materialized view — each burst
    acquisition row joined to its frame ids and flags
    (export_denormalized_db.py:68-108: min/max frame id, num_frames)."""
    frame_info = (
        frame_bursts.join(F.broadcast(frames), "frame_fid")
        .groupBy("burst_id_jpl")
        .agg(
            F.min("frame_fid").alias("min_frame_id"),
            F.max("frame_fid").alias("max_frame_id"),
            F.count("*").alias("num_frames"),
            F.max("is_land").alias("is_land"),
        )
    )
    return bursts.join(F.broadcast(frame_info), "burst_id_jpl", "left")
