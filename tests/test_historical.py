"""Historical ingest pipeline: per-date CSVs → dedup → partitioned
parquet (one file per date) → denormalized view, with per-date pruning
verified."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from burst_db_spark.plans.historical import denormalize, ingest_daily_csvs


def _write_daily_csvs(spark, base):
    rows = [
        # (burst_id_jpl; sensing_time; wkt; granule) — includes a
        # re-delivered duplicate with a later granule
        ("t001_000001_iw1", "2024-01-01 06:00:00", "POLYGON ((0 0, 1 0, 1 1, 0 0))", "S1A_G1"),
        ("t001_000001_iw1", "2024-01-01 06:00:00", "POLYGON ((0 0, 1 0, 1 1, 0 0))", "S1A_G2"),
        ("t001_000002_iw1", "2024-01-01 06:00:10", "POLYGON ((1 0, 2 0, 2 1, 1 0))", "S1A_G1"),
        ("t001_000001_iw1", "2024-01-02 06:00:00", "POLYGON ((0 0, 1 0, 1 1, 0 0))", "S1A_G3"),
    ]
    df = spark.createDataFrame(
        rows, "burst_id_jpl string, sensing_time string, geometry string, granule string"
    ).withColumn("sensing_time", F.to_timestamp("sensing_time"))
    df.write.option("sep", ";").option("header", False).mode("overwrite").csv(base)


def test_ingest_and_denormalize(spark, tmp_path):
    csv_dir = str(tmp_path / "daily_csvs")
    out = str(tmp_path / "bursts_parquet")
    _write_daily_csvs(spark, csv_dir)

    ingest_daily_csvs(spark, csv_dir + "/*.csv", out)
    bursts = spark.read.parquet(out)
    # dedup kept the max-granule row for the duplicated key
    assert bursts.count() == 3
    dup = bursts.where(
        (F.col("burst_id_jpl") == "t001_000001_iw1")
        & (F.col("sensing_time") == "2024-01-01 06:00:00")
    ).collect()
    assert len(dup) == 1 and dup[0].granule == "S1A_G2"

    # per-date partition pruning reaches the scan
    pruned = bursts.where(F.col("sensing_date") == "2024-01-02")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()
    assert pruned.count() == 1

    # denormalized view
    frames = spark.createDataFrame(
        [(10, 1), (11, 1)], "frame_fid int, is_land int"
    )
    fb = spark.createDataFrame(
        [("t001_000001_iw1", 10), ("t001_000001_iw1", 11), ("t001_000002_iw1", 10)],
        "burst_id_jpl string, frame_fid int",
    )
    denorm = denormalize(bursts, fb, frames)
    r = {x.burst_id_jpl: x for x in denorm.collect()}
    assert r["t001_000001_iw1"].num_frames == 2
    assert r["t001_000001_iw1"].min_frame_id == 10
    assert r["t001_000001_iw1"].max_frame_id == 11
    assert r["t001_000002_iw1"].num_frames == 1


def _last_write_plan(spark, out) -> str:
    """The executed (final adaptive) plan of the last write to ``out``."""
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        executions.apply(i).physicalPlanDescription()
        for i in range(executions.size())
    ]
    plan = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p and out in p][-1]
    return plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]


def test_ingest_writes_one_file_per_date(spark, tmp_path):
    """The dedup's one Exchange is by date, so each date lands in one
    task and is written as one file. AQE would merge this small input's
    shuffle partitions into one task anyway; with the merge off, an
    exchange by burst key would spread each date over every task."""
    csv_dir = str(tmp_path / "daily_csvs")
    out = str(tmp_path / "bursts_parquet")
    rows = [
        (f"t001_{b:06d}_iw1", f"2024-01-0{d} 06:00:{b:02d}", "POLYGON ((0 0, 1 0, 1 1, 0 0))", g)
        for d in (1, 2) for b in range(20) for g in ("S1A_G1", "S1A_G2")
    ]
    spark.createDataFrame(
        rows, "burst_id_jpl string, sensing_time string, geometry string, granule string"
    ).withColumn("sensing_time", F.to_timestamp("sensing_time")).write.option(
        "sep", ";").mode("overwrite").csv(csv_dir)

    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        ingest_daily_csvs(spark, csv_dir + "/*.csv", out)
    finally:
        spark.conf.set(key, old)
    dates = sorted(tmp_path.glob("bursts_parquet/sensing_date=*"))
    assert [d.name for d in dates] == ["sensing_date=2024-01-01", "sensing_date=2024-01-02"]
    assert [len(list(d.glob("*.parquet"))) for d in dates] == [1, 1]
    plan = _last_write_plan(spark, out)
    assert len(re.findall(r"\bExchange \(\d+\)", plan)) == 1
    assert spark.read.parquet(out).count() == 40
