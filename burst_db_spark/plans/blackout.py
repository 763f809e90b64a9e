"""Yearly blackout-window generation
(create_blackout_dates_s1.py:14-35,59-84; SURVEY.md §1.1 interval sets);
``operators.filters.anti_join_intervals`` applies the windows.

Given per-frame season bounds (start month/day, end month/day), emit one
[start_ts, end_ts] interval per year in the range — year-wrapping when the
season crosses Jan 1 (e.g. Nov→May). Pure column math + ``sequence``
(one row per frame explodes to ~9 interval rows; no driver loops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def yearly_windows(
    frames: DataFrame,
    key: str = "frame_fid",
    start_month: str = "start_month",
    start_day: str = "start_day",
    end_month: str = "end_month",
    end_day: str = "end_day",
    first_year: int = 2016,
    last_year: int = 2024,
) -> DataFrame:
    """(key, start_ts, end_ts) per year; end year += 1 when the window
    wraps past Dec 31 (create_blackout_dates_s1.py:27-35)."""
    yr = F.explode(
        F.sequence(F.lit(first_year), F.lit(last_year))
    ).alias("yr")
    df = frames.select(key, start_month, start_day, end_month, end_day, yr)
    wraps = (F.col(end_month) < F.col(start_month)) | (
        (F.col(end_month) == F.col(start_month))
        & (F.col(end_day) < F.col(start_day))
    )
    start_ts = F.make_timestamp(
        F.col("yr"), F.col(start_month), F.col(start_day),
        F.lit(0), F.lit(0), F.lit(0),
    )
    end_ts = F.make_timestamp(
        F.col("yr") + wraps.cast("int"), F.col(end_month), F.col(end_day),
        F.lit(23), F.lit(59), F.lit(59),
    )
    return df.select(
        key, start_ts.alias("start_ts"), end_ts.alias("end_ts")
    )

