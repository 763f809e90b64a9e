"""Window / sequence operators (SURVEY.md §2.5, W1, W4, W6).

All window specs partition by a key — no global (unpartitioned) windows in
hot paths, so at 100 TB each partition's state stays bounded and Spark
never funnels the data through one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def first_value_per_key(
    df: DataFrame, key: str, value: str, order_cols: list[str], alias: str
) -> DataFrame:
    """W1: FIRST_VALUE over partition with a deterministic total order
    (build_frame_db.py:173-187 — frame orbit_pass from first member burst).

    Returns one row per key (key, alias).
    """
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn(alias, F.first_value(F.col(value)).over(w))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(key, alias)
    )


def run_length_blocks(
    df: DataFrame,
    key: str,
    ts_col: str,
    flag: Column,
    block_col: str = "block_id",
    flag_col: str = "flag",
) -> DataFrame:
    """W4: run-length encoding of a boolean series per key
    (snow_month_filter.py:345-355: ``(is_bad != is_bad.shift()).cumsum()``).

    Adds ``flag`` (the boolean) and ``block_id`` (1-based id of each
    maximal run of equal flag values, per key, in time order).
    """
    w = Window.partitionBy(key).orderBy(ts_col)
    df = df.withColumn(flag_col, flag.cast("int"))
    changed = F.when(
        F.lag(flag_col).over(w).isNull() | (F.col(flag_col) != F.lag(flag_col).over(w)),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn(
        block_col,
        F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )


def block_summary(
    blocks: DataFrame, key: str, ts_col: str, block_col: str = "block_id", flag_col: str = "flag"
) -> DataFrame:
    """W4 follow-up: per-run summary (start, end, length)."""
    return blocks.groupBy(key, block_col, flag_col).agg(
        F.min(ts_col).alias("start_ts"),
        F.max(ts_col).alias("end_ts"),
        F.count("*").alias("run_len"),
    )


def water_year(ts: Column, pivot_month: int) -> Column:
    """W6: map a timestamp to its 'water year' starting at ``pivot_month``
    (snow_month_filter.py:329-336): months >= pivot belong to the year of
    the NEXT calendar year boundary."""
    return (F.year(ts) + (F.month(ts) >= pivot_month).cast("int")).alias("water_year")
