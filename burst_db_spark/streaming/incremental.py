"""Streaming analogs of the reference's incremental-append workflows
(SURVEY.md §2.9).

Reference behavior → streaming primitive:
- "append one new date of bursts; skip if output exists"
  (parse_bursts.py:1100-1116) → file-source stream + availableNow
  trigger; the checkpoint replaces skip-if-exists with exactly-once.
- CMR re-delivery dedup by max revision (create_cslc_burst_catalog.py:
  67-82) → dropDuplicatesWithinWatermark on the natural key.
- 2-year-gap session grouping (reconcile_and_label_db.py:290-338)
  → session_window aggregation with the same gap.
- daily/weekly weather windows (snow_month_filter.py:55-66)
  → tumbling window() aggregation with a watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def file_stream(
    spark: SparkSession, path: str, schema: StructType | str, fmt: str = "parquet"
) -> DataFrame:
    """Incremental file source: new files under ``path`` are the batches
    (the per-date CSV append workflow)."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark: str = "1 day",
) -> DataFrame:
    """Late re-delivery dedup: first row per key wins within the
    watermark horizon; state is bounded by the watermark."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def session_counts(
    stream: DataFrame,
    key: str,
    ts_col: str,
    gap: str = "12 hours",
    watermark: str = "1 day",
) -> DataFrame:
    """Gap-based sessions as a streaming aggregation — the stateful twin
    of operators.sessionize (same gap semantics, emitted on watermark)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key))
        .agg(F.count("*").alias("n_events"))
        .select(
            key,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def daily_counts(
    stream: DataFrame,
    key: str,
    ts_col: str,
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Tumbling-window counts (daily snow/temp aggregation analog)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(key))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            key,
            F.col("window.start").alias("day_start"),
            "n",
            "total_value",
        )
    )

