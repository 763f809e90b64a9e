"""Aggregation operators (SURVEY.md §2.4, A1-A15).

Determinism rules (needed for the DuckDB oracle hash-match):
- never rely on Spark's ``first()`` (pick-any) — use ``max_by/min_by`` on a
  UNIQUE ordering key, or a row_number window with a total order;
- ``collect_list`` order is nondeterministic → always ``sort_array`` (or
  emit as a sorted ``concat_ws`` string so the oracle's ``string_agg ...
  ORDER BY`` matches exactly).

All aggregations here are algebraic (partial-aggregatable): Spark plans a
map-side partial agg before the shuffle, so a 100 TB groupBy moves only
per-key partial states.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    payload: Sequence[str],
) -> DataFrame:
    """A1: CMR-style dedup — per key keep values at the MAX of a unique
    ordering column (create_cslc_burst_catalog.py:67-82: MAX(revision),
    FIRST(granule) — 'first' there is really 'at max revision')."""
    aggs = [F.max(order_col).alias(order_col)]
    aggs += [F.max_by(p, F.col(order_col)).alias(p) for p in payload]
    return df.groupBy(*keys).agg(*aggs)


def string_agg_sorted(df: DataFrame, keys: Sequence[str], value: str, alias: str, distinct: bool = False) -> DataFrame:
    """A5: GROUP_CONCAT with stable order (build_frame_db.py:499-517).

    collect_set/list → sort_array → concat_ws: deterministic and equal to
    DuckDB's ``string_agg(x, ',' ORDER BY x)``.
    """
    collect = F.collect_set(value) if distinct else F.collect_list(value)
    return df.groupBy(*keys).agg(
        F.concat_ws(",", F.sort_array(collect)).alias(alias)
    )


def first_seen(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    payload: Sequence[str] | None = None,
) -> DataFrame:
    """A8: first row per key under a TOTAL order (example-queries.sql:1-12).

    Implemented as row_number()==1 so ties are impossible as long as
    ``order_cols`` ends with a unique column.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_cols])
    ranked = df.withColumn("__rn", F.row_number().over(w))
    out_cols = list(keys) + list(payload if payload is not None else [c for c in df.columns if c not in keys])
    return ranked.where(F.col("__rn") == 1).select(*out_cols)


def count_per_day(df: DataFrame, keys: Sequence[str], ts_col: str, alias: str = "n") -> DataFrame:
    """A9: count per (key, day) (example-queries.sql:132-143)."""
    day = F.to_date(F.col(ts_col)).alias("day")
    return df.groupBy(*keys, day).agg(F.count("*").alias(alias))


def multi_minmax(df: DataFrame, keys: Sequence[str], cols: Sequence[str]) -> DataFrame:
    """A10: denormalizing min/max/count multi-agg (export_denormalized_db.py:130-145)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    aggs.append(F.count("*").alias("n"))
    return df.groupBy(*keys).agg(*aggs)


def group_by_all(df: DataFrame, agg_exprs) -> DataFrame:
    """A-extra: GROUP BY ALL helper — group by every non-aggregate column
    (example-queries.sql:76-79)."""
    agg_aliases = {e._jc.toString() for e in agg_exprs}  # noqa: SLF001 - best-effort
    keys = [c for c in df.columns if c not in agg_aliases]
    return df.groupBy(*keys).agg(*agg_exprs)


def summary_stats(df: DataFrame, keys: Sequence[str], value: str) -> DataFrame:
    """A15: describe()-style per-group stats (explore-unwrap-runtimes.ipynb)."""
    return df.groupBy(*keys).agg(
        F.count(value).alias("cnt"),
        F.min(value).alias("min_v"),
        F.max(value).alias("max_v"),
        F.avg(value).alias("avg_v"),
        F.sum(value).alias("sum_v"),
    )
