"""Projection / filter operators (SURVEY.md §2.2, P1-P10).

Reference semantics these mirror (cited file:line are in /root/reference):
- P1 minimal projection + int casts   build_frame_db.py:453-480
- P2 IN-list filter                   query_historical_bursts.py:188-209
- P3 datetime range                   query_historical_bursts.py:203-239
- P4 boolean + IN + NOT IN combo      create_cslc_burst_catalog.py:124-139
- P7 interval (blackout) anti-join    create_cslc_burst_catalog.py:172-183
- P10 dedup                           export_denormalized_db.py:233-248

All are plain Column predicates → Catalyst pushes them into the parquet
scan (check `.explain()` for PushedFilters). The interval anti-join
broadcasts the (small) interval side; at 100 TB the fact side never
shuffles for it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def project_minimal(df: DataFrame, columns: Sequence[str], int_casts: Sequence[str] = ()) -> DataFrame:
    """P1: projection-minimal artifact with int-snapped columns.

    Mirrors the reference's 40%-smaller bbox-only DB (build_frame_db.py:453-480):
    column pruning reaches the scan; int casts are schema design.
    """
    out = df.select(*columns)
    for c in int_casts:
        out = out.withColumn(c, F.col(c).cast("int"))
    return out


def filter_isin(df: DataFrame, column: str, values: Sequence) -> DataFrame:
    """P2: parameterized IN-list. For huge lists prefer a broadcast semi-join."""
    return df.where(F.col(column).isin(list(values)))


def filter_range(df: DataFrame, column: str, lo, hi) -> DataFrame:
    """P3: closed datetime/numeric range."""
    return df.where(F.col(column).between(lo, hi))


def filter_bool_combo(df: DataFrame, flag: Column, include: Column, exclude: Column) -> DataFrame:
    """P4: ``(flag OR include) AND NOT exclude`` — the NA∪samples−edge-frames shape."""
    return df.where((flag | include) & ~exclude)


def anti_join_intervals(
    facts: DataFrame,
    intervals: DataFrame,
    key: str,
    ts_col: str,
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """P7/J10: drop fact rows whose ``ts`` falls in any [start,end] of its key.

    Blackout-date exclusion (create_cslc_burst_catalog.py:172-183). The
    interval table is tiny (per-key winter windows) → broadcast it so the
    fact side streams through with no shuffle; the non-equi condition stays
    a cheap per-row check.
    """
    cond = (
        (facts[key] == intervals[key])
        & (facts[ts_col] >= intervals[start_col])
        & (facts[ts_col] <= intervals[end_col])
    )
    return facts.join(F.broadcast(intervals), cond, "left_anti")


def dedup_exact_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """P10: deterministic dedup — distinct over the key projection.

    (``dropDuplicates`` keeps an arbitrary row for non-key columns; for
    oracle determinism we either project to the keys or resolve survivors
    with an explicit arg-min — see aggregates.first_seen.)
    """
    return df.select(*keys).distinct()
