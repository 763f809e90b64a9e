"""EP3 — interactive frame queries (query_frame_db.py; SURVEY.md §3 EP3).

``lookup``: one frame's full record (member burst ids as a sorted list,
bbox, flags) — two filtered scans, combined on the driver.
``intersect``: frames whose footprint intersects a probe geometry — the
two-phase bbox-then-exact filter (geo kernel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from burst_db_spark.geo.udfs import two_phase_intersect_filter


def lookup(frames: DataFrame, bridge: DataFrame, frame_fid: int) -> list[dict]:
    """Frame record + ordered member burst list
    (query_frame_db.py:34-58: 3-way join, GROUP_CONCAT, bbox agg), as
    dicts: each frame row with ``burst_ids`` (its non-null burst ids,
    ascending, comma-joined) and ``n_bursts`` (its bridge rows), or no
    row when either table has none for the frame.

    An answer is one frame, so each table is one filtered scan (one job)
    and the join and the list-agg run on the driver: a Spark join and
    group-by would cost a job per stage."""
    members = [
        r.burst_id
        for r in bridge.where(F.col("frame_fid") == frame_fid).select("burst_id").collect()
    ]
    if not members:
        return []
    ids = ",".join(str(b) for b in sorted(b for b in members if b is not None))
    return [
        {**r.asDict(), "burst_ids": ids, "n_bursts": len(members)}
        for r in frames.where(F.col("frame_fid") == frame_fid).collect()
    ]


def intersect(frames_with_geom: DataFrame, probe_wkt: str) -> DataFrame:
    """Frames intersecting the probe geometry (query_frame_db.py:86-129):
    bbox prefilter on the snapped bbox columns (parquet min/max pruning at
    scale) then exact Intersects refine."""
    return two_phase_intersect_filter(frames_with_geom, probe_wkt)
