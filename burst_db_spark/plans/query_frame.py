"""EP3 — interactive frame queries (query_frame_db.py; SURVEY.md §3 EP3).

``lookup``: one frame's full record (member burst ids as a sorted list,
bbox, flags) — two filtered scans, combined on the driver.
``intersect``: frames whose footprint intersects a probe box — one
filtered scan, refined on the driver with the geo kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from burst_db_spark.geo import predicates as P
from burst_db_spark.geo.wkt import rect_wkt

#: the columns an ``intersect`` answer carries per frame
INTERSECT_COLS = ("frame_fid", "epsg", "is_land")


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


def intersect(
    frames: DataFrame, xmin: float, ymin: float, xmax: float, ymax: float
) -> list[dict]:
    """Frames whose footprint intersects the box (query_frame_db.py:86-129),
    as dicts of ``INTERSECT_COLS``, in scan order.

    One filtered scan: the snapped bbox columns prefilter (parquet min/max
    pruning at scale) and the candidates come to the driver with their
    WKT, where the geo kernel refines them (``predicates.intersects_rect``),
    so no Python worker starts."""
    # the parsed probe: the kernel sees the WKT's coordinates
    probe = rect_wkt(xmin, ymin, xmax, ymax)
    rect = P.Polygon.from_wkt(probe)[0].exterior
    pxmin, pymin, pxmax, pymax = P.envelope(probe)
    rows = (
        frames.where(
            (F.col("sxmin") <= F.lit(pxmax))
            & (F.col("sxmax") >= F.lit(pxmin))
            & (F.col("symin") <= F.lit(pymax))
            & (F.col("symax") >= F.lit(pymin))
        )
        .select(*INTERSECT_COLS, "geom_wkt")
        .collect()
    )
    return [
        {c: r[c] for c in INTERSECT_COLS}
        for r in rows
        if r.geom_wkt is not None and P.intersects_rect(r.geom_wkt, rect)
    ]
