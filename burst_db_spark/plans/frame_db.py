"""EP1 — the `opera-db create` pipeline, Spark-first (SURVEY.md §3 EP1).

Stages (reference build_frame_db.py:621-754):
1. dissolve per-burst rows to triplets (A2)                 → groupBy agg
2. widen + run-length group land/water along each track (W8) → applyInPandas
3. DP frame partitioning per contiguous land run (F5)       → (same pass)
4. explode frame slices → (frame_fid, burst) bridge         → join
5. frames table: track avg, first orbit_pass, union bbox    → groupBy agg

The DP solver is a fresh implementation of the text-justification-style
optimization described at frames.py:124-211: choose consecutive slice
sizes minimizing Σ floor(|size+1 − target|)³ with size+1 ∈ [min,max]
(the +1 accounts for the one-burst overlap added to every emitted frame
except the last). Each track is tiny (≤ a few hundred triplets), so
applyInPandas keys on track and solves every land run of the track in
the same call — independent solver calls across executors, no driver
loop, no memoization needed (the DP is O(n·max_frame) per run).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TARGET_FRAME = 9
MIN_FRAME = 5
MAX_FRAME = 10
OVERLAP = 1


def solve_frame_sizes(
    n: int,
    target: int = TARGET_FRAME,
    min_frame: int = MIN_FRAME,
    max_frame: int = MAX_FRAME,
) -> list[tuple[int, int]]:
    """Optimal frame slices over ``n`` consecutive triplets.

    Forward DP over cut positions: cost[j] = best cost to cover [0, j);
    a segment [i, j) emits the slice (i, min(j+1, n)) — one triplet of
    overlap with the next frame, capped at the end. Badness of a segment
    of length L is floor(|L+1 − target|)³, infinite unless
    min ≤ L+1 ≤ max. Matches the optimum of frames.py:124-195 without
    copying its backward-recursion formulation.
    """
    if n == 0:
        return []
    inf = float("inf")
    lo = max(1, min_frame - 1)
    hi = max_frame - 1
    cost = [inf] * (n + 1)
    prev = [-1] * (n + 1)
    cost[0] = 0.0
    for j in range(1, n + 1):
        # descending sizes: on cost ties prefer the larger last segment,
        # i.e. earlier cuts — matches the reference's tie-break
        for size in range(min(hi, j), lo - 1, -1):
            i = j - size
            if cost[i] == inf:
                continue
            bad = int(abs((size + 1) - target)) ** 3
            if cost[i] + bad < cost[j]:
                cost[j] = cost[i] + bad
                prev[j] = i
    if cost[n] == inf:
        # run too small to satisfy min_frame: emit it as one undersized
        # frame (the reference widens tiny runs upstream; this is the
        # safety net so no burst is dropped)
        return [(0, n)]
    cuts = []
    j = n
    while j > 0:
        cuts.append((prev[j], j))
        j = prev[j]
    cuts.reverse()
    return [(i, min(j + OVERLAP, n)) for i, j in cuts]


def split_runs(flags: list) -> list[tuple[bool, int, int]]:
    """Maximal runs of equal flags as ``(flag, start, end)`` half-open
    index ranges, in order."""
    out, i, n = [], 0, len(flags)
    while i < n:
        j = i
        while j < n and flags[j] == flags[i]:
            j += 1
        out.append((flags[i], i, j))
        i = j
    return out


def widen_land_runs(flags: list[bool], min_frame: int = MIN_FRAME) -> list[bool]:
    """W8 pre-pass (frames.py:214-236 semantics): every land run is
    grown to at least ``min_frame`` bursts, and water gaps shorter than
    ``min_frame`` are absorbed into land, iterating to a fixpoint.

    The reference widens with an end-centered slice; here the growth is
    symmetric around the short run — the resulting INVARIANTS match
    (no land run < min_frame, and — like the reference's fixpoint loop,
    frames.py:225-236, which absorbs edge water runs too — no water run
    < min_frame anywhere, track edges included) even where individual
    flips differ.
    """
    out = list(flags)
    n = len(out)
    # grow short land runs symmetrically; redistribute toward the other
    # side when a track edge clips the window
    target = min(min_frame, n)
    for is_land, i, j in split_runs(out):
        if is_land and (j - i) < target:
            need = target - (j - i)
            lo = max(0, i - (need + 1) // 2)
            hi = min(n, max(j, lo + target))
            lo = max(0, min(lo, hi - target))
            for k in range(lo, hi):
                out[k] = True
    # absorb ALL short water runs (edges included, matching the
    # reference's second pass) until fixpoint
    changed = True
    while changed:
        changed = False
        for is_land, i, j in split_runs(out):
            if not is_land and (j - i) < min_frame:
                for k in range(i, j):
                    out[k] = True
                changed = True
    return out


_SLICE_COLS = ["track", "run_id", "slice_idx", "start_pos", "end_pos", "n_triplets"]


def partition_frames(
    triplets: DataFrame,
    target: int = TARGET_FRAME,
    min_frame: int = MIN_FRAME,
    max_frame: int = MAX_FRAME,
) -> DataFrame:
    """W8 + F5 in one pass per track: widen the land runs, number every
    widened run along the track (land and water alike, from 1), and
    solve the DP over each land run → (track, run_id, slice_idx,
    start_pos, end_pos, n_triplets) frame slices, via one
    applyInPandas on track."""

    def _solve(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        track = int(pdf["track"].iloc[0])
        positions = pdf["pos"].tolist()
        widened = widen_land_runs([bool(x) for x in pdf["is_land"]], min_frame)
        rows = []
        for run_id, (is_land, i, j) in enumerate(split_runs(widened), start=1):
            if not is_land:
                continue
            slices = solve_frame_sizes(j - i, target, min_frame, max_frame)
            for k, (s, e) in enumerate(slices):
                rows.append(
                    (track, run_id, k, positions[i + s], positions[i + e - 1], e - s)
                )
        return pd.DataFrame(rows, columns=_SLICE_COLS)

    schema = ", ".join(f"{c} int" for c in _SLICE_COLS)
    return (
        triplets.select("track", "pos", "is_land")
        .groupBy("track")
        .applyInPandas(_solve, schema)
    )


def build_frames(
    triplets: DataFrame,
    target: int = TARGET_FRAME,
    min_frame: int = MIN_FRAME,
    max_frame: int = MAX_FRAME,
) -> tuple[DataFrame, DataFrame]:
    """EP1 core: returns (frames, frames_bursts bridge).

    frame_fid is assigned deterministically by (track, run, slice) order;
    the bridge joins slices back to member triplets by position range
    (a broadcast range join — slices are tiny)."""
    slices = partition_frames(triplets, target, min_frame, max_frame)
    # deterministic arithmetic frame id — no global window (an
    # unpartitioned row_number funnels everything through one task; fine
    # at 47k slices, wrong as a pattern). Contiguity isn't load-bearing;
    # (track, run, slice) order is preserved in the id ordering.
    frames_sl = slices.withColumn(
        "frame_fid",
        (
            F.col("track").cast("long") * 1_000_000
            + F.col("run_id").cast("long") * 1_000
            + F.col("slice_idx").cast("long")
        ),
    )

    t = triplets.alias("t")
    s = F.broadcast(frames_sl).alias("s")
    bridge = t.join(
        s,
        (F.col("t.track") == F.col("s.track"))
        & (F.col("t.pos") >= F.col("s.start_pos"))
        & (F.col("t.pos") <= F.col("s.end_pos")),
    ).select(
        F.col("s.frame_fid").alias("frame_fid"),
        F.col("t.burst_id").alias("burst_id"),
        F.col("t.track").alias("track"),
        F.col("t.orbit_pass").alias("orbit_pass"),
        F.col("t.is_land").alias("is_land"),
        F.col("t.lon").alias("lon"),
        F.col("t.lat").alias("lat"),
        F.col("t.pos").alias("pos"),
    )

    # frames table: A4 avg track, W1 first orbit_pass, envelope of members
    frames = bridge.groupBy("frame_fid").agg(
        F.round(F.avg("track")).cast("int").alias("relative_orbit_number"),
        F.min_by("orbit_pass", F.col("pos")).alias("orbit_pass"),
        F.max("is_land").alias("is_land"),
        F.min("lon").alias("xmin"),
        F.min("lat").alias("ymin"),
        (F.max("lon") + 0.9 * 3).alias("xmax"),
        (F.max("lat") + 0.2).alias("ymax"),
        F.count("*").alias("n_triplets"),
    )
    return frames, bridge.select("frame_fid", "burst_id")


def enrich_frames(frames: DataFrame, member_geoms: DataFrame | None = None) -> DataFrame:
    """EP1 tail (build_frame_db.py:691-717): geometry + EPSG + snapped
    bbox per frame.

    - ``geom_wkt``: the frame footprint — if per-member WKT is supplied
      as (frame_fid, geom_wkt) long form, union-collect the member
      geometries (A3); otherwise the envelope rectangle from the bbox
      columns;
    - ``epsg``: UTM/polar classification from the footprint centroid
      (pure column math, geo.bbox.utm_epsg_expr);
    - snapped integer bbox with margin (build_frame_db.py:424-450) — in
      degree units here (the fixtures are lon/lat), same arithmetic.
    """
    from burst_db_spark.geo.bbox import snap_bbox_exprs, utm_epsg_expr
    from burst_db_spark.geo.udfs import union_collect_agg, utm_envelope_udf

    if member_geoms is not None:
        geoms = union_collect_agg(member_geoms, "frame_fid")
        frames = frames.join(geoms, "frame_fid", "left")
        # the reference's frames.geom is the DISSOLVED union
        # (build_frame_db.py:139-148 ST_UnaryUnion(ST_Collect)): emit the
        # boundary-traced polygon alongside the member collection (the
        # collection stays the lookup/intersect surface — same point set)
        from burst_db_spark.geo.udfs import union_outline_udf

        frames = frames.withColumn(
            "geom_dissolved_wkt", union_outline_udf(F.col("geom_wkt"))
        )
    elif "geom_wkt" not in frames.columns:
        frames = frames.withColumn(
            "geom_wkt",
            F.format_string(
                "POLYGON ((%.4f %.4f, %.4f %.4f, %.4f %.4f, %.4f %.4f, %.4f %.4f))",
                F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymin"),
                F.col("xmax"), F.col("ymax"), F.col("xmin"), F.col("ymax"),
                F.col("xmin"), F.col("ymin"),
            ),
        )
    # Antimeridian frames (raw lon span > 180°): split the footprint in
    # two at ±180° (parse_bursts.py:576-629) and classify EPSG with the
    # area-weighted shifted-centroid rule (build_frame_db.py:262-308).
    # Everything else stays on the pure-column EPSG path.
    from burst_db_spark.geo.udfs import antimeridian_epsg_udf, split_antimeridian_udf

    crossing = (F.col("xmax") - F.col("xmin")) > 180.0
    frames = frames.withColumn(
        "geom_wkt",
        F.when(crossing, split_antimeridian_udf(F.col("geom_wkt"))).otherwise(
            F.col("geom_wkt")
        ),
    )
    cx = (F.col("xmin") + F.col("xmax")) / 2
    cy = (F.col("ymin") + F.col("ymax")) / 2
    frames = frames.withColumn(
        "epsg",
        F.when(crossing, antimeridian_epsg_udf(F.col("geom_wkt"))).otherwise(
            utm_epsg_expr(cx, cy)
        ),
    )
    # Greenland frames are pinned to the polar CRS regardless of their
    # centroid zone (get_epsg_codes tail) — bbox-gated intersects test
    from burst_db_spark.geo.greenland import greenland_override_expr

    frames = frames.withColumn(
        "epsg",
        greenland_override_expr(
            F.col("geom_wkt"),
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"),
            F.col("epsg"),
        ),
    )
    # lon/lat prune bbox: integral-degree grid (drives the CLI intersect
    # prefilter, which works in 4326 like the reference frames table).
    # A split dateline frame spans the whole lon axis in 4326, so its
    # prune box is the conservative [-180, 180].
    snapped = snap_bbox_exprs(
        F.when(crossing, F.lit(-180.0)).otherwise(F.col("xmin")),
        F.col("ymin"),
        F.when(crossing, F.lit(180.0)).otherwise(F.col("xmax")),
        F.col("ymax"),
        snap=1.0, margin=0.5,
    )
    # reference minimal-DB parity (build_frame_db.py:409-450 +
    # make_minimal_db): vertices forward-projected into the frame's OWN
    # EPSG, envelope in meters, snapped to the 30 m grid with 5 km margin,
    # stored as INT (the reference's ~40% smaller representation)
    env = utm_envelope_udf(F.col("geom_wkt"), F.col("epsg"))
    frames = frames.withColumn("__uenv", env)
    meter = snap_bbox_exprs(
        F.col("__uenv.xmin"), F.col("__uenv.ymin"),
        F.col("__uenv.xmax"), F.col("__uenv.ymax"),
        snap=30.0, margin=5000.0,
    )
    dissolved = (
        F.col("geom_dissolved_wkt")
        if "geom_dissolved_wkt" in frames.columns
        else F.lit(None).cast("string")
    )
    return frames.select(
        "frame_fid", "relative_orbit_number", "orbit_pass", "is_land",
        "n_triplets", "geom_wkt", dissolved.alias("geom_dissolved_wkt"),
        "epsg",
        *[s.alias(n) for s, n in zip(snapped, ["sxmin", "symin", "sxmax", "symax"])],
        *[s.alias(n) for s, n in zip(meter, ["uxmin", "uymin", "uxmax", "uymax"])],
    )
