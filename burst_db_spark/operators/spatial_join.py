"""Grid-cell bucketed spatial joins (SURVEY.md §2.3 J7/J8 scale path).

The reference answers spatial joins with an in-process R-tree
(query_frame_db.py:111-119: STRtree candidates, exact refine). A single
shared index does not exist on a cluster; the Spark-native equivalent is
GRID-CELL BUCKETING: snap every bbox to the fixed cells it covers,
explode to one row per (cell, row), and EQUI-join on the cell id. The
join then hash-partitions on the cell key — a plain shuffle exchange —
instead of a BroadcastNestedLoopJoin whose candidate generation is
O(N·M) comparisons and whose broadcast side must fit in memory.

Pair dedup is free: a bbox pair can meet in several cells, so a naive
cell join needs a distinct. Instead each candidate is kept only in the
cell that contains the intersection's REFERENCE CORNER
(max(xmin_l, xmin_r), max(ymin_l, ymin_r)) — a point that lies in every
cell both boxes share, but in exactly ONE cell. Each intersecting pair
therefore survives in exactly one joined row and no dedup shuffle is
needed (the standard PBSM/"reference point" trick from parallel spatial
join literature).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from burst_db_spark.runner import persist


def _cell(col: Column, size: float) -> Column:
    return F.floor(col / F.lit(size)).cast("long")


def explode_bbox_cells(
    df: DataFrame,
    xmin: str,
    ymin: str,
    xmax: str,
    ymax: str,
    cell_size: float,
    cx: str = "__cx",
    cy: str = "__cy",
) -> DataFrame:
    """One output row per grid cell the bbox [xmin..xmax]×[ymin..ymax]
    covers. Cells are the half-open squares [i·s,(i+1)·s). Explode factor
    is ceil(w/s+1)·ceil(h/s+1) — size cells near the typical bbox so it
    stays ~4."""
    return df.withColumn(
        cx,
        F.explode(
            F.sequence(_cell(F.col(xmin), cell_size), _cell(F.col(xmax), cell_size))
        ),
    ).withColumn(
        cy,
        F.explode(
            F.sequence(_cell(F.col(ymin), cell_size), _cell(F.col(ymax), cell_size))
        ),
    )


def grid_bbox_join(
    left: DataFrame,
    right: DataFrame,
    left_bbox: tuple[str, str, str, str],
    right_bbox: tuple[str, str, str, str],
    cell_size: float,
) -> DataFrame:
    """Candidate pairs whose bboxes intersect, one row per pair, via a
    cell-id EQUI-join (shuffle on hash(cell) — or a broadcast HASH join
    when one side is small; never a nested-loop). Column names must be
    disjoint between the two inputs. Follow with an exact-geometry
    refine for the full two-phase join."""
    lx1, ly1, lx2, ly2 = left_bbox
    rx1, ry1, rx2, ry2 = right_bbox
    l = explode_bbox_cells(left, lx1, ly1, lx2, ly2, cell_size, "__lcx", "__lcy")
    r = explode_bbox_cells(right, rx1, ry1, rx2, ry2, cell_size, "__rcx", "__rcy")
    overlap = (
        (F.col(lx1) <= F.col(rx2))
        & (F.col(lx2) >= F.col(rx1))
        & (F.col(ly1) <= F.col(ry2))
        & (F.col(ly2) >= F.col(ry1))
    )
    # reference corner of the bbox intersection — in exactly one cell
    ref_here = (
        _cell(F.greatest(F.col(lx1), F.col(rx1)), cell_size) == F.col("__lcx")
    ) & (_cell(F.greatest(F.col(ly1), F.col(ry1)), cell_size) == F.col("__lcy"))
    joined = l.join(
        r,
        (F.col("__lcx") == F.col("__rcx")) & (F.col("__lcy") == F.col("__rcy")),
    ).where(overlap & ref_here)
    return joined.drop("__lcx", "__lcy", "__rcx", "__rcy")


def auto_cell_size(
    points: DataFrame,
    x: str,
    y: str,
    target_per_neighborhood: float = 8.0,
    skew_p99_cap: float = 256.0,
) -> float:
    """Choose a ``grid_nn_join`` cell size from the data instead of a
    hand-picked constant — the knob that decides whether the join is
    linear (bounded candidates per probe) or quadratic (one fat cell).

    Pass 1 (extent + count, one map-side aggregation): under a uniform
    density λ = n/area, a 3×3 ring-1 neighborhood of cells sized
    ``s = sqrt(target/(9λ))`` holds ~``target`` expected points — at
    target=8 the chance a probe's neighborhood is EMPTY is
    exp(-πλs²) ≈ 6 %, so ~94 % of probes confirm in ring 1 while the
    candidate join stays ~9·λ·s² = target rows per probe. (The r4/r5
    constant-density probes hand-picked 24.0; this formula reproduces
    25.2 on the same data.)

    Pass 2 (occupancy histogram, one groupBy + approxQuantile on the
    per-cell counts): real data is NOT uniform — under clustering, p99
    occupancy explodes while the mean stays flat, and one hot cell
    turns the per-cell candidate block quadratic. If p99 exceeds
    ``skew_p99_cap``, shrink the cell by sqrt(p99/cap): halving the
    side quarters a dense cell's occupancy while sparse regions just
    escalate one more (geometrically collapsing) ring.
    """
    import math

    ext = points.agg(
        F.min(x).alias("x0"), F.max(x).alias("x1"),
        F.min(y).alias("y0"), F.max(y).alias("y1"),
        F.count("*").alias("n"),
    ).first()
    n = ext["n"] or 0
    if n == 0:
        return 1.0
    area = max(
        (float(ext["x1"]) - float(ext["x0"]))
        * (float(ext["y1"]) - float(ext["y0"])),
        1e-12,
    )
    lam = n / area
    size = math.sqrt(target_per_neighborhood / (9.0 * lam))
    occ = (
        points.groupBy(_cell(F.col(x), size), _cell(F.col(y), size))
        .count()
    )
    [p99] = occ.approxQuantile("count", [0.99], 0.01)
    if p99 > skew_p99_cap:
        size /= math.sqrt(p99 / skew_p99_cap)
    return size


def grid_nn_join(
    probes: DataFrame,
    points: DataFrame,
    probe_key: str,
    probe_xy: tuple[str, str],
    point_xy: tuple[str, str],
    cell_size: float | None,
    point_cols: tuple[str, ...] = (),
    tie_break: str | None = None,
    rings: tuple[int, ...] = (1, 4),
) -> DataFrame:
    """Exact nearest neighbor per probe without a cross join.

    Ring escalation: at ring radius k each probe looks only at points
    within its (2k+1)^2 cell neighborhood (probe explodes to the
    neighborhood's cell keys; points carry ONE cell key - an equi-join,
    shuffled on hash(cell)). A candidate at squared distance <=
    (k*cell)^2 is PROVABLY the global nearest: any point outside the
    neighborhood is strictly farther than k*cell from anywhere in the
    probe's cell. Probes without a provable winner anti-join into the
    next ring - each level multiplies the guarantee radius, so the
    unresolved set collapses geometrically even when points are sparse
    relative to the cell. (A single-level design dies exactly there:
    if most probes miss in 3x3, a direct exact fallback computes
    residual x M ~ N*M pairs on one task - measured as an 80 GB spill
    in the first constant-density scale probe.)

    Final fallback: whatever survives every ring takes the exact argmin
    on the full point set, joined on a non-foldable constant key so it
    plans as a broadcast HASH join (never a nested loop). By
    construction this input is the geometric tail; the heavy side only
    ever flows through the ring equi-joins.

    ``tie_break`` orders equal distances (required for determinism).

    Caching note: the per-ring frames are persisted and must stay cached
    until the returned (lazy) DataFrame is materialized — probe-sized
    rows, bounded by the input, never candidate-pair-sized. They are
    released with the caller's :func:`burst_db_spark.runner.scope`.
    """
    from pyspark.sql import Window

    px, py = probe_xy
    qx, qy = point_xy
    tb = tie_break or point_cols[0]
    if cell_size is None:  # data-driven: see auto_cell_size
        cell_size = auto_cell_size(points, qx, qy)

    # persist the shared/chained frames: every ring's anti-join hangs off
    # the PREVIOUS ring's full computation, and the final union re-reads
    # ``resolved`` — without caching, ring k recomputes rings 1..k-1 and
    # the fallback recomputes everything (measured 1.9x wall-clock on the
    # constant-density probe at 10x). Cached frames are probe-sized rows,
    # never candidate-pair-sized.
    pts = persist(
        points.withColumn("__pcx", _cell(F.col(qx), cell_size)).withColumn(
            "__pcy", _cell(F.col(qy), cell_size)
        )
    )
    dist = (F.col(px) - F.col(qx)) * (F.col(px) - F.col(qx)) + (
        F.col(py) - F.col(qy)
    ) * (F.col(py) - F.col(qy))
    w = Window.partitionBy(probe_key).orderBy("__dist_sq", tb)
    out_cols = [*probes.columns, *point_cols, "__dist_sq"]

    remaining = probes
    resolved = None
    for k in rings:
        probe_cells = remaining.withColumn(
            "__ncx", F.explode(F.sequence(_cell(F.col(px), cell_size) - k,
                                          _cell(F.col(px), cell_size) + k))
        ).withColumn(
            "__ncy", F.explode(F.sequence(_cell(F.col(py), cell_size) - k,
                                          _cell(F.col(py), cell_size) + k))
        )
        cand = probe_cells.join(
            pts,
            (F.col("__ncx") == F.col("__pcx")) & (F.col("__ncy") == F.col("__pcy")),
        ).withColumn("__dist_sq", dist)
        best = (
            cand.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__ncx", "__ncy", "__pcx", "__pcy")
        )
        confirmed = persist(
            best.where(
                F.col("__dist_sq") <= F.lit(float(k * cell_size) ** 2)
            ).select(*out_cols)
        )
        resolved = confirmed if resolved is None else resolved.unionByName(confirmed)
        remaining = persist(
            remaining.join(confirmed.select(probe_key), probe_key, "left_anti")
        )

    # the key is column-derived (always 0) so Catalyst can't constant-fold
    # the condition to `true` and degrade this into a nested-loop join
    unresolved = remaining.withColumn("__one", (F.col(px) * 0).cast("long"))
    fb = (
        unresolved.join(
            F.broadcast(points.withColumn("__one", (F.col(qx) * 0).cast("long"))),
            "__one",
        )
        .withColumn("__dist_sq", dist)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__one")
    )
    return resolved.unionByName(fb.select(*out_cols))
