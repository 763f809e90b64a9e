"""Grid-cell spatial join vs naive baselines (operators/spatial_join.py).

Randomized rects/points exercise cell-boundary cases the registered
queries can't: boxes ending exactly on cell edges, negative coords,
boxes wider than a cell, probes whose nearest neighbor is outside the
3×3 neighborhood (fallback path)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from burst_db_spark.operators.spatial_join import grid_bbox_join, grid_nn_join


def test_grid_bbox_join_matches_naive(spark):
    rng = random.Random(7)
    lrows = []
    for i in range(120):
        x = rng.randint(-64, 64)
        y = rng.randint(-64, 64)
        lrows.append((i, x, y, x + rng.choice([0, 1, 8, 16, 33]), y + rng.randint(0, 9)))
    rrows = []
    for j in range(60):
        x = rng.randint(-64, 64)
        y = rng.randint(-64, 64)
        rrows.append((j, x, y, x + rng.randint(0, 20), y + rng.choice([0, 16, 32])))
    l = spark.createDataFrame(lrows, "lid int, xmin int, ymin int, xmax int, ymax int")
    r = spark.createDataFrame(rrows, "rid int, sxmin int, symin int, sxmax int, symax int")

    got = sorted(
        (row.lid, row.rid)
        for row in grid_bbox_join(
            l, r, ("xmin", "ymin", "xmax", "ymax"),
            ("sxmin", "symin", "sxmax", "symax"), cell_size=16.0
        ).collect()
    )
    want = sorted(
        (a[0], b[0])
        for a in lrows
        for b in rrows
        if a[1] <= b[3] and a[3] >= b[1] and a[2] <= b[4] and a[4] >= b[2]
    )
    assert got == want
    # exactly-once: no pair duplicated by multi-cell overlap
    assert len(got) == len(set(got))


def test_grid_nn_join_matches_naive_incl_fallback(spark):
    rng = random.Random(11)
    # sparse points force some probes through the exact-fallback branch
    probes = [(i, rng.randint(-100, 100), rng.randint(-100, 100)) for i in range(80)]
    points = [(j, rng.randint(-100, 100), rng.randint(-100, 100)) for j in range(6)]
    p = spark.createDataFrame(probes, "pid int, px int, py int")
    q = spark.createDataFrame(points, "qid int, sx int, sy int")
    out = grid_nn_join(
        p, q, probe_key="pid", probe_xy=("px", "py"), point_xy=("sx", "sy"),
        cell_size=16.0, point_cols=("qid",), tie_break="qid",
    )
    got = {row["pid"]: (row["qid"], row["__dist_sq"]) for row in out.collect()}

    def nn(px, py):
        return min(
            ((qx - px) ** 2 + (qy - py) ** 2, qid) for qid, qx, qy in points
        )

    assert len(got) == len(probes)
    for pid, px, py in probes:
        d, qid = nn(px, py)
        assert got[pid] == (qid, d), pid


def test_auto_cell_size_uniform_and_skewed(spark):
    """Uniform points: the analytic sqrt(target/9λ) size (±30%: extent
    estimation + quantile sketch). Skewed points (90% in one clump):
    the occupancy-histogram pass must SHRINK the cell vs the uniform
    formula on the same extent, or one hot cell goes quadratic."""
    import math

    from burst_db_spark.operators.spatial_join import auto_cell_size

    n, side = 20_000, 1_000
    uni = spark.range(n).select(
        ((F.col("id") * 48271) % side).cast("double").alias("x"),
        ((F.col("id") * 69621) % side).cast("double").alias("y"),
    )
    got = auto_cell_size(uni, "x", "y", target_per_neighborhood=8.0)
    lam = n / (side * side)
    expect = math.sqrt(8.0 / (9.0 * lam))
    assert 0.7 * expect < got < 1.3 * expect

    clump = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, (F.col("id") % 40).cast("double"))
        .otherwise(((F.col("id") * 48271) % side).cast("double"))
        .alias("x"),
        F.when(F.col("id") % 10 < 9, (F.col("id") % 37).cast("double"))
        .otherwise(((F.col("id") * 69621) % side).cast("double"))
        .alias("y"),
    )
    got_skew = auto_cell_size(clump, "x", "y", target_per_neighborhood=8.0)
    # hot clump forces finer cells: shrink = sqrt(p99/cap) > 1
    assert got_skew < 0.8 * got
    # and a tighter cap shrinks harder
    got_tight = auto_cell_size(clump, "x", "y", target_per_neighborhood=8.0,
                               skew_p99_cap=32.0)
    assert got_tight < 0.5 * got_skew


def test_grid_nn_join_auto_cell_matches_fixed(spark):
    """cell_size=None must give the identical exact-NN answer (the grid
    only changes the search schedule, never the result)."""
    from burst_db_spark.operators.spatial_join import grid_nn_join
    from burst_db_spark.runner import scope

    probes = spark.range(200).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 131) % 300).cast("double").alias("px"),
        ((F.col("id") * 197) % 300).cast("double").alias("py"),
    )
    points = spark.range(50).select(
        F.col("id").alias("sid"),
        ((F.col("id") * 241) % 300).cast("double").alias("sx"),
        ((F.col("id") * 89) % 300).cast("double").alias("sy"),
    )
    kw = dict(probe_key="pid", probe_xy=("px", "py"), point_xy=("sx", "sy"),
              point_cols=("sid",), tie_break="sid")
    with scope():
        fixed = grid_nn_join(probes, points, cell_size=40.0, **kw)
        auto = grid_nn_join(probes, points, cell_size=None, **kw)
        rf = sorted((r["pid"], r["sid"], round(r["__dist_sq"], 9))
                    for r in fixed.collect())
        ra = sorted((r["pid"], r["sid"], round(r["__dist_sq"], 9))
                    for r in auto.collect())
    assert rf == ra
