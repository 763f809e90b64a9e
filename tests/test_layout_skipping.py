"""Sort-by-filter-column layout → parquet row-group statistics become
disjoint → pushed predicates skip whole row groups at scan time. The
100 TB scan lever that partition pruning (p12) doesn't cover: WITHIN-file
skipping on a non-partition column.

Evidence pinned here, without trusting any single layer blindly:
1. Spark pushes the range predicate into the scan (PushedFilters).
2. The sorted layout's row-group [min,max] ranges intersect a narrow
   range predicate in only a small fraction of row groups; the shuffled
   layout's row groups ALL intersect it (every group spans the full
   value range), so nothing can be skipped no matter how good the
   reader is. Layout, not reader cleverness, is what buys the skip.
"""

from __future__ import annotations

import contextlib
import io
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from tests.conftest import SF_DIR


def _candidate_row_groups(path: str, col: str, lo: float, hi: float) -> tuple[int, int]:
    """(intersecting, total) row groups across all parquet parts."""
    total = inter = 0
    for fn in os.listdir(path):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fn)).metadata
        idx = md.schema.to_arrow_schema().get_field_index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            total += 1
            if st.min <= hi and st.max >= lo:
                inter += 1
    return inter, total


def test_sorted_layout_enables_row_group_skipping(spark, tmp_path):
    li = load(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity"
    )
    base = str(tmp_path)
    sorted_path = os.path.join(base, "sorted")
    shuffled_path = os.path.join(base, "shuffled")
    # small row groups so even sf0.001 yields several per file
    rg_conf = {"parquet.block.size": 64 * 1024}
    (
        li.repartitionByRange(4, "l_extendedprice")
        .sortWithinPartitions("l_extendedprice")
        .write.options(**rg_conf)
        .mode("overwrite")
        .parquet(sorted_path)
    )
    li.repartition(4).write.options(**rg_conf).mode("overwrite").parquet(
        shuffled_path
    )

    lo, hi = 30000.0, 31000.0
    s_inter, s_total = _candidate_row_groups(sorted_path, "l_extendedprice", lo, hi)
    r_inter, r_total = _candidate_row_groups(
        shuffled_path, "l_extendedprice", lo, hi
    )
    assert s_total >= 4 and r_total >= 4
    # shuffled: every row group spans the value range -> zero skippable
    assert r_inter == r_total
    # sorted: the narrow band lives in a small minority of row groups
    assert s_inter <= max(1, s_total // 3), (s_inter, s_total)

    # and Spark actually pushes the predicate into the scan
    df = spark.read.parquet(sorted_path).where(
        (F.col("l_extendedprice") >= lo) & (F.col("l_extendedprice") < hi)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_extendedprice" in plan
    # both layouts agree on the answer, obviously
    n_sorted = df.count()
    n_shuffled = (
        spark.read.parquet(shuffled_path)
        .where((F.col("l_extendedprice") >= lo) & (F.col("l_extendedprice") < hi))
        .count()
    )
    assert n_sorted == n_shuffled


def _candidate_row_groups_2d(
    path: str, xcol: str, ycol: str, box: tuple[float, float, float, float]
) -> tuple[int, int]:
    """(intersecting, total) row groups for a 2-d bbox probe."""
    x0, x1, y0, y1 = box
    total = inter = 0
    for fn in os.listdir(path):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fn)).metadata
        sch = md.schema.to_arrow_schema()
        xi, yi = sch.get_field_index(xcol), sch.get_field_index(ycol)
        for rg in range(md.num_row_groups):
            sx = md.row_group(rg).column(xi).statistics
            sy = md.row_group(rg).column(yi).statistics
            total += 1
            if sx.min <= x1 and sx.max >= x0 and sy.min <= y1 and sy.max >= y0:
                inter += 1
    return inter, total


def test_curve_sorted_write_prunes_row_groups_both_curves(spark, tmp_path):
    """sinks.write_curve_sorted (VERDICT r12 item #8): a bbox probe over
    a Hilbert- or Morton-clustered layout intersects a small minority of
    row groups, while the shuffled layout can skip nothing. Pinned for
    BOTH curves so adopting the Hilbert sink can't silently regress the
    Z-order path (o7_hilbert_layout measures the curves' seek-run
    quality head-to-head; this pins the end-to-end parquet effect)."""
    from burst_db_spark.sinks import write_curve_sorted

    n = 40_000
    pts = spark.range(n).select(
        F.col("id"),
        (F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 8), 16, 10)
         .cast("double") / float(0xFFFFFFFF)).alias("x"),
        (F.conv(F.substring(F.md5(F.col("id").cast("string")), 9, 8), 16, 10)
         .cast("double") / float(0xFFFFFFFF)).alias("y"),
    )
    rg = {"parquet.block.size": 64 * 1024}
    paths = {c: str(tmp_path / c) for c in ("hilbert", "morton", "shuffled")}
    for curve in ("hilbert", "morton"):
        write_curve_sorted(
            pts, paths[curve], "x", "y", 0.0, 1.0, curve=curve, n_files=4,
            writer_options=rg,
        )
    pts.repartition(4).write.options(**rg).mode("overwrite").parquet(
        paths["shuffled"]
    )

    box = (0.40, 0.55, 0.40, 0.55)  # ~2.25% of the plane
    res = {
        c: _candidate_row_groups_2d(paths[c], "x", "y", box)
        for c in paths
    }
    s_inter, s_total = res["shuffled"]
    assert s_total >= 4 and s_inter == s_total  # nothing skippable
    # measured: hilbert 4/16, morton 7/16, shuffled 16/16 on every run —
    # the curve writes cut their ranges from exact bucket counts, so the
    # figures no longer depend on sampling. Both curves prune, Morton
    # loses to its seams (the o7_hilbert_layout run-count ratio, showing
    # up as real parquet row-group skips). Morton's bound is 60% rather
    # than 50% to leave room for row-group boundaries that shift with
    # writer flush timing.
    bound_num = {"hilbert": 1, "morton": 3}
    bound_den = {"hilbert": 2, "morton": 5}
    for curve in ("hilbert", "morton"):
        c_inter, c_total = res[curve]
        assert c_total >= 8, res
        assert c_inter * bound_den[curve] <= c_total * bound_num[curve], (
            curve,
            res,
        )
    assert res["hilbert"][0] <= max(1, res["morton"][0] // 2 + 1), res


def test_zorder_range_decomposition_prunes_and_covers(spark, tmp_path):
    """o9's query contract end-to-end: (1) morton_ranges is EXACT before
    budget-merging and a superset after (exhaustively, small grid);
    (2) on the z-clustered layout the pushed z-ranges intersect
    strictly fewer row groups than the bare qx box stats do (and at
    most half of all groups) — the range decomposition, not the box
    predicate, is what buys the skip."""
    from burst_db_spark.operators.zorder import (
        _morton_py,
        morton_code,
        morton_ranges,
    )

    bits = 6
    for (x0, x1, y0, y1) in ((5, 40, 10, 33), (0, 63, 17, 17), (31, 32, 31, 32)):
        cells = {
            _morton_py(x, y, bits)
            for x in range(x0, x1 + 1)
            for y in range(y0, y1 + 1)
        }
        exact = morton_ranges(x0, x1, y0, y1, bits, budget=10**9)
        cov = set()
        for lo, hi in exact:
            cov.update(range(lo, hi + 1))
        assert cov == cells
        merged = morton_ranges(x0, x1, y0, y1, bits, budget=4)
        assert len(merged) <= 4
        cov_m = set()
        for lo, hi in merged:
            cov_m.update(range(lo, hi + 1))
        assert cells <= cov_m

    # layout evidence on the o9 write shape (synthetic keys so even the
    # smallest SF yields several row groups per file)
    bits = 10
    grid = 1 << bits
    part = spark.range(20000).select(F.col("id").alias("p_partkey"))
    hx = F.conv(
        F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    hy = F.conv(
        F.substring(F.md5(F.col("p_partkey").cast("string")), 9, 8), 16, 10
    ).cast("bigint")
    pts = part.select(
        "p_partkey", (hx % grid).alias("qx"), (hy % grid).alias("qy")
    ).withColumn("z", morton_code(F.col("qx"), F.col("qy"), bits))
    base = str(tmp_path / "o9")
    (
        pts.repartitionByRange(4, "z")
        .sortWithinPartitions("z")
        .write.options(**{"parquet.block.size": 64 * 1024})
        .mode("overwrite")
        .parquet(base)
    )
    x0, x1, y0, y1 = 100, 300, 400, 700
    zr = morton_ranges(x0, x1, y0, y1, bits, budget=32)
    # z-range candidates: a row group survives if ANY pushed range
    # intersects its [min,max]
    total = z_cand = qx_cand = 0
    for fn in os.listdir(base):
        if not fn.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(base, fn)).metadata
        zi = md.schema.to_arrow_schema().get_field_index("z")
        xi = md.schema.to_arrow_schema().get_field_index("qx")
        for rg in range(md.num_row_groups):
            total += 1
            st = md.row_group(rg).column(zi).statistics
            if any(st.min <= hi and st.max >= lo for lo, hi in zr):
                z_cand += 1
            sx = md.row_group(rg).column(xi).statistics
            if sx.min <= x1 and sx.max >= x0:
                qx_cand += 1
    assert total >= 8
    # the z-sort's quadrant structure lets bare qx stats prune a little,
    # but the pushed z-ranges must prune strictly more, and >= half
    assert z_cand < qx_cand, (z_cand, qx_cand)
    assert z_cand * 2 <= total, (z_cand, total)
