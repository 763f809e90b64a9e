"""Spatial queries (SURVEY.md §2: P9, J7/J8, A3, EPSG classification).

The synthetic star schema has no geometry, so each query derives
deterministic integer rectangles from key columns (same arithmetic in the
DuckDB oracle). Rectangles make the exact-geometry refine provably equal
to the bbox predicate, so the UDF path is oracle-checkable end-to-end —
the non-rectangular cases are covered by tests/test_geo.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.geo.bbox import utm_epsg_expr
from burst_db_spark.geo.udfs import (
    envelope_udf,
    intersects_pair_udf,
    two_phase_intersect_filter,
    union_collect_agg,
)
from burst_db_spark.registry import register
from burst_db_spark.session import fan_out

# rectangle derivations (identical arithmetic in the oracles)
_PART_BOX = """
    SELECT p_partkey, p_brand,
           CAST((p_partkey * 7) % 340 - 170 AS INTEGER) AS xmin,
           CAST((p_partkey * 13) % 160 - 80 AS INTEGER) AS ymin,
           CAST((p_partkey * 7) % 340 - 170 + 3 + p_size % 5 AS INTEGER) AS xmax,
           CAST((p_partkey * 13) % 160 - 80 + 2 + p_size % 4 AS INTEGER) AS ymax
    FROM part
"""

_SUPP_BOX = """
    SELECT s_suppkey,
           CAST((s_suppkey * 29) % 340 - 170 AS INTEGER) AS sxmin,
           CAST((s_suppkey * 17) % 160 - 80 AS INTEGER) AS symin,
           CAST((s_suppkey * 29) % 340 - 170 + 20 AS INTEGER) AS sxmax,
           CAST((s_suppkey * 17) % 160 - 80 + 15 AS INTEGER) AS symax
    FROM supplier
"""


def _rect_wkt_col(xmin: Column, ymin: Column, xmax: Column, ymax: Column) -> Column:
    return F.format_string(
        "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
        xmin, ymin, xmax, ymin, xmax, ymax, xmin, ymax, xmin, ymin,
    )


def _part_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    xmin = ((F.col("p_partkey") * 7) % 340 - 170).cast("int")
    ymin = ((F.col("p_partkey") * 13) % 160 - 80).cast("int")
    xmax = (xmin + 3 + F.col("p_size") % 5).cast("int")
    ymax = (ymin + 2 + F.col("p_size") % 4).cast("int")
    return part.select(
        "p_partkey",
        "p_brand",
        xmin.alias("xmin"),
        ymin.alias("ymin"),
        xmax.alias("xmax"),
        ymax.alias("ymax"),
    ).withColumn(
        "geom_wkt",
        _rect_wkt_col(F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax")),
    )


_PROBE = (-60, -40, 20, 30)


@register(
    "p9_spatial_intersect",
    oracle=f"""
    WITH boxes AS ({_PART_BOX})
    SELECT p_partkey, xmin, ymin, xmax, ymax
    FROM boxes
    WHERE xmin <= {_PROBE[2]} AND xmax >= {_PROBE[0]}
      AND ymin <= {_PROBE[3]} AND ymax >= {_PROBE[1]}
    """,
    tags=("P9", "spatial", "two-phase"),
)
def p9_spatial_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase spatial probe filter (query_frame_db.py:86-121): bbox
    prefilter (pushdown-able column predicate) + exact Intersects UDF
    refine. For rectangles refine == bbox, making the UDF oracle-checked."""
    from burst_db_spark.geo.wkt import rect_wkt

    boxes = _part_boxes(spark, sf_dir)
    probe = rect_wkt(*_PROBE)
    out = two_phase_intersect_filter(boxes, probe)
    return out.select("p_partkey", "xmin", "ymin", "xmax", "ymax")


@register(
    "j7_spatial_join",
    oracle=f"""
    WITH pb AS ({_PART_BOX}), sb AS ({_SUPP_BOX})
    SELECT s_suppkey, CAST(count(*) AS BIGINT) AS n_parts_hit
    FROM sb JOIN pb
      ON pb.xmin <= sb.sxmax AND pb.xmax >= sb.sxmin
     AND pb.ymin <= sb.symax AND pb.ymax >= sb.symin
    GROUP BY s_suppkey
    """,
    tags=("J7", "J8", "spatial"),
)
def j7_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial join (gdf.sjoin, get_volcano_frames.py:29-33) as the
    GRID-CELL two-phase plan: snap bboxes to fixed cells, explode, EQUI
    join on the cell id (hash exchange — the distributed stand-in for the
    reference's R-tree, query_frame_db.py:111-119), reference-corner
    pair dedup, exact pairwise Intersects refine. No nested-loop join
    anywhere: candidate generation is hash-partitioned, so the plan
    survives both sides growing 100× (the prior broadcast nested-loop
    shape was O(N·M) comparisons with a memory-bound broadcast)."""
    from burst_db_spark.operators.spatial_join import grid_bbox_join

    supp = load(spark, sf_dir, "supplier")
    sxmin = ((F.col("s_suppkey") * 29) % 340 - 170).cast("int")
    symin = ((F.col("s_suppkey") * 17) % 160 - 80).cast("int")
    sboxes = supp.select(
        "s_suppkey",
        sxmin.alias("sxmin"),
        symin.alias("symin"),
        (sxmin + 20).cast("int").alias("sxmax"),
        (symin + 15).cast("int").alias("symax"),
    ).withColumn(
        "sgeom",
        _rect_wkt_col(
            F.col("sxmin"), F.col("symin"), F.col("sxmax"), F.col("symax")
        ),
    )
    # spread the fact side (the explode + python refine)
    pboxes = fan_out(_part_boxes(spark, sf_dir))
    # cell ~= the larger (supplier) box: explode factor stays ~4/row
    pairs = grid_bbox_join(
        pboxes,
        sboxes,
        ("xmin", "ymin", "xmax", "ymax"),
        ("sxmin", "symin", "sxmax", "symax"),
        cell_size=32.0,
    )
    refined = pairs.where(intersects_pair_udf(F.col("geom_wkt"), F.col("sgeom")))
    return refined.groupBy("s_suppkey").agg(F.count("*").alias("n_parts_hit"))


@register(
    "a3_union_envelope",
    oracle=f"""
    WITH boxes AS ({_PART_BOX})
    SELECT p_brand,
           CAST(min(xmin) AS DOUBLE) AS uxmin,
           CAST(min(ymin) AS DOUBLE) AS uymin,
           CAST(max(xmax) AS DOUBLE) AS uxmax,
           CAST(max(ymax) AS DOUBLE) AS uymax
    FROM boxes GROUP BY p_brand
    """,
    tags=("A3", "spatial", "udaf"),
)
def a3_union_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry-union aggregate (ST_UnaryUnion(ST_Collect), build_frame_db
    .py:139-148) via per-key applyInPandas collect, verified through the
    envelope of the unioned MULTIPOLYGON (== min/max of member bboxes)."""
    boxes = _part_boxes(spark, sf_dir)
    unioned = union_collect_agg(boxes, "p_brand")
    env = unioned.withColumn("env", envelope_udf(F.col("geom_wkt")))
    return env.select(
        "p_brand",
        F.col("env.xmin").alias("uxmin"),
        F.col("env.ymin").alias("uymin"),
        F.col("env.xmax").alias("uxmax"),
        F.col("env.ymax").alias("uymax"),
    )


_ZONE_SQL = """CASE
             WHEN lat >= 56 AND lat < 64 AND lon >= 3 AND lon < 12 THEN 32
             WHEN lat >= 72 AND lat <= 84 AND lon >= 0 AND lon < 9 THEN 31
             WHEN lat >= 72 AND lat <= 84 AND lon >= 9 AND lon < 21 THEN 33
             WHEN lat >= 72 AND lat <= 84 AND lon >= 21 AND lon < 33 THEN 35
             WHEN lat >= 72 AND lat <= 84 AND lon >= 33 AND lon < 42 THEN 37
             ELSE least(greatest(CAST(floor((lon + 180) / 6) AS INTEGER) + 1, 1), 60)
           END"""


@register(
    "utm_epsg_classify",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey,
               CAST((c_custkey * 7) % 360 - 180 + 0.5 AS DOUBLE) AS lon,
               CAST((c_custkey * 11) % 170 - 85 + 0.5 AS DOUBLE) AS lat
        FROM customer
        UNION ALL
        SELECT c_custkey + 1000000,
               CAST((c_custkey * 5) % 42 + 0.5 AS DOUBLE) AS lon,
               CAST((c_custkey * 3) % 28 + 56 + 0.5 AS DOUBLE) AS lat
        FROM customer WHERE c_custkey < 400
    )
    SELECT c_custkey, lon, lat,
           CAST(CASE
             WHEN lat > 75 THEN 3413
             WHEN lat < -60 THEN 3031
             WHEN lat >= 0 THEN 32600 + {{_ZONE_SQL}}
             ELSE 32700 + {{_ZONE_SQL}}
           END AS INTEGER) AS epsg
    FROM pts
    """.format(_ZONE_SQL=_ZONE_SQL),
    tags=("geo", "epsg"),
)
def utm_epsg_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTM/polar EPSG classification as pure column math, including the
    Norway (32V) / Svalbard (31X..37X) zone exceptions
    (build_frame_db.py:27-32,193-259 via utm.from_latlon). The second
    point set sweeps lat 56..84 x lon 0..42 so every exception cell is
    exercised."""
    cust = load(spark, sf_dir, "customer")
    lon = ((F.col("c_custkey") * 7) % 360 - 180 + 0.5).cast("double")
    lat = ((F.col("c_custkey") * 11) % 170 - 85 + 0.5).cast("double")
    base = cust.select(
        "c_custkey", lon.alias("lon"), lat.alias("lat")
    )
    ex_lon = ((F.col("c_custkey") * 5) % 42 + 0.5).cast("double")
    ex_lat = ((F.col("c_custkey") * 3) % 28 + 56 + 0.5).cast("double")
    exc = cust.where(F.col("c_custkey") < 400).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        ex_lon.alias("lon"),
        ex_lat.alias("lat"),
    )
    pts = base.unionByName(exc)
    return pts.select(
        "c_custkey",
        "lon",
        "lat",
        utm_epsg_expr(F.col("lon"), F.col("lat")).alias("epsg"),
    )


@register(
    "a3_dissolve_union_area",
    oracle="""
    WITH rects AS (
        SELECT c_custkey % 40 AS g,
               (c_custkey * 7) % 100 AS rxmin,
               (c_custkey * 11) % 100 AS rymin,
               (c_custkey * 7) % 100 + 1 + (c_custkey % 5) AS rxmax,
               (c_custkey * 11) % 100 + 1 + (c_custkey % 7) AS rymax
        FROM customer WHERE c_custkey < 2000
    ),
    xs AS (
        SELECT DISTINCT g, x FROM (
            SELECT g, rxmin AS x FROM rects
            UNION SELECT g, rxmax AS x FROM rects)
    ),
    slabs AS (
        SELECT g, x AS x1, lead(x) OVER (PARTITION BY g ORDER BY x) AS x2
        FROM xs
    ),
    cover AS (
        SELECT s.g, s.x1, s.x2, r.rymin, r.rymax
        FROM slabs s JOIN rects r
          ON r.g = s.g AND r.rxmin <= s.x1 AND r.rxmax >= s.x2
        WHERE s.x2 IS NOT NULL
    ),
    ord_iv AS (
        SELECT *, max(rymax) OVER (
            PARTITION BY g, x1 ORDER BY rymin, rymax
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM cover
    ),
    isl AS (
        SELECT *, sum(CASE WHEN prev_max IS NULL OR rymin > prev_max
                           THEN 1 ELSE 0 END) OVER (
            PARTITION BY g, x1 ORDER BY rymin, rymax) AS island
        FROM ord_iv
    ),
    ylen AS (
        SELECT g, x1, x2, island, max(rymax) - min(rymin) AS len
        FROM isl GROUP BY g, x1, x2, island
    ),
    area AS (
        SELECT g, CAST(sum((x2 - x1) * len) AS DOUBLE) AS union_area
        FROM ylen GROUP BY g
    ),
    members AS (SELECT g, CAST(count(*) AS BIGINT) AS n_members FROM rects GROUP BY g)
    SELECT a.g, a.union_area, m.n_members
    FROM area a JOIN members m ON a.g = m.g
    """,
    tags=("A3", "F3", "dissolve", "geo"),
)
def a3_dissolve_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE geometry dissolve (ST_UnaryUnion statistics,
    build_frame_db.py:139-148): per-group union AREA with overlap counted
    ONCE, via the convex inclusion-exclusion kernel
    (geo.predicates.dissolve_stats) under applyInPandas.

    The oracle computes the same union area relationally (slab sweep +
    y-interval gaps-and-islands) — integer rect corners make both sides
    exact, so the double values hash-match. Centroid exactness is covered
    by golden pytest (tests/test_geo.py)."""
    from burst_db_spark.geo.udfs import dissolve_union_agg

    rects = _dissolve_rects(spark, sf_dir)
    out = dissolve_union_agg(rects, "g")
    return out.select("g", "union_area", "n_members")


def _dissolve_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").where(F.col("c_custkey") < 2000)
    r = cust.select(
        (F.col("c_custkey") % 40).alias("g"),
        ((F.col("c_custkey") * 7) % 100).alias("rxmin"),
        ((F.col("c_custkey") * 11) % 100).alias("rymin"),
        ((F.col("c_custkey") * 7) % 100 + 1 + F.col("c_custkey") % 5).alias("rxmax"),
        ((F.col("c_custkey") * 11) % 100 + 1 + F.col("c_custkey") % 7).alias("rymax"),
    )
    return r.select(
        "g",
        F.format_string(
            "POLYGON ((%d %d, %d %d, %d %d, %d %d, %d %d))",
            "rxmin", "rymin", "rxmax", "rymin", "rxmax", "rymax",
            "rxmin", "rymax", "rxmin", "rymin",
        ).alias("geom_wkt"),
    )


@register(
    "a3_union_polygon",
    oracle="""
    WITH rects AS (
        SELECT c_custkey % 40 AS g,
               (c_custkey * 7) % 100 AS rxmin,
               (c_custkey * 11) % 100 AS rymin,
               (c_custkey * 7) % 100 + 1 + (c_custkey % 5) AS rxmax,
               (c_custkey * 11) % 100 + 1 + (c_custkey % 7) AS rymax
        FROM customer WHERE c_custkey < 2000
    ),
    xs AS (
        SELECT DISTINCT g, x FROM (
            SELECT g, rxmin AS x FROM rects
            UNION SELECT g, rxmax AS x FROM rects)
    ),
    slabs AS (
        SELECT g, x AS x1, lead(x) OVER (PARTITION BY g ORDER BY x) AS x2
        FROM xs
    ),
    cover AS (
        SELECT s.g, s.x1, s.x2, r.rymin, r.rymax
        FROM slabs s JOIN rects r
          ON r.g = s.g AND r.rxmin <= s.x1 AND r.rxmax >= s.x2
        WHERE s.x2 IS NOT NULL
    ),
    ord_iv AS (
        SELECT *, max(rymax) OVER (
            PARTITION BY g, x1 ORDER BY rymin, rymax
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        FROM cover
    ),
    isl AS (
        SELECT *, sum(CASE WHEN prev_max IS NULL OR rymin > prev_max
                           THEN 1 ELSE 0 END) OVER (
            PARTITION BY g, x1 ORDER BY rymin, rymax) AS island
        FROM ord_iv
    ),
    ylen AS (
        SELECT g, x1, x2, island, max(rymax) - min(rymin) AS len
        FROM isl GROUP BY g, x1, x2, island
    ),
    area AS (
        SELECT g, CAST(sum((x2 - x1) * len) AS DOUBLE) AS union_area
        FROM ylen GROUP BY g
    ),
    members AS (SELECT g, CAST(count(*) AS BIGINT) AS n_members FROM rects GROUP BY g)
    SELECT a.g, a.union_area, m.n_members
    FROM area a JOIN members m ON a.g = m.g
    """,
    tags=("A3", "F3", "dissolve", "geo", "outline"),
)
def a3_union_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDARY-TRACED dissolved geometry (ST_UnaryUnion(ST_Collect),
    build_frame_db.py:139-148): the per-group union emitted as an actual
    (MULTI)POLYGON WKT — rectilinear overlay + ring stitching in
    geo.predicates.union_outline — with the reported area recomputed
    FROM that traced geometry (exterior minus holes). The relational
    slab-sweep oracle must match it exactly (integer corners are exact
    in doubles), so the traced polygon itself is what the driver
    checks — not just collection statistics."""
    from burst_db_spark.geo.udfs import dissolve_outline_agg

    rects = _dissolve_rects(spark, sf_dir)
    out = dissolve_outline_agg(rects, "g")
    return out.select("g", "union_area", "n_members")
