"""Unit tests for the pure-Python geo kernel — the non-rectangular cases
the oracle queries can't cover."""

from __future__ import annotations

import math

import pytest

from burst_db_spark.geo import predicates as P
from burst_db_spark.geo.wkt import parse_wkt, rect_wkt, to_wkt

TRI = "POLYGON ((0 0, 10 0, 5 8, 0 0))"
SQ = rect_wkt(2, 1, 6, 5)


def test_wkt_roundtrip():
    kind, coords = parse_wkt(TRI)
    assert kind == "POLYGON"
    assert to_wkt(coords) == "POLYGON ((0 0, 10 0, 5 8, 0 0))"
    holed = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 2))"
    kind, coords = parse_wkt(holed)
    assert kind == "POLYGON" and len(coords) == 1 and len(coords[0]) == 2
    assert to_wkt(coords) == holed


def test_wkt_multipolygon():
    m = "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))"
    kind, coords = parse_wkt(m)
    assert kind == "MULTIPOLYGON" and len(coords) == 2
    assert to_wkt(coords, force_multi=True) == m
    # no spaces between tokens parses to the same coordinates
    assert parse_wkt(
        "MULTIPOLYGON(((0 0,1 0,1 1,0 0)),((5 5,6 5,6 6,5 5)))"
    ) == (kind, coords)
    # the second polygon has a hole
    holed = (
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), "
        "((5 5, 9 5, 9 9, 5 9, 5 5), (6 6, 7 6, 7 7, 6 6)))"
    )
    kind, coords = parse_wkt(holed)
    assert [len(rings) for rings in coords] == [1, 2]
    assert to_wkt(coords, force_multi=True) == holed


@pytest.mark.parametrize(
    "wkt",
    [
        "POLYGON ((0 0, 1 0",
        "POLYGON ()",
        "POLYGON ((0 0, 1 0, 1 1, 0 0)",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0))",
        "POLYGON (0 0, 1 0, 1 1, 0 0)",
        "MULTIPOLYGON ((0 0, 1 0, 1 1, 0 0))",
        "POLYGON (())",
        "POLYGON ((0 0, 1))",
    ],
)
def test_wkt_malformed_rejected(wkt):
    with pytest.raises(ValueError):
        parse_wkt(wkt)


def test_point_in_polygon():
    _, coords = parse_wkt(TRI)
    ring = coords[0][0]
    assert P.point_in_polygon(5, 2, ring)
    assert not P.point_in_polygon(0, 5, ring)
    assert P.point_in_polygon(5, 0, ring)  # boundary counts
    assert P.point_in_polygon(0, 0, ring)  # vertex counts


def test_polygons_intersect_overlap_touch_disjoint():
    assert P.polygons_intersect(TRI, SQ)
    assert P.polygons_intersect(TRI, rect_wkt(10, 0, 12, 2))  # touch at vertex
    assert not P.polygons_intersect(TRI, rect_wkt(20, 20, 30, 30))
    # containment without edge crossings
    assert P.polygons_intersect(rect_wkt(0, 0, 100, 100), rect_wkt(10, 10, 20, 20))


def test_envelope_and_centroid():
    assert P.envelope(TRI) == (0, 0, 10, 8)
    cx, cy = P.centroid(rect_wkt(0, 0, 4, 2))
    assert math.isclose(cx, 2) and math.isclose(cy, 1)
    cx, cy = P.centroid(TRI)
    assert math.isclose(cx, 5) and math.isclose(cy, 8 / 3)


def test_simplify_removes_collinear():
    w = "POLYGON ((0 0, 5 0.001, 10 0, 10 10, 0 10, 0 0))"
    out = P.simplify(w, 0.1)
    _, coords = parse_wkt(out)
    assert len(coords[0][0]) == 5  # collinear midpoint dropped, ring closed


def test_translate_antimeridian():
    out = P.translate("POLYGON ((-179 0, -178 0, -178 1, -179 0))", xoff=360)
    assert P.envelope(out)[0] == 181


def test_collect_union():
    merged = P.collect_union_wkt([rect_wkt(0, 0, 1, 1), rect_wkt(5, 5, 6, 6)])
    kind, coords = parse_wkt(merged)
    assert kind == "MULTIPOLYGON" and len(coords) == 2
    assert P.envelope(merged) == (0, 0, 6, 6)


def test_area_sign():
    _, coords = parse_wkt(rect_wkt(0, 0, 2, 3))
    assert math.isclose(abs(P.shoelace_area(coords[0][0])), 6)


def test_utm_forward_transform_golden():
    """Anchor against the utm package's published README vector:
    from_latlon(51.2, 7.5) -> (395201.3103811303, 5673135.241182375, 32, 'U')."""
    import numpy as np
    from burst_db_spark.geo import utm as U

    x, y = U.project(np.array([51.2]), np.array([7.5]), 32632)
    assert abs(x[0] - 395201.3103811303) < 0.01
    assert abs(y[0] - 5673135.241182375) < 0.01
    # north pole is the 3413 origin
    x, y = U.project(np.array([90.0]), np.array([0.0]), 3413)
    assert abs(x[0]) < 1e-6 and abs(y[0]) < 1e-6
    # southern-hemisphere false northing
    x, y = U.project(np.array([-33.0]), np.array([151.0]), 32756)
    assert 0 < y[0] < 10_000_000


def test_utm_zone_exceptions():
    from burst_db_spark.geo import utm as U

    assert U.utm_zone(60.0, 5.0) == 32       # Norway 32V
    assert U.utm_zone(60.0, 2.9) == 31       # west of the exception
    assert U.utm_zone(75.0, 5.0) == 31       # Svalbard 31X
    assert U.utm_zone(75.0, 10.0) == 33
    assert U.utm_zone(75.0, 25.0) == 35
    assert U.utm_zone(75.0, 35.0) == 37
    assert U.utm_zone(40.0, 5.0) == 31       # standard formula elsewhere


def test_enrich_frames_meter_bbox(spark):
    import numpy as np
    from burst_db_spark.geo import utm as U
    from burst_db_spark.geo.wkt import parse_wkt
    from burst_db_spark.plans import fixtures
    from burst_db_spark.plans.frame_db import build_frames, enrich_frames

    trip = fixtures.burst_triplets(spark, n_triplets=120, n_tracks=2)
    frames, _ = build_frames(trip)
    rows = enrich_frames(frames).collect()
    assert rows
    for r in rows[:10]:
        # snapped to the 30 m grid
        for v in (r.uxmin, r.uymin, r.uxmax, r.uymax):
            assert isinstance(v, int) and v % 30 == 0
        # contains every projected vertex with the 5 km margin
        _, polys = parse_wkt(r.geom_wkt)
        vx = np.array([p[0] for rings in polys for p in rings[0]])
        vy = np.array([p[1] for rings in polys for p in rings[0]])
        px, py = U.project(vy, vx, r.epsg)
        assert r.uxmin <= px.min() - 5000 and r.uxmin >= px.min() - 5030
        assert r.uymin <= py.min() - 5000 and r.uymin >= py.min() - 5030
        assert r.uxmax >= px.max() + 5000 and r.uxmax <= px.max() + 5030
        assert r.uymax >= py.max() + 5000 and r.uymax <= py.max() + 5030


def test_split_antimeridian():
    from burst_db_spark.geo import predicates as P

    # a strip crossing the dateline: lons 175 .. -175 (span 350 raw)
    w = "POLYGON ((175 10, -175 10, -175 12, 175 12, 175 10))"
    out = P.split_antimeridian(w)
    assert out.startswith("MULTIPOLYGON")
    _, coords = __import__("burst_db_spark.geo.wkt", fromlist=["parse_wkt"]).parse_wkt(out)
    assert len(coords) == 2
    for rings in coords:
        xs = [x for x, _ in rings[0]]
        # each part stays on one side of the dateline
        assert (max(xs) <= 180.0 and min(xs) >= 170.0) or (
            min(xs) >= -180.0 and max(xs) <= -170.0
        )
    # area is preserved by the split (10 deg x 2 deg strip)
    area = sum(abs(P.shoelace_area(r[0])) for r in coords)
    assert abs(area - 20.0) < 1e-9
    # non-crossing input is unchanged
    w2 = "POLYGON ((10 10, 20 10, 20 12, 10 12, 10 10))"
    assert P.split_antimeridian(w2) == w2


def test_antimeridian_epsg():
    from burst_db_spark.geo import predicates as P

    w = "POLYGON ((175 10, -175 10, -175 12, 175 12, 175 10))"
    mp = P.split_antimeridian(w)
    # centroid sits at shifted lon 180 -> on the boundary, west rule: zone 60
    assert P.antimeridian_epsg(mp) in (32601, 32660)
    # mostly-eastern strip: lons 176..-178 -> shifted centroid 179 < 180 -> zone 60
    w_east = "POLYGON ((176 10, -178 10, -178 12, 176 12, 176 10))"
    assert P.antimeridian_epsg(P.split_antimeridian(w_east)) == 32660
    # mostly-western strip: lons 178..-172 -> shifted centroid 183 > 180 -> zone 1
    w_west = "POLYGON ((178 10, -172 10, -172 12, 178 12, 178 10))"
    assert P.antimeridian_epsg(P.split_antimeridian(w_west)) == 32601
    # southern hemisphere -> 327xx
    w_s = "POLYGON ((178 -30, -172 -30, -172 -28, 178 -28, 178 -30))"
    assert P.antimeridian_epsg(P.split_antimeridian(w_s)) == 32701
    # polar override
    w_n = "POLYGON ((175 80, -175 80, -175 82, 175 82, 175 80))"
    assert P.antimeridian_epsg(P.split_antimeridian(w_n)) == 3413


def test_enrich_frames_antimeridian(spark):
    """A dateline-crossing frame gets a 2-part footprint, a zone-1/60
    EPSG, and a finite meter bbox in that EPSG."""
    from pyspark.sql import functions as F
    from burst_db_spark.plans.frame_db import enrich_frames

    # lon min/max of a crossing track come out as -178/178 (span 356),
    # which is exactly the crossing signal build_frames produces
    frames = spark.createDataFrame(
        [(9001000, 9, "ASCENDING", True, -178.0, 10.0, 178.0, 12.0, 3)],
        "frame_fid long, track int, orbit_pass string, is_land boolean, "
        "xmin double, ymin double, xmax double, ymax double, n_triplets int",
    ).withColumn(
        "geom_wkt",
        F.lit("POLYGON ((178 10, -178 10, -178 12, 178 12, 178 10))"),
    ).withColumn("relative_orbit_number", F.col("track"))
    row = enrich_frames(frames).first()
    assert row.geom_wkt.startswith("MULTIPOLYGON")
    assert row.epsg in (32601, 32660)
    assert row.uxmin is not None and row.uxmax > row.uxmin
    assert row.uymin is not None and row.uymax > row.uymin


def test_dissolve_stats_goldens():
    from burst_db_spark.geo import predicates as P

    # two overlapping squares, hand-computed union centroid:
    # A=(0,0)-(2,2) a=4 c=(1,1); B=(1,1)-(4,4) a=9 c=(2.5,2.5);
    # I=(1,1)-(2,2) a=1 c=(1.5,1.5); U=12, c=25/12
    a = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    b = "POLYGON ((1 1, 4 1, 4 4, 1 4, 1 1))"
    area, cx, cy = P.dissolve_stats([a, b])
    assert abs(area - 12.0) < 1e-9
    assert abs(cx - 25.0 / 12.0) < 1e-9 and abs(cy - 25.0 / 12.0) < 1e-9
    # triple overlap handled by inclusion-exclusion depth 3
    t1 = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    t2 = "POLYGON ((1 0, 3 0, 3 2, 1 2, 1 0))"
    t3 = "POLYGON ((1 1, 2 1, 2 3, 1 3, 1 1))"
    area3, _, _ = P.dissolve_stats([t1, t2, t3])
    assert abs(area3 - 7.0) < 1e-9
    # identical members are not double-counted
    areai, cxi, _ = P.dissolve_stats([a, a])
    assert abs(areai - 4.0) < 1e-9 and abs(cxi - 1.0) < 1e-9
    # winding-insensitive (CW ring input)
    b_cw = "POLYGON ((1 1, 1 4, 4 4, 4 1, 1 1))"
    area_cw, _, _ = P.dissolve_stats([a, b_cw])
    assert abs(area_cw - 12.0) < 1e-9


def test_buffer_convex():
    from burst_db_spark.geo import predicates as P

    out = P.buffer_convex("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", 1.0)
    assert P.envelope(out) == (-1, -1, 3, 3)
    area, cx, _ = P.dissolve_stats([out])
    assert abs(area - 16.0) < 1e-9 and abs(cx - 1.0) < 1e-9
    # winding-insensitive, zero-buffer identity, containment with margin
    out0 = P.buffer_convex("POLYGON ((0 0, 0 2, 2 2, 2 0, 0 0))", 0.0)
    assert P.envelope(out0) == (0, 0, 2, 2)
    tri = "POLYGON ((0 0, 10 0, 5 8, 0 0))"
    e0, e1 = P.envelope(tri), P.envelope(P.buffer_convex(tri, 0.5))
    assert e1[0] <= e0[0] - 0.5 and e1[2] >= e0[2] + 0.5
    assert e1[1] <= e0[1] - 0.5 and e1[3] >= e0[3] + 0.5


def test_greenland_override(spark):
    from pyspark.sql import functions as F
    from burst_db_spark.plans.frame_db import enrich_frames

    def frame(fid, x0, y0, x1, y1):
        wkt = (
            f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
            f"{x0} {y1}, {x0} {y0}))"
        )
        return (fid, 1, "ASCENDING", True, float(x0), float(y0),
                float(x1), float(y1), 3, wkt)

    frames = spark.createDataFrame(
        [
            frame(1, -46, 70, -44, 71),   # central-west Greenland
            frame(2, -20, 64, -18, 65),   # Iceland -> NOT Greenland
            frame(3, -72, 69, -70, 70),   # Baffin Island -> NOT Greenland
            frame(4, 10, 50, 12, 51),     # central Europe, far away
        ],
        "frame_fid long, track int, orbit_pass string, is_land boolean, "
        "xmin double, ymin double, xmax double, ymax double, "
        "n_triplets int, geom_wkt string",
    ).withColumn("relative_orbit_number", F.col("track"))
    rows = {r.frame_fid: r.epsg for r in enrich_frames(frames).collect()}
    assert rows[1] == 3413          # Greenland rule fires
    assert rows[2] == 32627         # Iceland stays UTM zone 27N
    assert rows[3] == 32619         # Baffin stays UTM zone 19N
    assert rows[4] == 32632         # Europe untouched


def test_dissolve_stats_fuzz_vs_sweepline():
    """Property check: inclusion-exclusion union area of random integer
    rects equals an independent sweep-line computation."""
    from hypothesis import given, settings, strategies as st

    from burst_db_spark.geo import predicates as P

    rect = st.tuples(
        st.integers(0, 30), st.integers(0, 30),
        st.integers(1, 8), st.integers(1, 8),
    )

    @settings(max_examples=120, deadline=None)
    @given(st.lists(rect, min_size=1, max_size=7))
    def _check(rects):
        wkts, boxes = [], []
        for x, y, w, h in rects:
            boxes.append((x, y, x + w, y + h))
            wkts.append(
                f"POLYGON (({x} {y}, {x+w} {y}, {x+w} {y+h}, "
                f"{x} {y+h}, {x} {y}))"
            )
        area, _, _ = P.dissolve_stats(wkts)
        # independent sweep: x-slabs x merged y-interval lengths
        xs = sorted({b[0] for b in boxes} | {b[2] for b in boxes})
        expect = 0
        for x1, x2 in zip(xs, xs[1:]):
            ivs = sorted(
                (b[1], b[3]) for b in boxes if b[0] <= x1 and b[2] >= x2
            )
            covered, hi = 0, None
            for lo, up in ivs:
                if hi is None or lo > hi:
                    covered += up - lo
                    hi = up
                elif up > hi:
                    covered += up - hi
                    hi = up
            expect += (x2 - x1) * covered
        assert abs(area - expect) < 1e-9

    _check()


def test_split_antimeridian_degenerate_keeps_input():
    # A footprint whose raw lon span exceeds 180 but that does NOT clip
    # into two valid parts (all-positive lons, nothing east of x=180
    # after the shift) must come back unchanged, not crash.
    w = "POLYGON ((-179.9 0, 179.9 0, 179.9 1, -179.9 1, -179.9 0))"
    out = P.split_antimeridian(w)
    assert out.startswith("MULTIPOLYGON")  # genuine crossing still splits
    wide = "POLYGON ((0 0, 181 0, 181 1, 0 1, 0 0))"
    # span > 180, positive lons shift to themselves; west clip yields a
    # sliver at exactly x=180..181 wrapped to -180..-179 -> two parts OK;
    # the degenerate case is a span-wide polygon with points only at
    # x <= 180 after shifting: x in {-170 -> 190, 5, 9}
    deg = "POLYGON ((-170 0, 5 0, 9 1, -170 0))"
    got = P.split_antimeridian(deg)
    assert "POLYGON" in got  # no assert-crash; some valid geometry back


def test_union_outline_area_matches_dissolve_stats_fuzz():
    import random

    from burst_db_spark.geo.wkt import rect_wkt

    rng = random.Random(3)
    for trial in range(25):
        wkts = []
        for _ in range(rng.randint(1, 18)):
            x = rng.randint(0, 40)
            y = rng.randint(0, 40)
            wkts.append(rect_wkt(x, y, x + rng.randint(1, 9), y + rng.randint(1, 9)))
        outline = P.union_outline(wkts)
        area_stats, _, _ = P.dissolve_stats(wkts)
        assert outline is not None
        assert abs(P.wkt_area_with_holes(outline) - area_stats) < 1e-9, trial


def test_union_outline_hole_and_pinch():
    from burst_db_spark.geo.wkt import parse_wkt, rect_wkt

    # ring of rects -> polygon with one interior ring
    frame = [rect_wkt(0, 0, 5, 1), rect_wkt(0, 4, 5, 5),
             rect_wkt(0, 0, 1, 5), rect_wkt(4, 0, 5, 5)]
    w = P.union_outline(frame)
    _, coords = parse_wkt(w)
    assert len(coords) == 1 and len(coords[0]) == 2  # exterior + hole
    assert abs(P.wkt_area_with_holes(w) - (25 - 9)) < 1e-12
    # corner-touching squares -> TWO simple polygons, not a bowtie
    w2 = P.union_outline([rect_wkt(0, 0, 1, 1), rect_wkt(1, 1, 2, 2)])
    _, coords2 = parse_wkt(w2)
    assert len(coords2) == 2
    # non-rect member -> honest None
    tri = "POLYGON ((0 0, 2 0, 1 2, 0 0))"
    assert P.union_outline([tri]) is None


def test_intersects_rect_matches_kernel_fuzz():
    """``intersects_rect`` (vertex accept, envelope reject, kernel for the
    rest) answers as ``polygons_intersect`` does, on a coarse grid where
    touching, collinear and degenerate boxes are common."""
    from hypothesis import given, settings, strategies as st

    coord = st.integers(-6, 6).map(lambda v: v / 2)
    ring = st.lists(st.tuples(coord, coord), min_size=3, max_size=5)

    @settings(max_examples=1000, deadline=None)
    @given(st.lists(ring, min_size=1, max_size=4), st.tuples(coord, coord, coord, coord))
    def _check(rings, box):
        wkt = to_wkt([[r + r[:1]] for r in rings], force_multi=True)
        probe = rect_wkt(*box)
        rect = P.Polygon.from_wkt(probe)[0].exterior
        assert P.intersects_rect(wkt, rect) == P.polygons_intersect(wkt, probe)

    _check()
