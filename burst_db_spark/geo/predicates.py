"""Planar geometry predicates & measures, pure Python.

Semantics follow the reference's use of shapely/SpatiaLite:
``Intersects`` (boundary touch counts), envelope, centroid, area,
Douglas-Peucker ``simplify`` (parse_bursts.py:737 uses tolerance 1/3600°),
``translate`` for antimeridian shifts (build_frame_db.py:296).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from burst_db_spark.geo.wkt import MultiPolygonCoords, Ring, parse_wkt, to_wkt


@dataclass
class Polygon:
    """One polygon with exterior ring (holes ignored for predicates —
    the reference's burst/frame footprints have none)."""

    exterior: Ring

    @classmethod
    def from_wkt(cls, wkt: str) -> list["Polygon"]:
        kind, coords = parse_wkt(wkt)
        if kind == "POINT":
            raise ValueError("expected polygonal WKT")
        return [cls(exterior=rings[0]) for rings in coords]


def point_in_polygon(x: float, y: float, ring: Ring) -> bool:
    """Ray casting; boundary points count as inside (Intersects semantics)."""
    n = len(ring)
    inside = False
    for i in range(n - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        # on-segment check
        if (
            min(x1, x2) - 1e-12 <= x <= max(x1, x2) + 1e-12
            and min(y1, y2) - 1e-12 <= y <= max(y1, y2) + 1e-12
        ):
            cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
            if abs(cross) < 1e-12:
                return True
        if (y1 > y) != (y2 > y):
            xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
            if x < xint:
                inside = not inside
    return inside


def _orient(ax, ay, bx, by, cx, cy) -> float:
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def segments_intersect(p1, p2, p3, p4) -> bool:
    d1 = _orient(*p3, *p4, *p1)
    d2 = _orient(*p3, *p4, *p2)
    d3 = _orient(*p1, *p2, *p3)
    d4 = _orient(*p1, *p2, *p4)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
        return True

    def on(px, py, qx, qy, rx, ry):
        return (
            abs(_orient(px, py, qx, qy, rx, ry)) < 1e-12
            and min(px, qx) - 1e-12 <= rx <= max(px, qx) + 1e-12
            and min(py, qy) - 1e-12 <= ry <= max(py, qy) + 1e-12
        )

    return (
        on(*p1, *p2, *p3)
        or on(*p1, *p2, *p4)
        or on(*p3, *p4, *p1)
        or on(*p3, *p4, *p2)
    )


def rings_intersect(a: Ring, b: Ring) -> bool:
    # vertex containment either way
    if any(point_in_polygon(x, y, b) for x, y in a[:-1]):
        return True
    if any(point_in_polygon(x, y, a) for x, y in b[:-1]):
        return True
    # edge crossings
    for i in range(len(a) - 1):
        for j in range(len(b) - 1):
            if segments_intersect(a[i], a[i + 1], b[j], b[j + 1]):
                return True
    return False


def polygons_intersect(wkt_a: str, wkt_b: str) -> bool:
    """ST_Intersects over (MULTI)POLYGON WKT."""
    pa = Polygon.from_wkt(wkt_a)
    pb = Polygon.from_wkt(wkt_b)
    return any(rings_intersect(a.exterior, b.exterior) for a in pa for b in pb)


def intersects_rect(wkt: str, rect: Ring) -> bool:
    """``polygons_intersect(wkt, <rect>)`` for an axis-aligned rectangle
    ring (as ``wkt.rect_wkt`` writes it), with most member polygons
    decided without the pairwise kernel. A polygon with a vertex in the
    closed rectangle is a hit: that is the kernel's first test. One whose
    envelope lies farther from the rectangle than ``margin`` is not: past
    it neither the kernel's 1e-12 tolerances nor its rounding can make
    the two meet (the rectangle's edges are axis-aligned, so the
    orientation signs against them are exact). Only the rest go through
    ``rings_intersect``."""
    polys = Polygon.from_wkt(wkt)
    xs, ys = zip(*rect)
    xmin, ymin, xmax, ymax = min(xs), min(ys), max(xs), max(ys)
    if not all(map(math.isfinite, (xmin, ymin, xmax, ymax))):
        return any(rings_intersect(p.exterior, rect) for p in polys)
    for p in polys:
        ring = p.exterior
        if any(xmin <= x <= xmax and ymin <= y <= ymax for x, y in ring):
            return True
        pxs, pys = zip(*ring)
        lo_x, hi_x, lo_y, hi_y = min(pxs), max(pxs), min(pys), max(pys)
        margin = 1e-9 * (1 + max(abs(xmin), abs(xmax), abs(ymin), abs(ymax),
                                 abs(lo_x), abs(hi_x), abs(lo_y), abs(hi_y)))
        if (lo_x > xmax + margin or hi_x < xmin - margin
                or lo_y > ymax + margin or hi_y < ymin - margin):
            continue
        if rings_intersect(ring, rect):
            return True
    return False


def envelope(wkt: str) -> tuple[float, float, float, float]:
    kind, coords = parse_wkt(wkt)
    if kind == "POINT":
        x, y = coords  # type: ignore[misc]
        return x, y, x, y
    xs = [x for rings in coords for x, _ in rings[0]]
    ys = [y for rings in coords for _, y in rings[0]]
    return min(xs), min(ys), max(xs), max(ys)


def shoelace_area(ring: Ring) -> float:
    s = 0.0
    for i in range(len(ring) - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        s += x1 * y2 - x2 * y1
    return s / 2.0


def centroid(wkt: str) -> tuple[float, float]:
    """Area-weighted centroid over exterior rings."""
    _, coords = parse_wkt(wkt)
    total_a = cx = cy = 0.0
    for rings in coords:  # type: ignore[union-attr]
        ring = rings[0]
        a = shoelace_area(ring)
        sx = sy = 0.0
        for i in range(len(ring) - 1):
            x1, y1 = ring[i]
            x2, y2 = ring[i + 1]
            f = x1 * y2 - x2 * y1
            sx += (x1 + x2) * f
            sy += (y1 + y2) * f
        if abs(a) > 1e-18:
            cx += sx / 6.0
            cy += sy / 6.0
            total_a += a
    if abs(total_a) < 1e-18:
        raise ValueError("degenerate geometry")
    return cx / total_a, cy / total_a


def _dp(ring: Ring, tol: float) -> Ring:
    """Douglas-Peucker on an open polyline."""
    if len(ring) < 3:
        return ring
    ax, ay = ring[0]
    bx, by = ring[-1]
    dmax, idx = -1.0, 0
    for i in range(1, len(ring) - 1):
        px, py = ring[i]
        dx, dy = bx - ax, by - ay
        denom = (dx * dx + dy * dy) ** 0.5
        d = (
            abs(dy * px - dx * py + bx * ay - by * ax) / denom
            if denom > 1e-18
            else ((px - ax) ** 2 + (py - ay) ** 2) ** 0.5
        )
        if d > dmax:
            dmax, idx = d, i
    if dmax <= tol:
        return [ring[0], ring[-1]]
    left = _dp(ring[: idx + 1], tol)
    right = _dp(ring[idx:], tol)
    return left[:-1] + right


def simplify(wkt: str, tolerance: float) -> str:
    """Douglas-Peucker simplify, ring-closed (st_simplify analog,
    create_2d_geojsons.py:48-68)."""
    _, coords = parse_wkt(wkt)
    out: MultiPolygonCoords = []
    for rings in coords:  # type: ignore[union-attr]
        ring = rings[0]
        simplified = _dp(ring[:-1] + [ring[0]], tolerance)
        if simplified[0] != simplified[-1]:
            simplified.append(simplified[0])
        if len(simplified) >= 4:
            out.append([simplified])
        else:
            out.append([ring])
    return to_wkt(out)


def translate(wkt: str, xoff: float = 0.0, yoff: float = 0.0) -> str:
    """Shift all coordinates (antimeridian handling,
    build_frame_db.py:296 translate(g, xoff=360))."""
    _, coords = parse_wkt(wkt)
    out = [
        [[(x + xoff, y + yoff) for x, y in ring] for ring in rings]
        for rings in coords  # type: ignore[union-attr]
    ]
    return to_wkt(out)


def clip_halfplane(ring: Ring, a: float, b: float, c: float) -> Ring:
    """Sutherland–Hodgman clip of a closed ring against the half-plane
    a·x + b·y <= c. Returns a closed ring ([] when fully outside)."""
    if not ring:
        return []
    pts = ring[:-1] if ring[0] == ring[-1] else list(ring)
    out: Ring = []
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        d1 = a * x1 + b * y1 - c
        d2 = a * x2 + b * y2 - c
        if d1 <= 0:
            out.append((x1, y1))
            if d2 > 0:  # leaving: add intersection
                t = d1 / (d1 - d2)
                out.append((x1 + t * (x2 - x1), y1 + t * (y2 - y1)))
        elif d2 <= 0:  # entering: add intersection
            t = d1 / (d1 - d2)
            out.append((x1 + t * (x2 - x1), y1 + t * (y2 - y1)))
    if not out:
        return []
    out.append(out[0])
    return out


def split_antimeridian(wkt: str) -> str:
    """Split a dateline-crossing polygon into two at ±180°
    (check_dateline semantics, parse_bursts.py:576-629): a polygon whose
    raw lon span exceeds 180° is rebuilt with longitudes in [0, 360],
    clipped at x=180 into an eastern and a western part, and the >180
    part is wrapped back down by 360. Non-crossing input is returned
    unchanged."""
    kind, coords = parse_wkt(wkt)
    out: MultiPolygonCoords = []
    for rings in coords:  # type: ignore[union-attr]
        ring = rings[0]
        xs = [x for x, _ in ring]
        if max(xs) - min(xs) <= 180.0:
            out.append(rings)
            continue
        shifted = [(x + 360.0 if x <= 0.0 else x, y) for x, y in ring]
        east = clip_halfplane(shifted, 1.0, 0.0, 180.0)  # x <= 180
        west = clip_halfplane(shifted, -1.0, 0.0, -180.0)  # x >= 180
        parts = []
        if len(east) >= 4:
            parts.append([east])
        if len(west) >= 4:
            parts.append([[(x - 360.0, y) for x, y in west]])
        if len(parts) != 2:
            # A genuinely wide non-crossing footprint, or a sliver that
            # collapses under the >=4-point check: keep the input ring
            # rather than killing the whole Arrow batch (and asserts
            # vanish under -O, so this must be a real branch).
            out.append(rings)
            continue
        out.extend(parts)
    return to_wkt(out, force_multi=len(out) > 1)


def antimeridian_epsg(wkt: str) -> int:
    """EPSG for a dateline-straddling MULTIPOLYGON
    (build_frame_db.py:262-308): polar thresholds on the centroid
    latitude, else the area-weighted mean of the per-part centroids with
    western parts shifted +360; zone 1 if the mean lies east of 180,
    zone 60 otherwise."""
    _, coords = parse_wkt(wkt)
    total_a = wy = 0.0
    for rings in coords:  # type: ignore[union-attr]
        a = abs(shoelace_area(rings[0]))
        _, cy_ = centroid(to_wkt([rings]))
        total_a += a
        wy += cy_ * a
    y_c = wy / total_a
    if y_c >= 75.0:
        return 3413
    if y_c <= -60.0:
        return 3031
    a_sum = xw = 0.0
    for rings in coords:  # type: ignore[union-attr]
        a = abs(shoelace_area(rings[0]))
        cx_, _ = centroid(to_wkt([rings]))
        if cx_ < 0:
            cx_ += 360.0
        a_sum += a
        xw += cx_ * a
    x_c = xw / a_sum
    base = 32600 if y_c > 0 else 32700
    return base + (1 if x_c > 180.0 else 60)


def _ring_ccw(ring: Ring) -> Ring:
    return ring if shoelace_area(ring) >= 0 else ring[::-1]


def convex_clip(subject: Ring, clip: Ring) -> Ring:
    """subject ∩ clip via Sutherland–Hodgman (exact when ``clip`` is
    convex; the intersection of convex rings stays convex, so repeated
    application is closed)."""
    clip = _ring_ccw(clip)
    pts = clip[:-1] if clip[0] == clip[-1] else list(clip)
    out = subject
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        # inside = left of the CCW edge: (y2-y1)x - (x2-x1)y <= (y2-y1)x1 - (x2-x1)y1
        a = y2 - y1
        b = -(x2 - x1)
        c = a * x1 + b * y1
        out = clip_halfplane(out, a, b, c)
        if not out:
            return []
    return out


def _ring_area_centroid(ring: Ring) -> tuple[float, float, float]:
    a = shoelace_area(ring)
    sx = sy = 0.0
    for i in range(len(ring) - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        f = x1 * y2 - x2 * y1
        sx += (x1 + x2) * f
        sy += (y1 + y2) * f
    if abs(a) < 1e-18:
        return 0.0, 0.0, 0.0
    return abs(a), sx / (6.0 * a), sy / (6.0 * a)


def dissolve_stats(wkts: list[str]) -> tuple[float, float, float]:
    """TRUE union (dissolve) area + centroid of a set of CONVEX polygons
    — the ST_UnaryUnion statistics (build_frame_db.py:139-148) without a
    clipping library: inclusion–exclusion over running convex
    intersections, recursing only while the running intersection is
    nonempty (burst strips only overlap between neighbours, so the
    recursion dies at depth ~2). Unlike ``collect_union_wkt`` (a
    collection), overlap between members is NOT double-counted.

    Exponential in the worst case (everything overlapping everything) —
    fine for per-frame member counts; exactness requires convex inputs.
    Returns (area, cx, cy)."""
    rings: list[Ring] = []
    seen: set[tuple] = set()
    for w in wkts:
        _, coords = parse_wkt(w)
        for poly in coords:  # type: ignore[union-attr]
            ring = _ring_ccw(poly[0])
            key = tuple(ring)
            # identical members don't change the union but double the
            # inclusion-exclusion subset count — drop them up front
            if key in seen:
                continue
            seen.add(key)
            rings.append(ring)

    def _env(ring: Ring) -> tuple[float, float, float, float]:
        xs = [x for x, _ in ring]
        ys = [y for _, y in ring]
        return min(xs), min(ys), max(xs), max(ys)

    envs = [_env(r) for r in rings]
    area_total = 0.0
    mx = my = 0.0

    def rec(start: int, current: Ring, cur_env, depth: int) -> None:
        nonlocal area_total, mx, my
        for k in range(start, len(rings)):
            if depth:
                # O(1) envelope reject before the O(V) clip
                e = envs[k]
                if (
                    cur_env[0] >= e[2]
                    or e[0] >= cur_env[2]
                    or cur_env[1] >= e[3]
                    or e[1] >= cur_env[3]
                ):
                    continue
                inter = convex_clip(current, rings[k])
            else:
                inter = rings[k]
            if len(inter) < 4:
                continue
            a, cx, cy = _ring_area_centroid(inter)
            if a < 1e-18:
                continue
            sign = 1.0 if depth % 2 == 0 else -1.0
            area_total += sign * a
            mx += sign * a * cx
            my += sign * a * cy
            rec(k + 1, inter, _env(inter), depth + 1)

    rec(0, [], None, 0)
    if area_total < 1e-18:
        raise ValueError("degenerate union")
    return area_total, mx / area_total, my / area_total


def buffer_convex(wkt: str, dist: float) -> str:
    """Positive buffer of convex polygons by MITER offset — the land-mask
    dilation (_land_usgs.py:65 buffers the land polygon 0.3°). Each edge
    is shifted outward along its normal and consecutive offset lines are
    re-intersected. Miter corners make this a conservative SUPERSET of
    the rounded (Minkowski-disk) buffer, which is exactly what a
    safety-margin land mask wants; exact on edges, overshoot only at
    corners (factor 1/cos(θ/2) of ``dist``). Requires convex parts."""
    if dist < 0:
        raise ValueError("only positive buffers are supported")
    _, coords = parse_wkt(wkt)
    out: MultiPolygonCoords = []
    for rings in coords:  # type: ignore[union-attr]
        ring = _ring_ccw(rings[0])
        pts = ring[:-1]
        # drop consecutive duplicates
        pts = [p for i, p in enumerate(pts) if p != pts[i - 1]]
        n = len(pts)
        lines = []  # offset edge lines as (a, b, c): a·x + b·y = c
        for i in range(n):
            x1, y1 = pts[i]
            x2, y2 = pts[(i + 1) % n]
            dx, dy = x2 - x1, y2 - y1
            ln = (dx * dx + dy * dy) ** 0.5
            if ln < 1e-18:
                continue
            # outward normal of a CCW ring points right of travel
            nx, ny = dy / ln, -dx / ln
            ox, oy = x1 + dist * nx, y1 + dist * ny
            lines.append((dy / ln, -dx / ln, (dy / ln) * ox + (-dx / ln) * oy))
        new_ring: Ring = []
        m = len(lines)
        for i in range(m):
            a1, b1, c1 = lines[i - 1]
            a2, b2, c2 = lines[i]
            det = a1 * b2 - a2 * b1
            if abs(det) < 1e-15:  # collinear edges share the offset line
                continue
            new_ring.append(
                ((c1 * b2 - c2 * b1) / det, (a1 * c2 - a2 * c1) / det)
            )
        if len(new_ring) >= 3:
            new_ring.append(new_ring[0])
            out.append([new_ring])
    return to_wkt(out, force_multi=len(out) > 1)


def collect_union_wkt(wkts: list[str]) -> str:
    """Assemble geometries into one MULTIPOLYGON (ST_Collect).

    NOTE: this is a *collection*, not a dissolved union — boundary-merging
    (ST_UnaryUnion) needs a polygon-clipping library; for the reference's
    use (frame footprint from member bursts) the collection covers the
    same point set, and envelope/intersects/centroid behave identically.
    """
    polys: MultiPolygonCoords = []
    for w in wkts:
        _, coords = parse_wkt(w)
        polys.extend(coords)  # type: ignore[arg-type]
    return to_wkt(polys, force_multi=True)


def _axis_rect(ring: Ring) -> tuple[float, float, float, float] | None:
    """(xmin, ymin, xmax, ymax) if the ring is an axis-aligned rectangle."""
    pts = ring[:-1] if ring and ring[0] == ring[-1] else list(ring)
    if len(pts) != 4:
        return None
    xs = {x for x, _ in pts}
    ys = {y for _, y in pts}
    if len(xs) != 2 or len(ys) != 2:
        return None
    if {(x, y) for x in xs for y in ys} != set(pts):
        return None
    return min(xs), min(ys), max(xs), max(ys)


def union_outline(wkts: list[str]) -> str | None:
    """BOUNDARY-TRACED union of axis-aligned rectangles — the actual
    dissolved (MULTI)POLYGON geometry (ST_UnaryUnion(ST_Collect),
    build_frame_db.py:139-148), not just its statistics.

    Rectilinear overlay on a compressed grid: mark covered cells, keep
    exactly the cell edges where coverage flips (oriented interior-LEFT,
    so exterior rings come out CCW and holes CW), stitch edges into rings
    preferring the left turn at degree-4 pinch vertices (keeps rings
    simple: corner-touching squares become two polygons, not a bowtie),
    then nest holes into their containing exterior by ray casting.

    Returns None when any member is not an axis-aligned rectangle — the
    general polygon-overlay case stays with ``dissolve_stats`` (exact
    stats, no traced geometry), same honesty rule as collect_union_wkt.
    """
    rects = []
    for w in wkts:
        _, coords = parse_wkt(w)
        for poly in coords:  # type: ignore[union-attr]
            r = _axis_rect(poly[0])
            if r is None:
                return None
            if r[0] < r[2] and r[1] < r[3]:
                rects.append(r)
    if not rects:
        return None

    xs = sorted({v for r in rects for v in (r[0], r[2])})
    ys = sorted({v for r in rects for v in (r[1], r[3])})
    xi = {v: i for i, v in enumerate(xs)}
    yi = {v: i for i, v in enumerate(ys)}
    nx, ny = len(xs) - 1, len(ys) - 1
    cov = [[False] * ny for _ in range(nx)]
    for x1, y1, x2, y2 in rects:
        for i in range(xi[x1], xi[x2]):
            row = cov[i]
            for j in range(yi[y1], yi[y2]):
                row[j] = True

    def covered(i: int, j: int) -> bool:
        return 0 <= i < nx and 0 <= j < ny and cov[i][j]

    # boundary edges, interior on the LEFT of travel direction
    edges: list[tuple[tuple[float, float], tuple[float, float]]] = []
    for i in range(nx + 1):
        for j in range(ny):
            west, east = covered(i - 1, j), covered(i, j)
            if west and not east:   # up-edge (interior west)
                edges.append(((xs[i], ys[j]), (xs[i], ys[j + 1])))
            elif east and not west:  # down-edge (interior east)
                edges.append(((xs[i], ys[j + 1]), (xs[i], ys[j])))
    for j in range(ny + 1):
        for i in range(nx):
            south, north = covered(i, j - 1), covered(i, j)
            if north and not south:  # east-edge (interior north)
                edges.append(((xs[i], ys[j]), (xs[i + 1], ys[j])))
            elif south and not north:  # west-edge (interior south)
                edges.append(((xs[i + 1], ys[j]), (xs[i], ys[j])))

    out_edges: dict[tuple[float, float], list[tuple[float, float]]] = {}
    for a, b in edges:
        out_edges.setdefault(a, []).append(b)

    def _sgn(v: float) -> int:
        return (v > 0) - (v < 0)

    rings: list[Ring] = []
    while True:
        starts = [p for p, ends in out_edges.items() if ends]
        if not starts:
            break
        start = min(starts)
        cur = start
        prev_d: tuple[int, int] | None = None
        ring: Ring = [start]
        while True:
            ends = out_edges[cur]
            if prev_d is None or len(ends) == 1:
                nxt = min(ends)
            else:
                def rank(e, c=cur, pd=prev_d):
                    d = (_sgn(e[0] - c[0]), _sgn(e[1] - c[1]))
                    cross = pd[0] * d[1] - pd[1] * d[0]
                    dot = pd[0] * d[0] + pd[1] * d[1]
                    if cross > 0:
                        return 0  # left turn
                    if cross == 0 and dot > 0:
                        return 1  # straight
                    if cross < 0:
                        return 2  # right turn
                    return 3      # U-turn
                nxt = min(ends, key=lambda e: (rank(e), e))
            ends.remove(nxt)
            prev_d = (_sgn(nxt[0] - cur[0]), _sgn(nxt[1] - cur[1]))
            cur = nxt
            if cur == start:
                break
            ring.append(cur)
        # drop collinear midpoints (consecutive same-direction steps)
        compact: Ring = []
        m = len(ring)
        for k in range(m):
            px, py = ring[(k - 1) % m]
            cx_, cy_ = ring[k]
            qx, qy = ring[(k + 1) % m]
            if (_sgn(cx_ - px), _sgn(cy_ - py)) != (_sgn(qx - cx_), _sgn(qy - cy_)):
                compact.append((cx_, cy_))
        compact.append(compact[0])
        rings.append(compact)

    outers = [(r, shoelace_area(r)) for r in rings if shoelace_area(r) > 0]
    holes = [r for r in rings if shoelace_area(r) < 0]

    def _inside(pt: tuple[float, float], ring: Ring) -> bool:
        x, y = pt
        n = False
        for k in range(len(ring) - 1):
            x1, y1 = ring[k]
            x2, y2 = ring[k + 1]
            if (y1 > y) != (y2 > y) and x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
                n = not n
        return n

    polys: MultiPolygonCoords = [[r] for r, _ in outers]
    for h in holes:
        # a hole vertex is strictly inside its exterior (pinches were
        # separated by the left-turn rule); smallest containing wins
        cands = [
            (a, idx)
            for idx, (r, a) in enumerate(outers)
            if _inside(h[0], r)
        ]
        if cands:
            polys[min(cands)[1]].append(h)
    return to_wkt(polys, force_multi=len(polys) > 1)


def wkt_area_with_holes(wkt: str) -> float:
    """Area of a (MULTI)POLYGON honoring interior rings, orientation-
    independent: |exterior| minus |holes| per polygon."""
    _, coords = parse_wkt(wkt)
    total = 0.0
    for rings in coords:  # type: ignore[union-attr]
        total += abs(shoelace_area(rings[0]))
        for h in rings[1:]:
            total -= abs(shoelace_area(h))
    return total
