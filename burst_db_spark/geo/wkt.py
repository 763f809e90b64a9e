"""Minimal WKT codec for POLYGON / MULTIPOLYGON / POINT (lon lat order).

Covers exactly the geometry text the reference reads/writes
(parse_bursts.py:737 WKT export; export_denormalized_db.py:166 WKT→GPKG).
Not a general OGC parser — no Z/M, no EMPTY, no GEOMETRYCOLLECTION.
"""

from __future__ import annotations

import re

Ring = list[tuple[float, float]]
PolygonCoords = list[Ring]  # ring 0 = exterior, rest = holes
MultiPolygonCoords = list[PolygonCoords]


def _parse_ring(text: str) -> Ring:
    pts = []
    for pair in text.split(","):
        x, y = pair.split()[:2]
        pts.append((float(x), float(y)))
    return pts


_RING = r"\([^()]*\)"
_POLYGON = rf"\(\s*{_RING}(?:\s*,\s*{_RING})*\s*\)"
_RING_RE = re.compile(r"\(([^()]*)\)")
_POLYGON_RE = re.compile(_POLYGON)
_MULTIPOLYGON_RE = re.compile(rf"\(\s*{_POLYGON}(?:\s*,\s*{_POLYGON})*\s*\)")


def _parse_polygon(text: str) -> PolygonCoords:
    """Rings of one well-formed ``((x y, ...), ...)`` polygon text."""
    return [_parse_ring(r) for r in _RING_RE.findall(text)]


def parse_wkt(wkt: str) -> tuple[str, MultiPolygonCoords | tuple[float, float]]:
    """Return (kind, coords): kind ∈ {POINT, POLYGON, MULTIPOLYGON}.

    POLYGON and MULTIPOLYGON both return MultiPolygonCoords (a POLYGON is
    a 1-element multi) so downstream code handles one shape. Raises
    ``ValueError`` unless the parenthesised body is well formed as a
    whole.
    """
    s = wkt.strip()
    head, paren, rest = s.partition("(")
    kind = head.strip().upper()
    body = paren + rest
    if kind == "POINT":
        x, y = rest.rsplit(")", 1)[0].split()
        return kind, (float(x), float(y))
    if kind == "POLYGON":
        if not _POLYGON_RE.fullmatch(body):
            raise ValueError(f"malformed POLYGON: {wkt!r}")
        return kind, [_parse_polygon(body)]
    if kind == "MULTIPOLYGON":
        if not _MULTIPOLYGON_RE.fullmatch(body):
            raise ValueError(f"malformed MULTIPOLYGON: {wkt!r}")
        return kind, [_parse_polygon(p) for p in _POLYGON_RE.findall(body)]
    raise ValueError(f"unsupported WKT kind: {kind!r}")


def _fmt(v: float) -> str:
    return f"{v:.10g}"


def _ring_wkt(ring: Ring) -> str:
    return "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in ring) + ")"


def to_wkt(polys: MultiPolygonCoords, force_multi: bool = False) -> str:
    if len(polys) == 1 and not force_multi:
        return "POLYGON (" + ", ".join(_ring_wkt(r) for r in polys[0]) + ")"
    inner = ", ".join(
        "(" + ", ".join(_ring_wkt(r) for r in rings) + ")" for rings in polys
    )
    return "MULTIPOLYGON (" + inner + ")"


def rect_wkt(xmin: float, ymin: float, xmax: float, ymax: float) -> str:
    """Axis-aligned rectangle polygon (closed ring, CCW)."""
    return to_wkt(
        [[[(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]]]
    )
