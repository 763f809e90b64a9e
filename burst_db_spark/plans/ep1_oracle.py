"""DuckDB oracle SQL for the EP1 frame-DB pipeline (VERDICT r11 item #1).

Promotes ``ep1_frame_partition`` / ``ep1_minimal_db`` from rows-only to
fully hash-checked: the whole pipeline — deterministic burst fixture,
land-run widening fixpoint, run grouping, the DP frame solver, the frames
aggregation, and (for the minimal DB) the geometry tail (antimeridian
split, EPSG classification incl. Greenland, UTM / polar-stereographic
forward projection, 30 m snap) — is re-derived in ANSI SQL, independent
of the Spark implementation in :mod:`burst_db_spark.plans.frame_db`.

How each non-relational piece becomes SQL:

* **DP solver** (frames.py:110-195 semantics): the forward DP over cut
  positions is replayed by ENUMERATING every composition of the run
  length into segment sizes ``min_frame-1 .. max_frame-1`` with a
  recursive CTE (runs are ≤ a few dozen bursts, so the composition count
  is tiny), then selecting per run the minimum-cost composition with the
  DP's exact tie-break. The Python DP scans sizes DESCENDING and updates
  on strict improvement, so ``prev[j]`` is the LARGEST size achieving the
  minimum — reconstruction therefore yields, among all min-cost
  compositions, the one whose reversed size-sequence is lexicographically
  maximal. Sizes are single digits here, so ``ORDER BY cost,
  rev_path DESC`` on a digit string reproduces it exactly.
* **Widening fixpoint** (frame_db.widen_land_runs): the grow pass is a
  one-shot interval join (intervals are computed from the ORIGINAL runs,
  exactly like the Python pass that materialises ``list(runs())`` before
  mutating). The absorb loop converges after ONE pass — flipping a short
  water run to land can only merge land runs, never create or shorten
  another water run — so a single SQL pass IS the fixpoint.
* **Antimeridian split** (predicates.split_antimeridian): every frame
  footprint here is an axis-aligned rectangle, so Sutherland–Hodgman
  clipping at x=180 has the closed form east=[xmax,180], west=[-180,xmin]
  (the raw-span>180 rectangle wraps the dateline, so the split keeps the
  COMPLEMENT of [xmin,xmax]).  The %.4f WKT write and %.10g re-serialise
  round-trips are replicated with printf, so vertex doubles match the
  UDF's parse bit-for-bit.
* **Projection** (geo/utm.py): the Snyder transverse-Mercator and polar
  stereographic series are plain arithmetic — transcribed term-for-term
  with all scalar coefficients precomputed HERE with the same Python
  float expressions numpy folds, embedded as %.17e literals (decimal
  literals would parse as DECIMAL in DuckDB). Residual libm-vs-numpy ulp
  noise (~1e-9 m) is far below the 30 m snap grid, and the query output
  is all-integer, so the hash is stable.
"""

from __future__ import annotations

from burst_db_spark.geo.greenland import GREENLAND_WKT
from burst_db_spark.geo.wkt import parse_wkt

# --- constants replicated from geo/utm.py with identical arithmetic ---
_A = 6378137.0
_F = 1.0 / 298.257223563
_E2 = _F * (2.0 - _F)
_E4 = _E2 * _E2
_E6 = _E4 * _E2
_EP2 = _E2 / (1.0 - _E2)
_E = _E2**0.5
_K0 = 0.9996

# scalar coefficients exactly as numpy folds them (scalar float ops)
_C0 = 1.0 - _E2 / 4.0 - 3.0 * _E4 / 64.0 - 5.0 * _E6 / 256.0
_C2 = 3.0 * _E2 / 8.0 + 3.0 * _E4 / 32.0 + 45.0 * _E6 / 1024.0
_C4 = 15.0 * _E4 / 256.0 + 45.0 * _E6 / 1024.0
_C6 = 35.0 * _E6 / 3072.0
_EP2_58 = 58.0 * _EP2
_EP2_330 = 330.0 * _EP2
_E_HALF = _E / 2.0

_PI = 3.141592653589793
_TAU = 2.0 * _PI
_DEG2RAD = _PI / 180.0


def _polar_scalars(lat_ts: float) -> tuple[float, float]:
    """(tc, A*mc) for a polar-stereographic parameter set — the scalar
    part of geo/utm.polar_stereographic, same expressions."""
    import math

    phi_c = lat_ts * _DEG2RAD
    sp = math.sin(phi_c)
    tc = math.tan(_PI / 4.0 - phi_c / 2.0) / (
        (1.0 - _E * sp) / (1.0 + _E * sp)
    ) ** (_E / 2.0)
    mc = math.cos(phi_c) / math.sqrt(1.0 - _E2 * sp**2)
    return tc, _A * mc


_TC_N, _AMC_N = _polar_scalars(70.0)  # EPSG 3413 (after sign fold: +70)
_TC_S, _AMC_S = _polar_scalars(71.0)  # EPSG 3031 (lat_ts -71 negated)
_LAM0_N = -45.0 * _DEG2RAD


def _d(v: float) -> str:
    """Double literal in e-notation (plain decimals parse as DECIMAL)."""
    return f"{v:.17e}"


def _greenland_sql() -> tuple[str, str]:
    """(vertices VALUES, edges VALUES) for the Greenland ring."""
    _, coords = parse_wkt(GREENLAND_WKT)
    ring = coords[0][0]
    verts = ", ".join(f"({_d(x)}, {_d(y)})" for x, y in ring[:-1])
    edges = ", ".join(
        f"({_d(x1)}, {_d(y1)}, {_d(x2)}, {_d(y2)})"
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:])
    )
    return verts, edges


# ---------------------------------------------------------------------------
# Shared prefix: fixture -> widen -> runs -> DP -> frames
# (fixtures.burst_triplets(n_triplets=600, n_tracks=12) => per_track=50;
#  frame_db constants TARGET=9, MIN=5, MAX=10 => DP sizes 4..9, badness
#  |size+1-9|^3.)
# ---------------------------------------------------------------------------
# The deterministic fixture replica (fixtures.burst_triplets(600, 12)) —
# standalone so other oracles can reuse the same synthetic points
# (o7_hilbert_layout quantizes trip.lon/lat for its curve comparison).
TRIP_CTE = """trip AS (
    -- fixtures.burst_triplets(600, 12): land window bounds fold to
    -- [3, 50*2//5=20] and [50*3//5=30, 50-2=48]
    SELECT
        b.burst_id,
        CAST(FLOOR(CAST(b.burst_id - 1 AS DOUBLE) / 50) AS INT) + 1 AS track,
        CAST((b.burst_id - 1) % 50 AS INT) AS pos,
        CASE WHEN (CAST(FLOOR(CAST(b.burst_id - 1 AS DOUBLE) / 50) AS INT) + 1) % 2 = 0
             THEN 'DESCENDING' ELSE 'ASCENDING' END AS orbit_pass,
        CAST(((b.burst_id - 1) % 50 BETWEEN 3 AND 20)
             OR ((b.burst_id - 1) % 50 BETWEEN 30 AND 48) AS INT) AS is_land,
        CAST(b.burst_id * 7 % 340 - 170 AS DOUBLE) AS lon,
        CAST((b.burst_id - 1) % 50 AS DOUBLE) * 150 / 50 - 75 AS lat
    FROM range(1, 601) b(burst_id)
)"""

_FRAMES_CTES = f"""
{TRIP_CTE},
-- widen_land_runs pass 1: grow short land runs symmetrically
runs0 AS (
    SELECT *, SUM(chg) OVER (PARTITION BY track ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS rid
    FROM (
        SELECT *, CASE WHEN lag(is_land) OVER w IS NULL
                         OR is_land <> lag(is_land) OVER w
                       THEN 1 ELSE 0 END AS chg
        FROM trip
        WINDOW w AS (PARTITION BY track ORDER BY pos)
    )
),
spans0 AS (
    SELECT track, rid, MIN(pos) AS i, MAX(pos) + 1 AS j,
           MAX(pos) - MIN(pos) + 1 AS len, any_value(is_land) AS land
    FROM runs0 GROUP BY track, rid
),
grow AS (  -- [lo, hi) intervals; target=min(5, n=50)=5
    SELECT track,
           GREATEST(0, LEAST(lo0, hi - 5)) AS lo, hi
    FROM (
        SELECT track, lo0, LEAST(50, GREATEST(j, lo0 + 5)) AS hi
        FROM (
            SELECT track, i, j,
                   GREATEST(0, i - (5 - len + 1) // 2) AS lo0
            FROM spans0 WHERE land = 1 AND len < 5
        )
    )
),
f1 AS (
    SELECT t.*, CASE WHEN t.is_land = 1 OR EXISTS (
                    SELECT 1 FROM grow g
                    WHERE g.track = t.track AND t.pos >= g.lo AND t.pos < g.hi
                ) THEN 1 ELSE 0 END AS land1
    FROM trip t
),
-- absorb pass (single pass IS the fixpoint; see module docstring)
runs1 AS (
    SELECT *, SUM(chg) OVER (PARTITION BY track ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS rid
    FROM (
        SELECT *, CASE WHEN lag(land1) OVER w IS NULL
                         OR land1 <> lag(land1) OVER w
                       THEN 1 ELSE 0 END AS chg
        FROM f1
        WINDOW w AS (PARTITION BY track ORDER BY pos)
    )
),
spans1 AS (
    SELECT track, rid, COUNT(*) AS len, any_value(land1) AS land
    FROM runs1 GROUP BY track, rid
),
f2 AS (
    SELECT r.*, CASE WHEN r.land1 = 1 OR s.len < 5 THEN 1 ELSE 0 END AS land2
    FROM runs1 r JOIN spans1 s ON r.track = s.track AND r.rid = s.rid
),
-- final run numbering over the widened indicator (frame_db.partition_frames)
runs2 AS (
    SELECT *, SUM(chg) OVER (PARTITION BY track ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS run_id
    FROM (
        SELECT burst_id, track, pos, orbit_pass, is_land, lon, lat, land2,
               CASE WHEN lag(land2) OVER w IS NULL
                      OR land2 <> lag(land2) OVER w
                    THEN 1 ELSE 0 END AS chg
        FROM f2
        WINDOW w AS (PARTITION BY track ORDER BY pos)
    )
),
land_runs AS (
    SELECT track, run_id, MIN(pos) AS pos0, COUNT(*) AS n
    FROM runs2 WHERE land2 = 1 GROUP BY track, run_id
),
-- DP replay: enumerate compositions into sizes 4..9, badness |sz+1-9|^3
comp AS (
    SELECT track, run_id, pos0, n,
           0::BIGINT AS covered, 0::BIGINT AS cost,
           [] :: INT[] AS sizes, '' AS rpath
    FROM land_runs
    UNION ALL
    SELECT c.track, c.run_id, c.pos0, c.n,
           c.covered + s.sz,
           c.cost + CAST(ABS(s.sz + 1 - 9) * ABS(s.sz + 1 - 9)
                         * ABS(s.sz + 1 - 9) AS BIGINT),
           list_append(c.sizes, s.sz),
           CAST(s.sz AS VARCHAR) || c.rpath
    FROM comp c
    JOIN (SELECT UNNEST(generate_series(4, 9)) AS sz) s
      ON c.covered + s.sz <= c.n
),
best AS (
    SELECT track, run_id, pos0, n, sizes
    FROM comp WHERE covered = n
    QUALIFY row_number() OVER (PARTITION BY track, run_id
                               ORDER BY cost ASC, rpath DESC) = 1
),
-- solve_frame_sizes fallback: run too small for min_frame -> one slice
sized AS (
    SELECT * FROM best
    UNION ALL
    SELECT l.track, l.run_id, l.pos0, l.n, [CAST(l.n AS INT)] AS sizes
    FROM land_runs l
    WHERE NOT EXISTS (SELECT 1 FROM best b
                      WHERE b.track = l.track AND b.run_id = l.run_id)
),
seg AS (
    SELECT track, run_id, pos0, n,
           UNNEST(sizes) AS sz,
           UNNEST(generate_series(1, len(sizes))) AS k
    FROM sized
),
fslices AS (  -- slice (i, min(j+OVERLAP, n)) -> absolute positions + fid
    SELECT track, run_id, k - 1 AS slice_idx,
           pos0 + (cum - sz) AS start_pos,
           pos0 + LEAST(cum + 1, n) - 1 AS end_pos,
           CAST(track AS BIGINT) * 1000000
             + CAST(run_id AS BIGINT) * 1000
             + CAST(k - 1 AS BIGINT) AS frame_fid
    FROM (
        SELECT *, SUM(sz) OVER (PARTITION BY track, run_id ORDER BY k
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM seg
    )
),
bridge AS (
    SELECT s.frame_fid, t.*
    FROM trip t JOIN fslices s
      ON t.track = s.track AND t.pos BETWEEN s.start_pos AND s.end_pos
),
frames AS (
    SELECT frame_fid,
           CAST(round(avg(track)) AS INT) AS relative_orbit_number,
           arg_min(orbit_pass, pos) AS orbit_pass,
           MAX(is_land) AS is_land,
           MIN(lon) AS xmin,
           MIN(lat) AS ymin,
           MAX(lon) + {_d(0.9 * 3)} AS xmax,
           MAX(lat) + {_d(0.2)} AS ymax,
           COUNT(*) AS n_triplets
    FROM bridge GROUP BY frame_fid
)"""


def frame_partition_oracle_sql() -> str:
    """Oracle for ``ep1_frame_partition``: the frames table."""
    return f"""
WITH RECURSIVE{_FRAMES_CTES}
SELECT frame_fid, relative_orbit_number, orbit_pass, is_land,
       xmin, ymin, xmax, ymax, n_triplets
FROM frames
"""


def minimal_db_oracle_sql() -> str:
    """Oracle for ``ep1_minimal_db``: enrich_frames tail — EPSG (incl.
    antimeridian area-weighted rule + Greenland override) and the
    projected, 30 m-snapped integer envelope."""
    glv, gle = _greenland_sql()
    return f"""
WITH RECURSIVE{_FRAMES_CTES},
-- %.4f WKT write + parse round-trip (enrich_frames rect format_string)
v4 AS (
    SELECT *,
           CAST(printf('%.4f', xmin) AS DOUBLE) AS vxmin,
           CAST(printf('%.4f', ymin) AS DOUBLE) AS vymin,
           CAST(printf('%.4f', xmax) AS DOUBLE) AS vxmax,
           CAST(printf('%.4f', ymax) AS DOUBLE) AS vymax,
           (xmax - xmin) > 180.0 AS crossing,
           (xmin + xmax) / 2 AS cx,
           (ymin + ymax) / 2 AS cy
    FROM frames
),
-- split_antimeridian closed form for rects (module docstring); one row
-- per polygon part, pidx preserves the east-then-west emit order
parts AS (
    SELECT frame_fid, 0 AS pidx,
           vxmin AS pxmin, vymin AS pymin, vxmax AS pxmax, vymax AS pymax
    FROM v4 WHERE NOT crossing
    UNION ALL
    SELECT frame_fid, 0, vxmax, vymin, CAST(180 AS DOUBLE), vymax
    FROM v4 WHERE crossing
    UNION ALL
    SELECT frame_fid, 1, CAST(-180 AS DOUBLE), vymin, vxmin, vymax
    FROM v4 WHERE crossing
),
-- antimeridian_epsg: area-weighted centroid with west parts shifted +360
amep AS (
    SELECT frame_fid,
           CASE WHEN y_c >= 75.0 THEN 3413
                WHEN y_c <= -60.0 THEN 3031
                WHEN x_c > 180.0 AND y_c > 0.0 THEN 32601
                WHEN x_c > 180.0 THEN 32701
                WHEN y_c > 0.0 THEN 32660
                ELSE 32760 END AS am_epsg
    FROM (
        SELECT frame_fid,
               (cy_e * a_e + cy_w * a_w) / (a_e + a_w) AS y_c,
               (cx_e * a_e + (cx_w + 360.0) * a_w) / (a_e + a_w) AS x_c
        FROM (
            SELECT frame_fid,
                   (180.0 - vxmax) * (vymax - vymin) AS a_e,
                   (vxmin + 180.0) * (vymax - vymin) AS a_w,
                   (vxmax + 180.0) / 2 AS cx_e,
                   (-180.0 + vxmin) / 2 AS cx_w,
                   (vymin + vymax) / 2 AS cy_e,
                   (vymin + vymax) / 2 AS cy_w
            FROM v4 WHERE crossing
        )
    )
),
-- utm_epsg_expr on the raw centroid (non-crossing path), incl. the
-- Norway/Svalbard zone exceptions
base_epsg AS (
    SELECT v.frame_fid,
           CASE WHEN v.crossing THEN a.am_epsg
                WHEN v.cy > 75.0 THEN 3413
                WHEN v.cy < -60.0 THEN 3031
                WHEN v.cy >= 0.0 THEN 32600 + z.zone
                ELSE 32700 + z.zone END AS epsg0
    FROM v4 v
    LEFT JOIN amep a USING (frame_fid)
    CROSS JOIN LATERAL (
        SELECT CASE
            WHEN v.cy >= 56.0 AND v.cy < 64.0 AND v.cx >= 3.0 AND v.cx < 12.0
                THEN 32
            WHEN v.cy >= 72.0 AND v.cy <= 84.0 AND v.cx >= 0.0 AND v.cx < 9.0
                THEN 31
            WHEN v.cy >= 72.0 AND v.cy <= 84.0 AND v.cx >= 9.0 AND v.cx < 21.0
                THEN 33
            WHEN v.cy >= 72.0 AND v.cy <= 84.0 AND v.cx >= 21.0 AND v.cx < 33.0
                THEN 35
            WHEN v.cy >= 72.0 AND v.cy <= 84.0 AND v.cx >= 33.0 AND v.cx < 42.0
                THEN 37
            ELSE LEAST(GREATEST(CAST(FLOOR((v.cx + 180.0) / 6.0) AS INT) + 1,
                                1), 60)
        END AS zone
    ) z
),
-- Greenland override: bbox near-gate on RAW frame bbox, then the exact
-- rings_intersect replica (vertex containment both ways + edge crossings)
glverts AS (SELECT * FROM (VALUES {glv}) g(gx, gy)),
gledges AS (SELECT * FROM (VALUES {gle}) e(ex1, ey1, ex2, ey2)),
near AS (
    SELECT frame_fid,
           (xmin <= -11.0 AND xmax >= -73.0
            AND ymin <= 84.2 AND ymax >= 59.0) AS is_near
    FROM v4
),
-- Greenland vertex inside an axis-aligned part rect (ray cast on a rect
-- == closed bbox containment)
glv_in AS (
    SELECT DISTINCT p.frame_fid
    FROM parts p JOIN glverts g
      ON g.gx BETWEEN p.pxmin AND p.pxmax
     AND g.gy BETWEEN p.pymin AND p.pymax
),
pcorners AS (
    SELECT frame_fid, pidx,
           UNNEST([pxmin, pxmax, pxmax, pxmin]) AS qx,
           UNNEST([pymin, pymin, pymax, pymax]) AS qy
    FROM parts
),
-- point_in_polygon(corner, greenland): on-boundary OR odd ray crossings
corner_in AS (
    SELECT DISTINCT frame_fid FROM (
        SELECT c.frame_fid, c.pidx, c.qx, c.qy,
               bool_or(
                   ABS((e.ex2 - e.ex1) * (c.qy - e.ey1)
                       - (e.ey2 - e.ey1) * (c.qx - e.ex1)) < 1e-12
                   AND c.qx BETWEEN LEAST(e.ex1, e.ex2) - 1e-12
                                AND GREATEST(e.ex1, e.ex2) + 1e-12
                   AND c.qy BETWEEN LEAST(e.ey1, e.ey2) - 1e-12
                                AND GREATEST(e.ey1, e.ey2) + 1e-12
               ) AS on_boundary,
               SUM(CASE WHEN (e.ey1 > c.qy) <> (e.ey2 > c.qy)
                         AND c.qx < e.ex1 + (c.qy - e.ey1) * (e.ex2 - e.ex1)
                                             / (e.ey2 - e.ey1)
                        THEN 1 ELSE 0 END) AS crossings
        FROM pcorners c CROSS JOIN gledges e
        GROUP BY c.frame_fid, c.pidx, c.qx, c.qy
    ) WHERE on_boundary OR crossings % 2 = 1
),
pedges AS (
    SELECT frame_fid,
           UNNEST([pxmin, pxmax, pxmax, pxmin]) AS ax,
           UNNEST([pymin, pymin, pymax, pymax]) AS ay,
           UNNEST([pxmax, pxmax, pxmin, pxmin]) AS bx,
           UNNEST([pymin, pymax, pymax, pymin]) AS by
    FROM parts
),
-- segments_intersect(rect edge, greenland edge): proper crossing via
-- orientation signs, else collinear point-on-segment with 1e-12 slack
edge_cross AS (
    SELECT DISTINCT frame_fid FROM (
        SELECT r.frame_fid,
               (e.ex2 - e.ex1) * (r.ay - e.ey1)
                 - (e.ey2 - e.ey1) * (r.ax - e.ex1) AS d1,
               (e.ex2 - e.ex1) * (r.by - e.ey1)
                 - (e.ey2 - e.ey1) * (r.bx - e.ex1) AS d2,
               (r.bx - r.ax) * (e.ey1 - r.ay)
                 - (r.by - r.ay) * (e.ex1 - r.ax) AS d3,
               (r.bx - r.ax) * (e.ey2 - r.ay)
                 - (r.by - r.ay) * (e.ex2 - r.ax) AS d4,
               r.ax, r.ay, r.bx, r.by, e.ex1, e.ey1, e.ex2, e.ey2
        FROM pedges r CROSS JOIN gledges e
    ) WHERE ((d1 > 0) <> (d2 > 0) AND (d3 > 0) <> (d4 > 0))
       OR (ABS(d3) < 1e-12
           AND ex1 BETWEEN LEAST(ax, bx) - 1e-12 AND GREATEST(ax, bx) + 1e-12
           AND ey1 BETWEEN LEAST(ay, by) - 1e-12 AND GREATEST(ay, by) + 1e-12)
       OR (ABS(d4) < 1e-12
           AND ex2 BETWEEN LEAST(ax, bx) - 1e-12 AND GREATEST(ax, bx) + 1e-12
           AND ey2 BETWEEN LEAST(ay, by) - 1e-12 AND GREATEST(ay, by) + 1e-12)
       OR (ABS(d1) < 1e-12
           AND ax BETWEEN LEAST(ex1, ex2) - 1e-12 AND GREATEST(ex1, ex2) + 1e-12
           AND ay BETWEEN LEAST(ey1, ey2) - 1e-12 AND GREATEST(ey1, ey2) + 1e-12)
       OR (ABS(d2) < 1e-12
           AND bx BETWEEN LEAST(ex1, ex2) - 1e-12 AND GREATEST(ex1, ex2) + 1e-12
           AND by BETWEEN LEAST(ey1, ey2) - 1e-12 AND GREATEST(ey1, ey2) + 1e-12)
),
epsg_final AS (
    SELECT b.frame_fid,
           CAST(CASE WHEN n.is_near
                      AND (gv.frame_fid IS NOT NULL
                           OR ci.frame_fid IS NOT NULL
                           OR ec.frame_fid IS NOT NULL)
                     THEN 3413 ELSE b.epsg0 END AS INT) AS epsg
    FROM base_epsg b
    JOIN near n USING (frame_fid)
    LEFT JOIN glv_in gv USING (frame_fid)
    LEFT JOIN corner_in ci USING (frame_fid)
    LEFT JOIN edge_cross ec USING (frame_fid)
),
-- utm_envelope_udf: project every part vertex into the frame's EPSG
verts AS (
    SELECT p.frame_fid, e.epsg,
           UNNEST([p.pxmin, p.pxmax, p.pxmax, p.pxmin]) AS vx,
           UNNEST([p.pymin, p.pymin, p.pymax, p.pymax]) AS vy
    FROM parts p JOIN epsg_final e USING (frame_fid)
),
-- Snyder forward series (geo/utm.py), coefficients precomputed in Python
proj AS (
    SELECT frame_fid, epsg,
           CASE WHEN epsg = 3413 THEN  {_d(_AMC_N)} * pt / {_d(_TC_N)}
                                        * sin(lam - {_d(_LAM0_N)})
                WHEN epsg = 3031 THEN -({_d(_AMC_S)} * pt / {_d(_TC_S)}
                                        * sin(lam))
                ELSE {_d(_K0)} * nn * (aa
                     + (1.0 - tt + cc) * pow(aa, 3) / 6.0
                     + (5.0 - 18.0 * tt + pow(tt, 2) + 72.0 * cc
                        - {_d(_EP2_58)}) * pow(aa, 5) / 120.0)
                     + 500000.0
           END AS px,
           CASE WHEN epsg = 3413 THEN -({_d(_AMC_N)} * pt / {_d(_TC_N)}
                                        * cos(lam - {_d(_LAM0_N)}))
                WHEN epsg = 3031 THEN {_d(_AMC_S)} * pt / {_d(_TC_S)}
                                       * cos(lam)
                ELSE {_d(_K0)} * (mm + nn * tan(phi) * (pow(aa, 2) / 2.0
                     + (5.0 - tt + 9.0 * cc + 4.0 * pow(cc, 2))
                       * pow(aa, 4) / 24.0
                     + (61.0 - 58.0 * tt + pow(tt, 2) + 600.0 * cc
                        - {_d(_EP2_330)}) * pow(aa, 6) / 720.0))
                     + CASE WHEN epsg BETWEEN 32701 AND 32760
                            THEN 10000000.0 ELSE 0.0 END
           END AS py
    FROM (
        SELECT *,
               {_d(_A)} / sqrt(1.0 - {_d(_E2)} * pow(sin(phi), 2)) AS nn,
               pow(tan(phi), 2) AS tt,
               {_d(_EP2)} * pow(cos(phi), 2) AS cc,
               dlam * cos(phi) AS aa,
               {_d(_A)} * ({_d(_C0)} * phi
                           - {_d(_C2)} * sin(2.0 * phi)
                           + {_d(_C4)} * sin(4.0 * phi)
                           - {_d(_C6)} * sin(6.0 * phi)) AS mm,
               -- polar t(phi) (sign-folded lat/lon for the south)
               tan({_d(_PI)} / 4.0 - phi_p / 2.0)
                 / pow((1.0 - {_d(_E)} * sin(phi_p))
                       / (1.0 + {_d(_E)} * sin(phi_p)), {_d(_E_HALF)}) AS pt
        FROM (
            SELECT frame_fid, epsg,
                   vy * {_d(_DEG2RAD)} AS phi,
                   vx * {_d(_DEG2RAD)} AS lam0_in,
                   CASE WHEN epsg = 3031 THEN -vy * {_d(_DEG2RAD)}
                        ELSE vy * {_d(_DEG2RAD)} END AS phi_p,
                   CASE WHEN epsg = 3031 THEN -vx * {_d(_DEG2RAD)}
                        ELSE vx * {_d(_DEG2RAD)} END AS lam,
                   -- TM meridian offset, wrapped into [-pi, pi]
                   CASE WHEN (vx * {_d(_DEG2RAD)}
                              - (CASE WHEN epsg BETWEEN 32601 AND 32660
                                      THEN (epsg - 32600 - 1) * 6.0 - 180.0 + 3.0
                                      WHEN epsg BETWEEN 32701 AND 32760
                                      THEN (epsg - 32700 - 1) * 6.0 - 180.0 + 3.0
                                      ELSE 0.0 END) * {_d(_DEG2RAD)}
                              + {_d(_PI)}) % {_d(_TAU)} < 0
                        THEN (vx * {_d(_DEG2RAD)}
                              - (CASE WHEN epsg BETWEEN 32601 AND 32660
                                      THEN (epsg - 32600 - 1) * 6.0 - 180.0 + 3.0
                                      WHEN epsg BETWEEN 32701 AND 32760
                                      THEN (epsg - 32700 - 1) * 6.0 - 180.0 + 3.0
                                      ELSE 0.0 END) * {_d(_DEG2RAD)}
                              + {_d(_PI)}) % {_d(_TAU)} + {_d(_TAU)} - {_d(_PI)}
                        ELSE (vx * {_d(_DEG2RAD)}
                              - (CASE WHEN epsg BETWEEN 32601 AND 32660
                                      THEN (epsg - 32600 - 1) * 6.0 - 180.0 + 3.0
                                      WHEN epsg BETWEEN 32701 AND 32760
                                      THEN (epsg - 32700 - 1) * 6.0 - 180.0 + 3.0
                                      ELSE 0.0 END) * {_d(_DEG2RAD)}
                              + {_d(_PI)}) % {_d(_TAU)} - {_d(_PI)}
                   END AS dlam
            FROM verts
        )
    )
),
uenv AS (
    SELECT frame_fid, any_value(epsg) AS epsg,
           MIN(px) AS exmin, MIN(py) AS eymin,
           MAX(px) AS exmax, MAX(py) AS eymax
    FROM proj GROUP BY frame_fid
)
SELECT frame_fid, epsg,
       CAST(FLOOR((exmin - 5000.0) / 30.0) * 30 AS INT) AS uxmin,
       CAST(FLOOR((eymin - 5000.0) / 30.0) * 30 AS INT) AS uymin,
       CAST(CEIL((exmax + 5000.0) / 30.0) * 30 AS INT) AS uxmax,
       CAST(CEIL((eymax + 5000.0) / 30.0) * 30 AS INT) AS uymax
FROM uenv
"""
