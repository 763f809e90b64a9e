"""Arrow-batched pandas UDFs over the pure-Python geo kernel.

These are the refine step of the two-phase filter; the bbox prefilter
(geo.bbox) runs first so only candidates reach Python. Wide frames never
collect on the driver: the union-collect aggregation goes through
applyInPandas per group key. The CLI's ``intersect`` does not use them:
its answer is collected anyway, so ``plans.query_frame.intersect`` runs
the same kernel on the driver and starts no Python worker.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from burst_db_spark.geo import predicates as P


def intersects_udf(probe_wkt: str):
    """ST_Intersects(geom, <constant probe>) as a vectorized UDF.

    The probe is parsed ONCE per batch (closure), not per row.
    """
    probe_polys = P.Polygon.from_wkt(probe_wkt)

    @F.pandas_udf(BooleanType())
    def _intersects(wkts: pd.Series) -> pd.Series:
        out = []
        for w in wkts:
            if w is None:
                out.append(None)
                continue
            polys = P.Polygon.from_wkt(w)
            out.append(
                any(
                    P.rings_intersect(a.exterior, b.exterior)
                    for a in polys
                    for b in probe_polys
                )
            )
        return pd.Series(out, dtype="object")

    return _intersects


@F.pandas_udf(BooleanType())
def intersects_pair_udf(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
    # memoize WKT parsing per batch: spatial joins repeat the same (small)
    # dim-side geometries across millions of candidate pairs
    cache: dict[str, list] = {}

    def polys(w: str):
        got = cache.get(w)
        if got is None:
            got = cache[w] = P.Polygon.from_wkt(w)
        return got

    out = []
    for a, b in zip(wkt_a, wkt_b):
        if a is None or b is None:
            out.append(None)
            continue
        pa, pb = polys(a), polys(b)
        out.append(
            any(
                P.rings_intersect(x.exterior, y.exterior)
                for x in pa
                for y in pb
            )
        )
    return pd.Series(out, dtype="object")


_ENV_SCHEMA = StructType(
    [
        StructField("xmin", DoubleType()),
        StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()),
        StructField("ymax", DoubleType()),
    ]
)


@F.pandas_udf(_ENV_SCHEMA)
def envelope_udf(wkts: pd.Series) -> pd.DataFrame:
    rows = [P.envelope(w) if w is not None else (None,) * 4 for w in wkts]
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


@F.pandas_udf(_ENV_SCHEMA)
def utm_envelope_udf(wkts: pd.Series, epsgs: pd.Series) -> pd.DataFrame:
    """Envelope of each geometry AFTER forward-projecting its vertices
    into the row's own EPSG (ST_Envelope(ST_Transform(geom, epsg)),
    build_frame_db.py:424-431). Vertices are gathered across the whole
    Arrow batch and projected with ONE vectorized numpy call per distinct
    EPSG — no per-row trig loops."""
    import numpy as np

    from burst_db_spark.geo import utm as U
    from burst_db_spark.geo.wkt import parse_wkt

    n = len(wkts)
    xs, ys, rid, eid = [], [], [], []
    for i, (w, e) in enumerate(zip(wkts, epsgs)):
        if w is None or e is None or int(e) == 0:
            continue
        _, polys = parse_wkt(w)
        for rings in polys:
            for x, y in rings[0]:  # exterior ring bounds the envelope
                xs.append(x)
                ys.append(y)
                rid.append(i)
                eid.append(int(e))
    out = np.full((n, 4), np.nan)
    if xs:
        xs_a = np.asarray(xs)
        ys_a = np.asarray(ys)
        rid_a = np.asarray(rid)
        eid_a = np.asarray(eid)
        out[:, 0] = out[:, 1] = np.inf
        out[:, 2] = out[:, 3] = -np.inf
        for e in np.unique(eid_a):
            m = eid_a == e
            px, py = U.project(ys_a[m], xs_a[m], int(e))
            idx = rid_a[m]
            np.minimum.at(out[:, 0], idx, px)
            np.minimum.at(out[:, 1], idx, py)
            np.maximum.at(out[:, 2], idx, px)
            np.maximum.at(out[:, 3], idx, py)
        out[np.isinf(out)] = np.nan
    return pd.DataFrame(out, columns=["xmin", "ymin", "xmax", "ymax"])


@F.pandas_udf(StringType())
def split_antimeridian_udf(wkts: pd.Series) -> pd.Series:
    return pd.Series(
        [None if w is None else P.split_antimeridian(w) for w in wkts]
    )


@F.pandas_udf(IntegerType())
def antimeridian_epsg_udf(wkts: pd.Series) -> pd.Series:
    return pd.Series(
        [None if w is None else P.antimeridian_epsg(w) for w in wkts],
        dtype="Int32",
    )


def simplify_udf(tolerance: float):
    @F.pandas_udf(StringType())
    def _simplify(wkts: pd.Series) -> pd.Series:
        return pd.Series(
            [None if w is None else P.simplify(w, tolerance) for w in wkts]
        )

    return _simplify


def union_collect_agg(
    df: DataFrame, key: str, wkt_col: str = "geom_wkt", out_col: str = "geom_wkt"
) -> DataFrame:
    """Per-key geometry collection → one MULTIPOLYGON row per key
    (the ST_UnaryUnion(ST_Collect) shape, build_frame_db.py:139-148).

    applyInPandas per key: group state is one frame's member bursts
    (≤ ~12 in the reference) — tiny; keys are many → perfect parallelism.
    For huge groups, pre-reduce with a partial collect per partition.
    """
    key_field = df.schema[key]
    out_schema = StructType([key_field, StructField(out_col, StringType())])

    def _union(pdf: pd.DataFrame) -> pd.DataFrame:
        # Known defect: WKT text follows member order, i.e. plan shape (ROADMAP)
        merged = P.collect_union_wkt([w for w in pdf[wkt_col] if w is not None])
        return pd.DataFrame({key: [pdf[key].iloc[0]], out_col: [merged]})

    return df.select(key, wkt_col).groupBy(key).applyInPandas(_union, out_schema)


def dissolve_union_agg(
    df: DataFrame, key: str, wkt_col: str = "geom_wkt"
) -> DataFrame:
    """Per-key TRUE union (dissolve) statistics: ST_UnaryUnion-style
    area + centroid with overlap counted once (predicates.dissolve_stats
    — convex members), via applyInPandas with tiny per-group state.
    Returns (key, union_area, cx, cy, n_members)."""
    key_field = df.schema[key]
    schema = StructType(
        [
            key_field,
            StructField("union_area", DoubleType()),
            StructField("cx", DoubleType()),
            StructField("cy", DoubleType()),
            StructField("n_members", LongType()),
        ]
    )

    def _dissolve(pdf: pd.DataFrame) -> pd.DataFrame:
        area, cx, cy = P.dissolve_stats([w for w in pdf[wkt_col] if w])
        return pd.DataFrame(
            [[pdf[key].iloc[0], area, cx, cy, len(pdf)]],
            columns=[key, "union_area", "cx", "cy", "n_members"],
        )

    return df.groupBy(key).applyInPandas(_dissolve, schema)


@F.pandas_udf(StringType())
def union_outline_udf(wkts: pd.Series) -> pd.Series:
    """Boundary-traced union of one (MULTI)POLYGON collection per row
    (rect members; NULL when tracing doesn't apply — non-rect members or
    antimeridian-spanning footprints)."""
    return wkts.map(lambda w: None if w is None else P.union_outline([w]))


def dissolve_outline_agg(
    df: DataFrame, key: str, wkt_col: str = "geom_wkt"
) -> DataFrame:
    """Per-key dissolved union GEOMETRY — the boundary-traced
    (MULTI)POLYGON the reference gets from ST_UnaryUnion(ST_Collect)
    (build_frame_db.py:139-148) — plus its area recomputed FROM the
    traced WKT (exterior minus holes), so correctness is checkable
    against the relational slab-sweep oracle. Members must be
    axis-aligned rectangles (predicates.union_outline contract);
    union_wkt is NULL otherwise. Returns (key, union_wkt, union_area,
    n_members)."""
    key_field = df.schema[key]
    schema = StructType(
        [
            key_field,
            StructField("union_wkt", StringType()),
            StructField("union_area", DoubleType()),
            StructField("n_members", LongType()),
        ]
    )

    def _outline(pdf: pd.DataFrame) -> pd.DataFrame:
        wkts = [w for w in pdf[wkt_col] if w]
        outline = P.union_outline(wkts)
        area = P.wkt_area_with_holes(outline) if outline else None
        return pd.DataFrame(
            [[pdf[key].iloc[0], outline, area, len(pdf)]],
            columns=[key, "union_wkt", "union_area", "n_members"],
        )

    return df.groupBy(key).applyInPandas(_outline, schema)


def two_phase_intersect_filter(
    df: DataFrame,
    probe_wkt: str,
    wkt_col: str = "geom_wkt",
    bbox_cols: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
) -> DataFrame:
    """R-tree-style two-phase spatial filter (query_frame_db.py:86-121):
    cheap bbox overlap predicate (pushes to the scan / prunes row groups)
    then exact Intersects refine on the survivors only."""
    pxmin, pymin, pxmax, pymax = P.envelope(probe_wkt)
    xmin, ymin, xmax, ymax = (F.col(c) for c in bbox_cols)
    prefiltered = df.where(
        (xmin <= F.lit(pxmax))
        & (xmax >= F.lit(pxmin))
        & (ymin <= F.lit(pymax))
        & (ymax >= F.lit(pymin))
    )
    return prefiltered.where(intersects_udf(probe_wkt)(F.col(wkt_col)))
