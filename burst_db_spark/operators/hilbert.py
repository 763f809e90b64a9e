"""Hilbert-curve clustering codes — the better-locality sibling of
Z-order (operators/zorder.py). Both exist for the same 100 TB reason:
parquet prunes row groups by min/max stats, and a space-filling-curve
sort makes bbox predicates touch contiguous code ranges. The Hilbert
curve has no Morton "seams" (adjacent cells are always adjacent on the
curve), so the same bbox query touches FEWER row-group-sized code
blocks — ``o7_hilbert_layout`` measures exactly that, per curve.

The xy2d transform (the classic rot/flip formulation, e.g. Hamilton's
compact Hilbert indices / Wikipedia's public-domain reference code) is
unrolled per bit level into pure integer column arithmetic: SELECT-able,
whole-stage-codegen'd, and bit-identical in the DuckDB twin. No UDF, no
floats. ``bits`` is small (8 → a 256×256 grid = 16-bit codes) because
layout codes only need row-group granularity, not exactness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from burst_db_spark.operators.zorder import equal_depth_exchange


def with_hilbert_code(
    df: DataFrame,
    x: Column,
    y: Column,
    bits: int = 8,
    out: str = "hcode",
) -> DataFrame:
    """Attach the Hilbert distance of cell (x, y) on a 2^bits × 2^bits
    grid as column ``out``.

    Unrolled xy2d: walk levels s = 2^(bits-1) .. 1; at each level the
    quadrant contributes s²·((3·rx) XOR ry) and the coordinates are
    rotated/flipped into the subsquare frame. Each level's state is
    MATERIALIZED as projected columns (one ``select`` per level) — the
    recurrence references x and y twice per level, so inlining it into
    a single Column expression doubles the tree per level (2^bits
    analysis blowup); the projection chain keeps it linear, exactly
    like the nested-subquery DuckDB twin (:func:`hilbert_sql_query`).
    Still a pure map: no shuffle, no UDF, whole-stage-codegen'd."""
    cur = df.withColumns(
        {
            "__hx": x.cast("bigint"),
            "__hy": y.cast("bigint"),
            "__hd": F.lit(0).cast("bigint"),
        }
    )
    s = 1 << (bits - 1)
    while s > 0:
        hx, hy, hd = F.col("__hx"), F.col("__hy"), F.col("__hd")
        rx = F.when(hx.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(
            F.lit(0)
        ).cast("bigint")
        ry = F.when(hy.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(
            F.lit(0)
        ).cast("bigint")
        cur = cur.withColumns(
            {
                "__hd": hd
                + F.lit(s).cast("bigint")
                * F.lit(s)
                * ((F.lit(3) * rx).bitwiseXOR(ry)),
                "__hx": F.when(
                    ry == 0,
                    F.when(rx == 1, F.lit(s - 1) - hy).otherwise(hy),
                ).otherwise(hx),
                "__hy": F.when(
                    ry == 0,
                    F.when(rx == 1, F.lit(s - 1) - hx).otherwise(hx),
                ).otherwise(hy),
            }
        )
        s //= 2
    return cur.withColumn(out, F.col("__hd")).drop("__hx", "__hy", "__hd")


def hilbert_sql_query(
    inner: str,
    x: str,
    y: str,
    cols: list[str],
    bits: int = 8,
    out: str = "hcode",
) -> str:
    """DuckDB twin of :func:`hilbert_code`: the per-level state is
    carried through a chain of NESTED SUBQUERIES (each level's hx/hy/hd
    computed once from the previous level's columns — linear SQL size;
    inlining the recurrence textually would blow up 2^bits). ``inner``
    is any SELECT producing ``cols`` plus integer columns ``x``/``y``;
    the result projects ``cols`` + the Hilbert distance as ``out``."""
    sql = (
        f"SELECT {', '.join(cols)}, CAST({x} AS BIGINT) AS hx0, "
        f"CAST({y} AS BIGINT) AS hy0, CAST(0 AS BIGINT) AS hd0 "
        f"FROM ({inner})"
    )
    lvl = 0
    s = 1 << (bits - 1)
    while s > 0:
        px, py, pd = f"hx{lvl}", f"hy{lvl}", f"hd{lvl}"
        lvl += 1
        rx = f"(CASE WHEN ({px} & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN ({py} & {s}) > 0 THEN 1 ELSE 0 END)"
        sql = (
            f"SELECT {', '.join(cols)}, "
            f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - {py} ELSE {py} END ELSE {px} END AS hx{lvl}, "
            f"CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 "
            f"THEN {s - 1} - {px} ELSE {px} END ELSE {py} END AS hy{lvl}, "
            f"{pd} + CAST({s} AS BIGINT) * {s} * xor(3 * {rx}, {ry}) "
            f"AS hd{lvl} FROM ({sql})"
        )
        s //= 2
    return (
        f"SELECT {', '.join(cols)}, hd{lvl} AS {out} FROM ({sql})"
    )


def hilbert_write(
    df: DataFrame,
    path: str,
    x: Column,
    y: Column,
    bits: int = 8,
    n_files: int = 8,
    writer_options: dict | None = None,
) -> None:
    """Persist Hilbert-clustered parquet: one range exchange on the code
    + in-partition sort, same cost as any global sort, paid once at
    write time (the OPTIMIZE ZORDER BY analog with better locality)."""
    coded = with_hilbert_code(df, x, y, bits, out="__h")
    (
        equal_depth_exchange(coded, "__h", 2 * bits, n_files)
        .sortWithinPartitions("__h")
        .drop("__h")
        .write.options(**(writer_options or {}))
        .mode("overwrite")
        .parquet(path)
    )
