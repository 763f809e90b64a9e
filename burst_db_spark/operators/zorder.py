"""Z-order (Morton) clustering: interleave the bits of quantized x/y so
spatially-near rows sort near each other — the data-layout half of a
spatial engine (Delta/Iceberg ``OPTIMIZE ZORDER BY``, Hudi space-curves).

Why it matters at 100 TB: parquet prunes row groups by min/max stats.
A bbox predicate over randomly-ordered data touches every file; after a
Z-order sort, the same predicate's x and y ranges map to a contiguous
Morton range, so file/row-group min/max stats eliminate most of the scan.
``zorder_write`` is a range exchange + sortWithinPartitions on the
code — a single exchange, the same cost as any global sort, paid
once at write time.

The code itself is pure integer bit arithmetic (shift/and/or unrolled per
bit) — whole-stage-codegen'd in Spark and bit-identical in the DuckDB
oracle, no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_code(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave ``bits`` low bits of two non-negative ints:
    result bit 2i = x bit i, bit 2i+1 = y bit i."""
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(x.cast("bigint"), i).bitwiseAND(1), 2 * i))
        terms.append(
            F.shiftleft(F.shiftright(y.cast("bigint"), i).bitwiseAND(1), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out.cast("bigint")


def morton_sql(x: str, y: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`morton_code` (same unrolled bit arithmetic)."""
    # fully parenthesize each term: DuckDB gives | and << EQUAL
    # precedence (left-assoc, Postgres-style), so an unwrapped
    # `a << i | b << j` parses as `((a << i) | b) << j`
    parts = []
    for i in range(bits):
        parts.append(f"((({x} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " | ".join(parts) + " AS BIGINT)"


def quantize(v: Column, lo: float, hi: float, bits: int = 16) -> Column:
    """Map a double in [lo, hi] onto the integer grid [0, 2^bits - 1]."""
    cells = (1 << bits) - 1
    scaled = F.floor((v - F.lit(lo)) / F.lit(hi - lo) * F.lit(cells + 1))
    return F.least(F.greatest(scaled, F.lit(0)), F.lit(cells)).cast("bigint")


def quantize_sql(v: str, lo: float, hi: float, bits: int = 16) -> str:
    cells = (1 << bits) - 1
    return (
        f"CAST(least(greatest(floor(({v} - {lo!r}) / {hi - lo!r} * "
        f"{float(cells + 1)!r}), 0), {cells}) AS BIGINT)"
    )


def equal_depth_exchange(
    df: DataFrame, code_col: str, code_bits: int, n: int
) -> DataFrame:
    """Split ``df`` into ``n`` partitions of consecutive ``code_col``
    ranges with about equal row counts, cut where the data alone says.

    ``repartitionByRange`` samples with a seed taken from the RDD id, so
    its cut points, and the files and row groups written from them,
    changed with how many RDDs the session had made before. Here the cuts
    come from an exact count per top-12-bit code bucket (one small
    aggregation), and each range goes to its partition through a hash key
    that lands there."""
    bucket = F.shiftright(F.col(code_col), max(0, code_bits - 12))
    # null codes rank 0, as nulls sort first in a range exchange
    hist = sorted(
        (b, c) for b, c in df.groupBy(bucket).count().collect() if b is not None
    )
    total = sum(c for _, c in hist)
    cuts: list[int] = []
    seen = 0
    for b, c in hist:
        seen += c
        while len(cuts) < n - 1 and seen * n >= (len(cuts) + 1) * total:
            cuts.append(b + 1)
    rank = sum((F.when(bucket >= cut, 1).otherwise(0) for cut in cuts), F.lit(0))
    # the smallest bigint that hash partitioning sends to each partition
    first = dict(
        df.sparkSession.range(64 * n)
        .groupBy(F.pmod(F.hash("id"), F.lit(n)))
        .agg(F.min("id"))
        .collect()
    )
    keys = F.array(*[F.lit(first[i]).cast("bigint") for i in range(n)])
    return df.repartition(n, F.element_at(keys, rank + 1))


def zorder_write(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    lo: float,
    hi: float,
    bits: int = 16,
    n_files: int = 8,
    writer_options: dict | None = None,
) -> None:
    """Write ``df`` parquet clustered by Morton code: one range exchange
    (``equal_depth_exchange`` on the code → equal-depth files) + an
    in-partition sort, so every file owns a compact Morton interval and
    its x/y min/max stats are tight."""
    code = morton_code(
        quantize(F.col(x_col), lo, hi, bits),
        quantize(F.col(y_col), lo, hi, bits),
        bits,
    )
    (
        equal_depth_exchange(df.withColumn("__z", code), "__z", 2 * bits, n_files)
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.options(**(writer_options or {}))
        .mode("overwrite")
        .parquet(path)
    )


def _morton_py(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def morton_ranges(
    x0: int,
    x1: int,
    y0: int,
    y1: int,
    bits: int = 16,
    budget: int = 64,
) -> list[tuple[int, int]]:
    """Decompose the box [x0,x1]×[y0,y1] (inclusive, on the 2^bits grid)
    into <= ``budget`` disjoint Morton-code ranges COVERING it — the
    BIGMIN-style query-side half of Z-order clustering: push these as
    z-range predicates so parquet row-group min/max stats on the sort
    key skip everything outside, and keep the exact x/y box as the
    residual predicate (the decomposition may be a superset after
    budget-merging, never a subset).

    Quadrant recursion: an axis-aligned power-of-two quad whose origin
    is a multiple of its side occupies the CONTIGUOUS z interval
    [morton(origin), morton(origin) + side² − 1]; quads fully inside
    the box emit their interval, disjoint quads prune, straddling quads
    split in four. Exact before merging; then adjacent ranges coalesce
    and, while over budget, the pair with the smallest gap merges
    (deterministic: smallest gap, then leftmost) — each merge only ADDS
    covered cells. Pure integer driver-side planning, O(budget) output."""
    out: list[tuple[int, int]] = []

    def rec(qx: int, qy: int, level: int) -> None:
        side = 1 << level
        if qx + side - 1 < x0 or qx > x1 or qy + side - 1 < y0 or qy > y1:
            return
        if x0 <= qx and qx + side - 1 <= x1 and y0 <= qy and qy + side - 1 <= y1:
            z = _morton_py(qx, qy, bits)
            out.append((z, z + side * side - 1))
            return
        half = side >> 1
        for dx, dy in ((0, 0), (half, 0), (0, half), (half, half)):
            rec(qx + dx, qy + dy, level - 1)

    rec(0, 0, bits)
    out.sort()
    merged: list[list[int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    while len(merged) > budget:
        gaps = [
            (merged[i + 1][0] - merged[i][1], i)
            for i in range(len(merged) - 1)
        ]
        _, i = min(gaps)
        merged[i][1] = merged[i + 1][1]
        del merged[i + 1]
    return [(lo, hi) for lo, hi in merged]
