"""Strict local mirror of the driver's correctness gate at sf0.01.

Beyond tests/test_oracle_parity.py (value-tolerant, sf0.001) this compares
the Spark result and the DuckDB oracle through Arrow and flags TYPE-FAMILY
mismatches (int vs decimal vs float vs string vs date/timestamp) — the class
that produced the round-1 DECIMAL and round-2 HUGEINT hash failures even
when the Python values compared equal.

Usage: python scripts/verify_strict.py [name_substring ...]
"""

from __future__ import annotations

import math
import os
import re
import sys

import duckdb
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from burst_db_spark.registry import all_queries
from burst_db_spark.runner import run
from burst_db_spark.session import get_spark

SF_DIR = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def family(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bytes"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + family(t.value_type) + ">"
    if pa.types.is_struct(t):
        return "struct"
    return str(t)


def norm_rows(tbl: pa.Table):
    cols = sorted(tbl.column_names)
    data = {c: tbl.column(c).to_pylist() for c in cols}
    n = tbl.num_rows
    rows = []
    for i in range(n):
        row = []
        for c in cols:
            v = data[c][i]
            row.append(_norm(v))
        rows.append(tuple(row))
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return rows


def _norm(v):
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        # EXACT — the driver value-hashes str() of every cell, so the
        # local mirror must not be more tolerant than the real gate.
        # (A 6-dp round here once passed a query whose Spark decimal
        # fold silently truncated scale 10 -> 9 on precision overflow;
        # the driver hash would have caught it. rows_close() still
        # classifies near-misses as ULP warnings for diagnosis.)
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def rows_close(a, b) -> bool:
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if not math.isclose(va, vb, rel_tol=1e-6, abs_tol=1e-6):
                    return False
            elif va != vb:
                return False
    return True


# ---------------------------------------------------------------------------
# Cross-engine arithmetic-route lint (VERDICT r7 item #3).
#
# The r7 driver reds (p12, f_try_arithmetic) were oracle pairs whose Spark
# and DuckDB computations took DIFFERENT arithmetic routes to a decimal /
# float output and merely agreed on lucky data:
#   - decimal-operand division: Spark divides decimals exactly; DuckDB's
#     `/` returns DOUBLE (probed on duckdb 1.0: DECIMAL/INT -> 0.5 float).
#   - avg(decimal): DuckDB returns DOUBLE, Spark DECIMAL.
#   - double -> decimal cast: Spark rounds via exact BigDecimal HALF_UP;
#     DuckDB multiplies by 10^scale IN DOUBLE and rounds half-even — a
#     value within multiply-error of a midpoint legally diverges.
# The lint scans every oracle for these shapes. A double->decimal cast is
# auto-explained as SAFE-GRID when the casted expression is built only
# from the testdata's money/value columns with {+,-,*}: those columns are
# exact 2-decimal grid values (measured: max deviation 9.3e-10 over every
# table at sf0.01) so products sit on a <=4-dec grid whose representation
# error (~1e-9) is far inside the target DECIMAL(.,6) half-grid (5e-7) —
# the rounding mode is never consulted at a midpoint. Anything exposed
# (division, avg/stddev/exp/ln/sqrt/power/log/corr/covar/regr, or an
# explicit double cast inside) must be named in ARITH_EXPLAINED or the
# sweep fails.

_EXPOSED_MARK = re.compile(
    r"(?<!/)/(?!/)"
    r"|\b(avg|exp|ln|sqrt|power|pow|stddev|var_samp|var_pop|log|corr"
    r"|covar_samp|covar_pop|regr_\w+|round)\s*\("
    r"| as double"
)

# Round-14: the waiver class is RETIRED. Every entry that used to live
# here argued "no midpoint is ever in play" for a round(double, n) ->
# DECIMAL hash route; CORRECTNESS_r13 empirically falsified the class
# (five rows red: s/t with t divisible by a power of two lands on an
# EXACT 6dp midpoint, where Spark's HALF_UP and a half-even engine
# legally diverge). All former entries were reworked onto
# engine-invariant surfaces — exact integer cross-multiplication
# (`div`/`//`, both truncate toward zero) or floor(x*2^k) fixed-point
# bigints (floor has no tie-breaking rule) — so the lint now HARD-FAILS
# any exposed double->decimal route with no waiver mechanism at all.
ARITH_EXPLAINED: dict[str, str] = {}


def _decimal_cast_exprs(low: str):
    """Yield the inner expression of every CAST(... AS DECIMAL...) span."""
    for m in re.finditer(r"cast\s*\(", low):
        i = m.end() - 1
        depth = 0
        j = i
        for j in range(i, len(low)):
            if low[j] == "(":
                depth += 1
            elif low[j] == ")":
                depth -= 1
                if depth == 0:
                    break
        inner = low[i + 1 : j]
        k = inner.rfind(" as decimal")
        if k >= 0:
            yield inner[:k]


def lint_arith_routes(name: str, oracle: str,
                      dec_cols: set, dbl_cols: set) -> list[str]:
    low = oracle.lower()
    flags = []
    # D1: division with a decimal-typed column operand (DuckDB -> DOUBLE,
    # Spark -> exact decimal) and no explicit double cast in the window.
    for m in re.finditer(r"(?<!/)/(?!/)", low):
        w = low[max(0, m.start() - 100): m.start() + 100]
        if any(re.search(r"\b" + c + r"\b", w) for c in dec_cols) \
                and " as double" not in w:
            flags.append("D1 decimal-operand division: ..."
                         + w[80:140].replace("\n", " "))
    # D2: avg over a decimal column (DuckDB DOUBLE vs Spark DECIMAL).
    for m in re.finditer(r"avg\s*\(([^()]*)\)", low):
        if any(re.search(r"\b" + c + r"\b", m.group(1)) for c in dec_cols) \
                and " as double" not in m.group(1):
            flags.append(f"D2 avg(decimal): {m.group(1)[:60]}")
    # D3: double-valued expression cast to DECIMAL (rounding-route
    # exposure) — exposed only when the expression is not grid-safe.
    for expr in _decimal_cast_exprs(low):
        involves_double = any(
            re.search(r"\b" + c + r"\b", expr) for c in dbl_cols
        )
        if (involves_double or _EXPOSED_MARK.search(expr)) \
                and _EXPOSED_MARK.search(expr):
            flags.append("D3 exposed double->decimal cast: "
                         + expr.replace("\n", " ")[:70])
    return flags


def run_arith_lint(specs, con) -> int:
    dec_cols: set = set()
    dbl_cols: set = set()
    for t in TABLES:
        for cname, typ, *_ in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        ).fetchall():
            if typ.startswith("DECIMAL"):
                dec_cols.add(cname.lower())
            elif "DOUBLE" in typ or "FLOAT" in typ:
                dbl_cols.add(cname.lower())
    n_unexplained = 0
    for name, spec in specs.items():
        if spec.oracle is None:
            continue
        flags = lint_arith_routes(name, spec.oracle, dec_cols, dbl_cols)
        if not flags:
            continue
        if name in ARITH_EXPLAINED:
            print(f"LINT {name}: {len(flags)} flag(s), explained: "
                  f"{ARITH_EXPLAINED[name]}")
        else:
            for fl in flags:
                print(f"LINT FAIL {name}: {fl}")
            n_unexplained += 1
    return n_unexplained


def main() -> int:
    pats = sys.argv[1:]
    specs = all_queries()
    if pats and pats[0] == "--lint-only":
        con = duckdb.connect()
        n_lint = run_arith_lint(specs, con)
        print(f"\n{len(specs)} oracles linted, "
              f"{n_lint} unexplained arith-lint flags")
        return 1 if n_lint else 0
    names = [
        n for n in specs if not pats or any(p in n for p in pats)
    ]
    spark = get_spark("verify-strict")
    # VERDICT r13 #6: record what evaluated this run — the r13 reds
    # could not be root-caused because neither side logged its engine.
    from __spark_entry__ import engine_versions

    print("ENGINES " + " ".join(
        f"{k}={v}" for k, v in engine_versions(spark).items()
    ))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )

    n_fail = 0
    n_warn = 0
    for name in names:
        spec = specs[name]
        try:
            # toArrow keeps Spark's types exact (toPandas would widen
            # nullable ints to float64 and fake a type-family mismatch)
            sp_tbl, _, secs = run(spec, spark, SF_DIR, lambda df: df.toArrow())
        except Exception as e:
            print(f"FAIL {name}: spark error {e!r}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"ok   {name}: rows-only ({sp_tbl.num_rows} rows, "
                  f"{secs:.1f}s)")
            continue
        try:
            du_tbl = con.execute(spec.oracle).arrow()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e!r}")
            n_fail += 1
            continue

        sp_cols = sorted(c.lower() for c in sp_tbl.column_names)
        du_cols = sorted(c.lower() for c in du_tbl.column_names)
        if sp_cols != du_cols:
            print(f"FAIL {name}: columns {sp_cols} vs {du_cols}")
            n_fail += 1
            continue
        if sp_tbl.num_rows != du_tbl.num_rows:
            print(
                f"FAIL {name}: rows {sp_tbl.num_rows} vs {du_tbl.num_rows}"
            )
            n_fail += 1
            continue
        # type families, matched by lowercase column name
        sp_fam = {
            f.name.lower(): family(f.type) for f in sp_tbl.schema
        }
        du_fam = {
            f.name.lower(): family(f.type) for f in du_tbl.schema
        }
        tmis = {
            c: (sp_fam[c], du_fam[c])
            for c in sp_fam
            if sp_fam[c] != du_fam[c]
        }
        if tmis:
            print(f"WARN {name}: type-family mismatch {tmis}")
            n_warn += 1
        sn, dn = norm_rows(sp_tbl), norm_rows(du_tbl)
        if sn != dn:
            if rows_close(sn, dn):
                # numerically near but NOT bit-exact: the driver's
                # value hash WILL fail this — treat as a failure with
                # a clearer label than a value diff.
                diffs = [(x, y) for x, y in zip(sn, dn) if x != y][:3]
                print(f"FAIL {name}: ULP drift (close, not exact), "
                      f"e.g. {diffs}")
            else:
                diffs = [(x, y) for x, y in zip(sn, dn) if x != y][:3]
                print(f"FAIL {name}: values differ, e.g. {diffs}")
            n_fail += 1
            continue
        print(f"ok   {name}: {sp_tbl.num_rows} rows, {secs:.1f}s")

    n_lint = run_arith_lint({n: specs[n] for n in names}, con)
    print(f"\n{len(names)} checked, {n_fail} fail, {n_warn} type-warn, "
          f"{n_lint} unexplained arith-lint flags")
    return 1 if (n_fail or n_lint) else 0


if __name__ == "__main__":
    raise SystemExit(main())
