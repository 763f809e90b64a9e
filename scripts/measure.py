"""Round-14 measurement harness (guide §1): per-query timing split into
plan-construction (build) vs execution (noop sink), best-of-N, plus
``.explain("formatted")`` capture into plans/r15/ (``$SPARK_GRAFT_PLAN_DIR``).

Usage:
    python scripts/measure.py [--runs N] [--sf DIR] [--plans] name [name ...]
    python scripts/measure.py --top K        # K slowest from BENCH_FULL.json

Each run goes through ``burst_db_spark.runner.run`` with the noop sink, as
in bench.py, and the build-only time is reported too so driver-side
plan-construction cost is visible separately. The script imports the tree
it lives in, so an A/B (or ABA) comparison of two trees is
``python <tree>/scripts/measure.py names...`` once per tree.

``--plans`` saves each plan with its run-specific ids masked (see
:func:`normalise_plan`), so "plan unchanged" between two runs or two
trees is ``diff -r`` of their plan dirs.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from burst_db_spark.registry import all_queries
from burst_db_spark.runner import noop_write, run
from burst_db_spark.session import get_spark


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


# What a formatted plan takes from the run rather than from the query:
# the JVM-wide expression, plan, RDD, codegen-stage and query-stage
# counters, the call sites of ExistingRDD scans, the uuids of written
# files and staged table names, and the names of staging dirs.
_PLAN_IDS = [
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"RDD\[\d+\] at \S+ at \S+:\d+"), "RDD[n] at <call site>"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "<uuid>"),
    (re.compile(r"(?<=_)[0-9a-f]{8}(?:[0-9a-f]{4})?\b"), "<uuid>"),
    (re.compile(r"codegen id : \d+"), "codegen id : n"),
    (re.compile(r"(QueryStage\n(?:.+\n)*?Arguments: )\d+"), r"\1n"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_n"),
    (re.compile(r"<tmp>/[^/\s\],)]+"), "<tmp>/<dir>"),
]


def normalise_plan(txt: str) -> str:
    """``txt`` with the checkout root and the temp dir replaced by
    placeholders and the run-specific ids of :data:`_PLAN_IDS` masked."""
    txt = txt.replace(ROOT, "<root>").replace(tempfile.gettempdir(), "<tmp>")
    for pattern, mask in _PLAN_IDS:
        txt = pattern.sub(mask, txt)
    return txt


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans = False
    names: list[str] = []
    top = 0
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            runs = int(args[i + 1]); i += 2
        elif a == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif a == "--plans":
            plans = True; i += 1
        elif a == "--top":
            top = int(args[i + 1]); i += 2
        else:
            names.append(a); i += 1

    specs = all_queries()
    if top:
        with open(os.path.join(ROOT, "BENCH_FULL.json")) as fh:
            q = json.load(fh)["queries"]
        q = {k: v for k, v in q.items() if isinstance(v, (int, float))}
        names = [k for k, _ in sorted(q.items(), key=lambda x: -x[1])[:top]]

    spark = get_spark(app_name="measure_r14")
    # warmup
    try:
        specs["p10_dedup_distinct"].build(spark, sf_dir).count()
    except Exception as e:  # noqa: BLE001
        print(f"warmup failed: {e}", file=sys.stderr)

    plan_dir = os.path.join(
        ROOT, "plans", os.environ.get("SPARK_GRAFT_PLAN_DIR", "r15"))
    os.makedirs(plan_dir, exist_ok=True)

    out = {}
    for name in names:
        if name not in specs:
            print(f"?? unknown query {name}", file=sys.stderr)
            continue
        try:
            builds, totals = [], []
            for _ in range(runs):
                _, build_s, total_s = run(specs[name], spark, sf_dir, noop_write)
                builds.append(build_s)
                totals.append(total_s)
            rec = {
                "total_best": round(min(totals), 3),
                "build_best": round(min(builds), 3),
                "totals": [round(x, 3) for x in totals],
                "builds": [round(x, 3) for x in builds],
            }
            if plans:
                txt = run(specs[name], spark, sf_dir, _formatted_plan)[0]
                with open(os.path.join(plan_dir, f"{name}_current.txt"),
                          "w") as fh:
                    fh.write(normalise_plan(txt))
                rec["exchanges"] = txt.count("Exchange")
                rec["py_nodes"] = (txt.count("BatchEvalPython")
                                   + txt.count("ArrowEvalPython")
                                   + txt.count("MapInArrow")
                                   + txt.count("FlatMapGroupsInPandas")
                                   + txt.count("MapInPandas"))
            out[name] = rec
            print(f"{name}: total={rec['total_best']}s "
                  f"build={rec['build_best']}s "
                  f"spread={rec['totals']}"
                  + (f" exch={rec.get('exchanges')}"
                     f" py={rec.get('py_nodes')}" if plans else ""))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: FAILED {type(e).__name__}: {str(e)[:200]}")
            out[name] = {"err": str(e)[:300]}
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
