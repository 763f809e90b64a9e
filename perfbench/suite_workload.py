"""The ``operator_suite`` workload: registered queries, one or two per
operator family, each timed in one bracket from ``clearCache`` through
``build()`` to its collected result.

The timed pass is the first run of each query in the process: a fresh
session, as the engine's first user sees it. Its cost is mostly per-query
fixed cost (planning, code generation, Python workers, driver-paced
actions), which is what the suite is here to show. The order is fixed,
not seeded, so the cold cost each query pays does not move between runs;
the seed only changes the tables. One pass per run keeps a run to about
a minute; a second pass would be warm and measure something else.

``bench.py`` ends its bracket with a noop write; here the bracket ends
with ``toArrow()``, so the execution that is timed also yields the rows
that are checked, and no second execution is needed. Every result is at
most a few dozen rows, so the transfer is small. After the pass each
result is compared with the query's registered DuckDB oracle, using the
order-insensitive row normalisation of ``scripts/verify_strict.py``.

After each query the benchmark counts what it left behind: new entries in
the Python temp dir (``TMPDIR``, where the program's ``tempfile`` calls
put their staging and checkpoint dirs; the JVM has a temp dir of its own),
new temp views (memory sinks) and persisted RDDs. It then removes them,
so no query inherits the leftovers of the one before.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import shutil
import tempfile
import time

import duckdb

from inputs import write_suite_tables
from outcome import Outcome
from spans import Tracer, busy_seconds

QUERIES = (
    "q1_pricing_summary",          # TPC-H scan + aggregate
    "dd_minhash_lsh",              # LSH banding
    "knn_cosine_ivf_multiprobe",   # IVF probing
    "j17_bloom_prejoin",           # Bloom filter
    "dd_jaccard_prefix_join",      # prefix filter
    "g4_cc_iterative",             # graph iteration (driver-paced)
    "stream_stream_join",          # streaming drain
)
SF = 0.01


def _verify_strict():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "verify_strict", os.path.join(root, "scripts", "verify_strict.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run(spark, tracer: Tracer, work: str, seed: int, seconds: float,
        queries=QUERIES, sf: float = SF) -> Outcome:
    """Generate the tables, then time one pass. The pass (~25 s on 4
    cores) is longer than a run's ``seconds``, so ``seconds`` does not
    bound it."""
    from burst_db_spark.registry import all_queries

    out = Outcome()
    sf_dir = f"{work}/sf"
    t = time.perf_counter()
    write_suite_tables(sf_dir, seed, sf)
    out.facts["gen_s"] = time.perf_counter() - t

    specs = all_queries()
    results: dict = {}
    out.facts["pass"] = _timed_pass(spark, tracer, out, specs, queries, sf_dir, results)
    out.batch_s = out.facts["pass"]["s"]
    t = time.perf_counter()
    _check_results(out, specs, results, sf_dir)
    out.facts["check_s"] = time.perf_counter() - t
    return out


def _check_results(out, specs, results: dict, sf_dir: str) -> None:
    """Compare every collected result with its DuckDB oracle."""
    from burst_db_spark.catalog import TABLES

    vs = _verify_strict()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for name, got in results.items():
        want = con.execute(specs[name].oracle).arrow()
        out.check(result_hash(vs, got) == result_hash(vs, want), f"{name} differs from its oracle")
    con.close()


def result_hash(vs, table) -> str:
    """Order-insensitive digest of a result: lower-cased column names plus
    rows normalised as ``scripts/verify_strict.py`` does."""
    renamed = table.rename_columns([c.lower() for c in table.column_names])
    key = (sorted(renamed.column_names), vs.norm_rows(renamed))
    return hashlib.sha256(repr(key).encode()).hexdigest()


def _timed_pass(spark, tracer, out, specs, order, sf_dir, results: dict) -> dict:
    rec = {"queries": {}, "s": 0.0, "leaked_tmp_dirs": 0, "leaked_temp_views": 0,
           "cached_blocks_left": 0}
    with tracer.span("suite.pass") as span:
        for name in order:
            before = _leftovers_before(spark)
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            with tracer.span(f"suite.{name}") as q_span:
                with tracer.span("build"):
                    df = out.attempt(name, specs[name].build, spark, sf_dir)
                t1 = time.perf_counter()
                if df is not None:
                    with tracer.span("exec"):
                        got = out.attempt(name, df.toArrow)
                    if got is not None:
                        results[name] = got
            t2 = time.perf_counter()
            rec["s"] += t2 - t0
            out.latencies_ms.append((t2 - t0) * 1000.0)
            rec["queries"][name] = {"build_s": t1 - t0, "exec_s": t2 - t1, "span": q_span}
            for k, v in _release(spark, before).items():
                rec[k] += v
    rec["span"] = span
    return rec


def _leftovers_before(spark) -> dict:
    return {
        "tmp": set(os.listdir(tempfile.gettempdir())),
        "views": {t.name for t in spark.catalog.listTables() if t.isTemporary},
    }


def _release(spark, before: dict) -> dict[str, int]:
    """Count what the last query left behind, then remove it."""
    tmp = tempfile.gettempdir()
    new_tmp = set(os.listdir(tmp)) - before["tmp"]
    new_views = {t.name for t in spark.catalog.listTables() if t.isTemporary} - before["views"]
    persisted = spark.sparkContext._jsc.getPersistentRDDs()
    n_cached = persisted.size()
    for name in new_tmp:
        path = os.path.join(tmp, name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)
    for name in new_views:
        spark.catalog.dropTempView(name)
    for rdd in list(persisted.values()):
        rdd.unpersist(False)
    spark.catalog.clearCache()
    return {"leaked_tmp_dirs": len(new_tmp), "leaked_temp_views": len(new_views),
            "cached_blocks_left": n_cached}


# -- per-layer metrics (traced run) -----------------------------------------

def layers(tracer: Tracer, out: Outcome) -> dict[str, float]:
    p = out.facts["pass"]
    span, done = p["span"], p["queries"]
    c = span.counters
    m: dict[str, float] = {
        "suite.build_s": sum(q["build_s"] for q in done.values()),
        "suite.exec_s": sum(q["exec_s"] for q in done.values()),
        "suite.jobs": c.get("jobs", 0),
        "suite.tasks_per_job": c.get("tasks", 0) / max(1, c.get("jobs", 0)),
        "suite.driver_s": span.seconds - busy_seconds(span),
    }
    for key in ("executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
        m[f"suite.{key}"] = c.get(key, 0)
    for key in ("leaked_tmp_dirs", "leaked_temp_views", "cached_blocks_left"):
        m[f"suite.{key}"] = p[key]
    for name, q in done.items():
        m[f"suite.{name}.build_s"] = q["build_s"]
        m[f"suite.{name}.exec_s"] = q["exec_s"]
        m[f"suite.{name}.tasks"] = q["span"].counters.get("tasks", 0)
    return m
