#!/usr/bin/env python3
"""Repository benchmark: one Spark process (``local[<cores>]``) and one
closed-loop client running a seeded workload.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 6 --trace 0

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the metric names and
units are those of ``BENCHMARK.json`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). Everything the run
writes stays under ``perfbench/work/``, which is removed when it ends.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog", "operator_suite")


def _parse(argv):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work``, and let Spark's
    Python workers import the package however the benchmark was launched."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "jvm-tmp"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM that spark-submit starts would create /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["BDS_GENERATION_TIME"] = "2026-01-01T00:00:00"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str, trace: bool):
    from burst_db_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": f"file://{events}",
        })
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit. A later session in this process starts a new JVM."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS plus this process's max RSS."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def measure(workload: str, seed: int, seconds: float, trace: bool, work: str, **sizes):
    """Run one workload; returns (outcome, end-to-end metrics, per-layer
    metrics or None)."""
    import catalog_workload
    import suite_workload
    from spans import Tracer

    module = {"catalog": catalog_workload, "operator_suite": suite_workload}[workload]
    t = time.perf_counter()
    spark = start_session(work, trace)
    spark.range(1).count()
    jvm_s = time.perf_counter() - t
    try:
        tracer = Tracer(spark, trace)
        out = module.run(spark, tracer, work, seed, seconds, **sizes)
        rss = peak_rss_mb(spark)
    finally:
        stop_session(spark)
    e2e = {
        "setup_s": jvm_s + out.setup_s,
        "batch_s": out.batch_s,
        "request_mean_ms": sum(out.latencies_ms) / max(1, len(out.latencies_ms)),
    }
    layer = None
    if trace:
        tracer.reduce(os.path.join(work, "events"))
        layer = module.layers(tracer, out)
        layer.update({f"traced.{k}": v for k, v in e2e.items()})
        layer["process.peak_rss_mb"] = rss
    return out, e2e, layer


def result(out, e2e: dict, layer: dict | None, spec: dict) -> dict:
    """The printed record: every metric BENCHMARK.json declares for this
    mode, with its unit. A layer this workload does not run reads 0."""
    declared = spec["per_layer"] if layer is not None else spec["end_to_end"]
    values = layer if layer is not None else e2e
    unknown = set(values) - {m["name"] for m in declared}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in declared
        },
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "burst_db_spark", "__init__.py")):
        print("perfbench: run from a checkout of the repository "
              "(burst_db_spark/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        out, e2e, layer = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
        record = result(out, e2e, layer, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    notes = {k: v for k, v in out.facts.items() if isinstance(v, (str, int, float))}
    print(f"perfbench: session_s={e2e['setup_s'] - out.setup_s:.2f} {notes}", file=sys.stderr)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
