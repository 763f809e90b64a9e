"""The ``catalog`` workload: the reference's batch pipeline, then the
interactive reads over what it wrote.

Batch (one pass, the first in the process, as each ``opera-db`` command of
the reference's ``make`` chain is): ``plans.historical.ingest_daily_csvs``,
``plans.create_pipeline.create``, then the CLI's ``create-blackout``,
``make-burst-catalog --blackout`` and ``make-reference-dates``.

Reads: a closed loop (one client, next request after the previous
answer) over a fixed, seeded list of CLI ``lookup``, ``intersect`` and
``historical fetch-bursts``/``fetch-granules`` calls, mixed 2:2:1. The
request shapes are the repository's own CLI examples (``_request_list``).
The list is sent whole, again and again, until ``--seconds`` have passed,
so every run of a seed sends, times and checks the same requests.

Every answer and artifact is checked outside the timed brackets: lookups
and fetches are recomputed with DuckDB over the same files, the artifacts
are held to the invariants below and to a per-seed golden digest.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import gzip
import hashlib
import io
import json
import os
import sqlite3
import time

import duckdb
import numpy as np

from inputs import CADENCE_DAYS, FIRST_DATE, CatalogSize, write_burst_inputs
from outcome import Outcome, median
from spans import Tracer

SIZE = CatalogSize(n_triplets=600, n_tracks=6, n_dates=60)
CYCLE = ("lookup", "intersect", "lookup", "intersect", "fetch")
# one fetch shape per cycle, in turn; the list is one cycle per shape
FETCH_SHAPES = ("example", "with_granule", "granules_since", "two_frames")
N_REQUESTS = len(CYCLE) * len(FETCH_SHAPES)
# the two intersect boxes, width x height in degrees: README.md's
# ``--bbox=-150,-80,-80,0`` and __main__.py's ``--bbox "-10,-10,10,10"``
BOXES = ((70.0, 80.0), (20.0, 20.0))
SINKS = (
    ("write_parquet", "sinks.write_parquet"),
    ("write_envelope", "sources.json_docs.write_envelope"),
    ("write_geojson", "sources.geojson.write_geojson"),
    ("write_sqlite", "sinks.write_sqlite"),
    ("write_gpkg", "sources.gpkg.write_gpkg"),
)
CLI_STAGES = ("create_blackout", "make_burst_catalog", "make_reference_dates")
OPS = tuple(dict.fromkeys(CYCLE))
GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")


def cli(argv: list[str]) -> str:
    """One in-process CLI call; returns what it printed."""
    from burst_db_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = main(argv)
    if code != 0:
        raise RuntimeError(f"exit {code}: {argv}")
    return buf.getvalue()


def run(spark, tracer: Tracer, work: str, seed: int, seconds: float,
        size: CatalogSize = SIZE) -> Outcome:
    """Generate the inputs, build once, then send the request list whole
    until ``seconds`` have passed (at least once)."""
    out = Outcome()
    inp_dir, db = f"{work}/input", f"{work}/db"
    t = time.perf_counter()
    inp = write_burst_inputs(inp_dir, seed, size)
    out.facts["gen_s"] = time.perf_counter() - t

    t = time.perf_counter()
    with tracer.span("catalog.build"):
        _build(spark, tracer, out, inp, db, size)
    out.batch_s = time.perf_counter() - t
    if out.failed:
        raise RuntimeError("the batch build failed; the reads have nothing to read")

    con = duckdb.connect()
    frames = con.execute(
        f"SELECT frame_fid, sxmin, symin, sxmax, symax FROM read_parquet('{db}/frames/*.parquet') "
        "ORDER BY frame_fid"
    ).fetchall()
    dates = [FIRST_DATE + dt.timedelta(days=k * CADENCE_DAYS) for k in range(size.n_dates)]
    warmup = _request_list(np.random.default_rng([seed, 2]), frames, db, dates)[:len(CYCLE)]
    todo = _request_list(np.random.default_rng([seed, 1]), frames, db, dates)
    t = time.perf_counter()
    warm_answers = [[_request(tracer, out, op, argv)] for op, argv in warmup]
    out.setup_s = time.perf_counter() - t
    answers: list[list] = [[] for _ in todo]
    t = time.perf_counter()
    while not answers[0] or time.perf_counter() - t < seconds:
        for i, (op, argv) in enumerate(todo):
            answers[i].append(_request(tracer, out, op, argv))

    _check_answers(out, con, db, warmup + todo, warm_answers + answers)
    records = out.facts["requests"] = [
        {"op": op, "ms": ms, "rows": _rows(op, text), "span": span}
        for (op, _), got in zip(todo, answers) for text, ms, span in got if text is not None
    ]
    out.latencies_ms = [r["ms"] for r in records]
    out.facts["p50_ms_by_op"] = " ".join(
        f"{op}={median(r['ms'] for r in records if r['op'] == op):.0f}"
        f"(n={sum(r['op'] == op for r in records)})" for op in OPS
    )
    _check_artifacts(out, con, db, inp, size, seed)
    con.close()
    out.facts.update(
        input_bytes=os.path.getsize(inp.triplets) + os.path.getsize(inp.bursts),
        artifact_bytes=_tree_bytes(db),
    )
    return out


def _build(spark, tracer, out, inp, db, size):
    import burst_db_spark.plans.create_pipeline as cp
    from burst_db_spark.plans.historical import ingest_daily_csvs

    with tracer.span("plans.historical.ingest"):
        out.attempt("ingest", ingest_daily_csvs, spark, inp.daily_glob, f"{db}/historical")
    with contextlib.ExitStack() as stack:
        for attr, name in SINKS:
            stack.enter_context(tracer.wrap(cp, attr, name))
        with tracer.span("plans.create_pipeline.create"):
            out.attempt(
                "create", cp.create, spark,
                spark.read.parquet(inp.triplets), spark.read.parquet(inp.bursts), db,
            )
    argv = {
        "create_blackout": ["create-blackout", "--db", db, "--out", f"{db}/blackout.json"],
        "make_burst_catalog": [
            "make-burst-catalog", "--db", db, "--out", f"{db}/catalog.json",
            "--n-dates", str(size.n_dates), "--blackout", f"{db}/blackout.json",
        ],
        "make_reference_dates": [
            "make-reference-dates", "--consistent-json", f"{db}/catalog.json",
            "--out", f"{db}/reference_dates.json",
        ],
    }
    for stage in CLI_STAGES:
        with tracer.span(f"cli.{stage}"):
            out.attempt(stage, cli, argv[stage])


def _request_list(rng, frames, db, dates) -> list[tuple[str, list[str]]]:
    """``N_REQUESTS`` requests in the order lookup, intersect, lookup,
    intersect, fetch. The shapes follow the repository's CLI examples
    (README.md "Running", tests/test_cli.py, __main__.py's docstring);
    only the frames are drawn, uniformly, from the seeded generator:

    - lookup: ``lookup --frame-id F``;
    - intersect: a ``BOXES`` box, the two in turn, centred on F's box;
    - fetch, one ``FETCH_SHAPES`` shape per cycle in turn:
      ``fetch-bursts F`` (README), ``fetch-bursts F --headers
      --with-granule`` and ``fetch-granules F --min-datetime D``
      (tests/test_cli.py; D is the middle acquisition date, as the test's
      date is the middle of its data), and ``fetch-bursts F G``, two
      frames, which the CLI's ``frame_ids`` (nargs "+") takes but no
      example shows.
    """
    hist = ["--db-path", f"{db}/historical", "--frame-to-burst-json", f"{db}/frame_to_burst.json.gz"]
    fetches = {
        "example": lambda f, g: ["fetch-bursts", f, *hist],
        "with_granule": lambda f, g: ["fetch-bursts", f, *hist, "--headers", "--with-granule"],
        "granules_since": lambda f, g: [
            "fetch-granules", f, *hist, "--min-datetime", f"{dates[len(dates) // 2]:%Y-%m-%d}"],
        "two_frames": lambda f, g: ["fetch-bursts", f, g, *hist],
    }
    todo = []
    for k in range(N_REQUESTS):
        op = CYCLE[k % len(CYCLE)]
        fid, x0, y0, x1, y1 = frames[int(rng.integers(len(frames)))]
        if op == "lookup":
            todo.append((op, ["lookup", "--db", db, "--frame-id", str(fid)]))
        elif op == "intersect":
            w, h = BOXES[k % len(CYCLE) // 2]
            cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
            bbox = (f"{max(cx - w / 2, -180):.3f},{max(cy - h / 2, -90):.3f},"
                    f"{min(cx + w / 2, 180):.3f},{min(cy + h / 2, 90):.3f}")
            todo.append((op, ["intersect", "--db", db, f"--bbox={bbox}"]))
        else:
            shape = FETCH_SHAPES[k // len(CYCLE)]
            other = str(frames[int(rng.integers(len(frames)))][0])
            todo.append((op, ["historical", *fetches[shape](str(fid), other)]))
    return todo


def _request(tracer, out, op, argv):
    """Time one request; returns (printed text or None, ms, span)."""
    import burst_db_spark.sources.json_docs as jd
    from pyspark.sql.readwriter import DataFrameReader

    with tracer.wrap(DataFrameReader, "parquet", "read"), \
            tracer.wrap(jd, "read_envelope", "read"), \
            tracer.span(f"cli.{op}") as span:
        t = time.perf_counter()
        text = out.attempt(f"{op} {argv}", cli, argv)
        ms = (time.perf_counter() - t) * 1000.0
    return text, ms, span


def _check_answers(out, con, db, requests, answers) -> None:
    """One check per request of the list: its first answer against the
    DuckDB recomputation, and every repeat identical to the first."""
    for (op, argv), got in zip(requests, answers):
        texts = [text for text, _, _ in got]
        ok = texts[0] is not None and all(x == texts[0] for x in texts)
        out.check(ok and _answer_ok(con, db, op, argv, texts[0]), f"{op} {argv}")


def _rows(op, text) -> int:
    lines = text.strip().splitlines()
    if op == "fetch":
        return len(lines) - (lines[:1] == ["burst_id_jpl,sensing_time,granule"])
    return len(json.loads(lines[-1]))


def _answer_ok(con, db, op, argv, text) -> bool:
    if op == "lookup":
        got = json.loads(text.strip().splitlines()[-1])
        fid = int(argv[argv.index("--frame-id") + 1])
        cur = con.execute(
            f"""SELECT f.*, b.burst_ids, b.n_bursts
                FROM read_parquet('{db}/frames/*.parquet') f
                JOIN (SELECT frame_fid, count(*) AS n_bursts,
                             string_agg(CAST(burst_id AS VARCHAR), ',' ORDER BY burst_id) AS burst_ids
                      FROM read_parquet('{db}/frames_bursts/*.parquet')
                      WHERE frame_fid = {fid} GROUP BY frame_fid) b
                USING (frame_fid)"""
        )
        cols = [d[0] for d in cur.description]
        want = [dict(zip(cols, r)) for r in cur.fetchall()]
        return got == json.loads(json.dumps(want, default=str))
    if op == "intersect":
        got = {r["frame_fid"] for r in json.loads(text.strip().splitlines()[-1])}
        x0, y0, x1, y1 = (float(v) for v in argv[-1].split("=", 1)[1].split(","))
        q = f"SELECT frame_fid FROM read_parquet('{db}/frames/*.parquet') WHERE "
        touching = {r[0] for r in con.execute(
            q + f"sxmin <= {x1} AND sxmax >= {x0} AND symin <= {y1} AND symax >= {y0}").fetchall()}
        inside = {r[0] for r in con.execute(
            q + f"sxmin >= {x0} AND sxmax <= {x1} AND symin >= {y0} AND symax <= {y1}").fetchall()}
        return inside <= got <= touching
    return text.strip().splitlines() == _fetch_oracle(con, argv)


def _fetch_oracle(con, argv) -> list[str]:
    """The lines ``historical fetch-*`` should print, header included."""
    opt = {argv[i]: argv[i + 1] for i in range(len(argv) - 1) if argv[i].startswith("--")}
    fids = [a for a in argv[2:] if a.isdigit()]
    with gzip.open(opt["--frame-to-burst-json"], "rt") as f:
        data = json.load(f)["data"]
    wanted = sorted({int(b) for fid in fids for b in data.get(fid, {}).get("burst_id", [])})
    where = f"CAST(split_part(burst_id_jpl, '_', 2) AS INT) IN ({','.join(map(str, wanted)) or 'NULL'})"
    if "--min-datetime" in opt:
        where += f" AND sensing_time >= TIMESTAMP '{opt['--min-datetime']}'"
    if "--max-datetime" in opt:
        where += f" AND sensing_time <= TIMESTAMP '{opt['--max-datetime']}'"
    src = f"read_parquet('{opt['--db-path']}/*/*.parquet', hive_partitioning = true)"
    if argv[1] == "fetch-granules":
        head = ["granule"]
        rows = con.execute(
            f"SELECT DISTINCT regexp_replace(granule, '\\.SAFE$', '') FROM {src} WHERE {where} ORDER BY 1"
        ).fetchall()
    else:
        head = ["burst_id_jpl", "sensing_time"] + ["granule"] * ("--with-granule" in argv)
        cols = ", ".join(["burst_id_jpl",
                          "strftime(CAST(sensing_time AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')",
                          "granule"][:len(head)])
        rows = con.execute(
            f"SELECT {cols} FROM {src} WHERE {where} ORDER BY {', '.join(map(str, range(1, len(head) + 1)))}"
        ).fetchall()
    return [",".join(head)] * ("--headers" in argv) + [",".join(r) for r in rows]


# -- artifact checks --------------------------------------------------------

def _check_artifacts(out, con, db, inp, size, seed) -> None:
    def one(sql):
        return con.execute(sql).fetchone()

    frames = f"read_parquet('{db}/frames/*.parquet')"
    bridge = f"read_parquet('{db}/frames_bursts/*.parquet')"
    n_frames, sum_trip = one(f"SELECT count(*), sum(n_triplets) FROM {frames}")
    (n_bridge,) = one(f"SELECT count(*) FROM {bridge}")
    out.check(n_frames > 0 and n_bridge == sum_trip, "bridge rows == sum(n_triplets)")

    with gzip.open(f"{db}/frame_to_burst.json.gz", "rt") as f:
        f2b = json.load(f)["data"]
    pairs = {(int(k), int(b)) for k, v in f2b.items() for b in v["burst_id"]}
    want = set(con.execute(f"SELECT frame_fid, burst_id FROM {bridge}").fetchall())
    out.check(pairs == want, "frame_to_burst.json.gz == frames_bursts")

    with contextlib.closing(sqlite3.connect(f"{db}/minimal.sqlite")) as lite:
        n, nd = lite.execute("SELECT count(*), count(DISTINCT frame_fid) FROM frames").fetchone()
    out.check(n == nd == n_frames, "minimal.sqlite has one row per frame")

    with open(f"{db}/catalog.json") as f:
        times = {k: set(v["sensing_time_list"]) for k, v in json.load(f)["data"].items()}
    with open(f"{db}/reference_dates.json") as f:
        refs = json.load(f)["data"]
    out.check(
        bool(refs) and all(r in times.get(fid, ()) for fid, rs in refs.items() for r in rs),
        "every reference date is one of its frame's sensing times",
    )

    hist = f"read_parquet('{db}/historical/*/*.parquet', hive_partitioning = true)"
    n_rows, n_keys, n_redelivered = one(
        f"SELECT count(*), count(DISTINCT (burst_id_jpl, sensing_time)), "
        f"count(*) FILTER (granule LIKE '%\\_R2.SAFE' ESCAPE '\\') FROM {hist}"
    )
    out.check(
        n_rows == n_keys == inp.n_keys and n_redelivered == inp.n_rows - inp.n_keys,
        "ingest keeps each generated key once, with its latest granule",
    )

    digest = artifact_digest(con, db)
    out.facts["digest"] = digest
    golden = _goldens().get(f"{size.n_triplets}x{size.n_tracks}x{size.n_dates}", {}).get(str(seed))
    if golden is not None:
        out.check(digest == golden, f"artifact digest {digest} != golden {golden}")


def _goldens() -> dict:
    with open(GOLDENS) as f:
        return json.load(f)


def artifact_digest(con, db: str) -> str:
    """Order-insensitive digest of every artifact's content. Envelope
    metadata (generation times, paths) and the GeoPackage bookkeeping
    tables are left out; everything else is in."""
    h = hashlib.sha256()
    for name in ("frames", "frames_bursts", "burst_id_map", "metadata"):
        h.update(repr(con.execute(
            f"SELECT count(*), sum(hash(t)) FROM read_parquet('{db}/{name}/*.parquet') t"
        ).fetchone()).encode())
    h.update(repr(con.execute(
        f"SELECT count(*), sum(hash(t)) FROM "
        f"read_parquet('{db}/historical/*/*.parquet', hive_partitioning = true) t"
    ).fetchone()).encode())
    for name in ("frame_to_burst.json.gz", "burst_to_frame.json.gz", "blackout.json",
                 "catalog.json", "reference_dates.json"):
        opener = gzip.open if name.endswith(".gz") else open
        with opener(f"{db}/{name}", "rt") as f:
            doc = json.load(f)
        doc.pop("metadata", None)
        h.update(json.dumps(doc, sort_keys=True).encode())
    with open(f"{db}/frames.geojson") as f:
        feats = json.load(f)["features"]
    feats.sort(key=lambda x: x["properties"]["frame_fid"])
    h.update(json.dumps(feats, sort_keys=True).encode())
    for name in ("minimal.sqlite", "frames.gpkg"):
        with contextlib.closing(sqlite3.connect(f"{db}/{name}")) as lite:
            for (table,) in lite.execute(
                "SELECT name FROM sqlite_master WHERE type = 'table' "
                "AND name NOT LIKE 'gpkg%' AND name NOT LIKE 'rtree%' ORDER BY name"
            ).fetchall():
                rows = sorted(map(repr, lite.execute(f'SELECT * FROM "{table}"')))
                h.update(f"{name}:{table}:{rows}".encode())
    return h.hexdigest()[:16]


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{path}/**", recursive=True)
               if os.path.isfile(p))


# -- per-layer metrics (traced run) -----------------------------------------

def layers(tracer: Tracer, out: Outcome) -> dict[str, float]:
    m: dict[str, float] = {}

    def total(name):
        return sum(s.seconds for s in tracer.named(name))

    for span in ("plans.historical.ingest", "plans.create_pipeline.create",
                 *(f"cli.{s}" for s in CLI_STAGES)):
        m[f"{span}_s"] = total(span)
        c = _sum_counters(tracer.named(span))
        m[f"{span}.jobs"] = c.get("jobs", 0)
        m[f"{span}.tasks"] = c.get("tasks", 0)
        m[f"{span}.executor_cpu_s"] = c.get("executor_cpu_s", 0)
    m["plans.create_pipeline.input_scans"] = (
        _sum_counters(tracer.named("plans.create_pipeline.create")).get("input_bytes", 0)
        / out.facts["input_bytes"]
    )
    for _, name in SINKS:
        m[f"{name}_s"] = total(name)
    m["catalog.artifact_bytes"] = out.facts["artifact_bytes"]

    for op in OPS:
        recs = [r for r in out.facts["requests"] if r["op"] == op]
        read = [sum(s.seconds for s in tracer.descendants(r["span"], "read")) * 1000 for r in recs]
        c = [r["span"].counters for r in recs]
        scanned = sum(x.get("rows_scanned", 0) for x in c)
        m[f"cli.{op}.p50_ms"] = median(r["ms"] for r in recs)
        m[f"cli.{op}.read_ms"] = median(read)
        m[f"cli.{op}.exec_ms"] = median(r["ms"] - rd for r, rd in zip(recs, read))
        m[f"cli.{op}.jobs"] = median(x.get("jobs", 0) for x in c)
        m[f"cli.{op}.tasks"] = median(x.get("tasks", 0) for x in c)
        m[f"cli.{op}.rows_scanned_per_row"] = scanned / max(1, sum(r["rows"] for r in recs))
    return m


def _sum_counters(spans) -> dict[str, float]:
    c: dict[str, float] = {}
    for s in spans:
        for k, v in s.counters.items():
            c[k] = c.get(k, 0) + v
    return c
