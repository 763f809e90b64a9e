"""CLI tests through __main__.main: create → lookup → intersect, the artifact
workflow, historical fetches, and the reads' job budgets, declared table
schemas, byte-stable envelopes and parity with DuckDB and the geo kernel."""

from __future__ import annotations

import datetime as dt
import gzip
import json
import re
from pathlib import Path

import duckdb
import pytest
from pyspark.sql.types import StructType

from burst_db_spark.__main__ import main
from burst_db_spark.geo import predicates as P
from burst_db_spark.geo.udfs import two_phase_intersect_filter
from burst_db_spark.geo.wkt import rect_wkt
from burst_db_spark.plans.create_pipeline import TABLE_SCHEMAS, read_table
from burst_db_spark.plans.query_frame import INTERSECT_COLS, intersect

ROOT = Path(__file__).resolve().parents[1]


def test_cli_create_lookup_intersect(spark, tmp_path, capsys):
    db = str(tmp_path / "db")
    assert main(["create", "--out", db, "--n-triplets", "120", "--n-tracks", "2"]) == 0
    created = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert created["n_frames"] > 0 and created["n_bridge_rows"] > 0

    # pick a real frame id from the created artifacts (run numbering
    # depends on the land-widening pass, so no hardcoded id)
    fid = int(spark.read.parquet(f"{db}/frames").agg({"frame_fid": "min"}).first()[0])
    assert main(["lookup", "--db", db, "--frame-id", str(fid)]) == 0
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rec) == 1
    assert rec[0]["geom_wkt"].startswith("MULTIPOLYGON")
    assert rec[0]["n_bursts"] == rec[0]["burst_ids"].count(",") + 1

    assert main(["intersect", "--db", db, "--bbox=-180,-90,180,90"]) == 0
    hits = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(hits) == created["n_frames"]  # world bbox hits every frame


def test_cli_full_artifact_workflow(spark, tmp_path, capsys, monkeypatch):
    """create -> create-blackout -> make-burst-catalog -> make-reference-
    dates -> urls-for-frame: every artifact carries the reference's
    envelope shape ({metadata, data} / {metadata, blackout_dates})."""
    import gzip

    monkeypatch.setenv("BDS_GENERATION_TIME", "2026-01-01T00:00:00")
    db = str(tmp_path / "db")
    assert main(["create", "--out", db, "--n-triplets", "120", "--n-tracks", "2"]) == 0
    capsys.readouterr()

    # blackout windows
    bj = str(tmp_path / "blackout.json")
    assert main(["create-blackout", "--db", db, "--out", bj,
                 "--first-year", "2016", "--last-year", "2018"]) == 0
    capsys.readouterr()
    bdoc = json.loads(open(bj).read())
    assert set(bdoc) == {"metadata", "blackout_dates"}
    assert bdoc["metadata"]["generation_time"] == "2026-01-01T00:00:00"
    some = next(iter(bdoc["blackout_dates"].values()))
    assert len(some) == 3  # one window per year
    assert all(len(w) == 2 and w[0] < w[1] for w in some)

    # burst catalog (with the blackout applied)
    cat = str(tmp_path / "catalog.json")
    assert main(["make-burst-catalog", "--db", db, "--out", cat,
                 "--n-dates", "30", "--blackout", bj]) == 0
    created = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert created["n_frames"] > 0
    cdoc = json.loads(open(cat).read())
    assert set(cdoc) == {"metadata", "data"}
    fid, fd = next(iter(cdoc["data"].items()))
    assert set(fd) == {"burst_id_list", "sensing_time_list"}
    assert fd["burst_id_list"] == sorted(fd["burst_id_list"])
    assert all(b.startswith("t") and "_iw" in b for b in fd["burst_id_list"])
    # sensing times ISO-second format like the reference's %Y-%m-%dT%H:%M:%S
    assert all(len(t) == 19 and t[10] == "T" for t in fd["sensing_time_list"])

    # blackout really removed acquisitions: rebuild without it and compare
    cat2 = str(tmp_path / "catalog_nobo.json")
    assert main(["make-burst-catalog", "--db", db, "--out", cat2,
                 "--n-dates", "30"]) == 0
    capsys.readouterr()
    c2 = json.loads(open(cat2).read())
    n_with = sum(len(v["sensing_time_list"]) for v in cdoc["data"].values())
    n_without = sum(len(v["sensing_time_list"]) for v in c2["data"].values())
    assert n_with < n_without

    # reference dates over the catalog
    rj = str(tmp_path / "refs.json")
    assert main(["make-reference-dates", "--consistent-json", cat2, "--out", rj,
                 "--interval-days", "60", "--min-acquisitions", "5"]) == 0
    capsys.readouterr()
    rdoc = json.loads(open(rj).read())
    assert set(rdoc) == {"metadata", "data"}
    assert rdoc["metadata"]["interval"] == 60
    refs = next(iter(rdoc["data"].values()))
    assert refs == sorted(refs) and len(refs) >= 1

    # urls-for-frame: expected granules = bursts x dates
    assert main(["urls-for-frame", fid, "--json-file", cat]) == 0
    out = capsys.readouterr()
    lines = [l for l in out.out.splitlines() if l.startswith("OPERA_L2_CSLC-S1")]
    meta = json.loads(out.err.strip().splitlines()[-1])
    assert meta["expected_total_files"] == len(lines)
    assert meta["expected_total_files"] == meta["n_bursts"] * meta["n_dates"]

    # byte-stable: same inputs + pinned generation time -> same bytes
    cat3 = str(tmp_path / "catalog3.json")
    assert main(["make-burst-catalog", "--db", db, "--out", cat3,
                 "--n-dates", "30", "--blackout", bj]) == 0
    capsys.readouterr()
    assert open(cat).read() == open(cat3).read()


def test_cli_historical_fetch(spark, tmp_path, capsys):
    db = str(tmp_path / "db")
    assert main(["create", "--out", db, "--n-triplets", "120", "--n-tracks", "2"]) == 0
    capsys.readouterr()
    fid = int(spark.read.parquet(f"{db}/frames").agg({"frame_fid": "min"}).first()[0])
    bridge = spark.read.parquet(f"{db}/frames_bursts")
    bids = [r.burst_id for r in bridge.where(f"frame_fid = {fid}").collect()]

    # synthesize a historical bursts table covering those bursts
    rows = [
        (f"t001_{b:06d}_iw1", f"2021-0{1 + i % 3}-01 06:00:00",
         f"S1A_IW_SLC__{b:04d}_{i}.SAFE")
        for i, b in enumerate(bids)
    ] + [("t001_999999_iw1", "2021-01-01 06:00:00", "S1A_OTHER.SAFE")]
    hist = str(tmp_path / "hist.parquet")
    spark.createDataFrame(
        rows, "burst_id_jpl string, sensing_time string, granule string"
    ).write.parquet(hist)

    f2b = f"{db}/frame_to_burst.json.gz"
    assert main(["historical", "fetch-bursts", str(fid), "--db-path", hist,
                 "--frame-to-burst-json", f2b, "--headers",
                 "--with-granule"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "burst_id_jpl,sensing_time,granule"
    assert len(out) == len(bids) + 1
    assert not any("999999" in l for l in out)

    assert main(["historical", "fetch-granules", str(fid), "--db-path", hist,
                 "--frame-to-burst-json", f2b,
                 "--min-datetime", "2021-02-01"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out and all(not l.endswith(".SAFE") for l in out)


def test_cli_historical_fetch_shared_burst(spark, tmp_path, capsys):
    """Two neighbouring frames share a burst: fetch-bursts must print
    that burst's rows once, not once per requested frame."""
    db = str(tmp_path / "db")
    assert main(["create", "--out", db, "--n-triplets", "120", "--n-tracks", "2"]) == 0
    capsys.readouterr()
    frames_of = {}
    for r in spark.read.parquet(f"{db}/frames_bursts").collect():
        frames_of.setdefault(r.burst_id, set()).add(r.frame_fid)
    shared = next(b for b, fids in frames_of.items() if len(fids) > 1)
    f1, f2 = sorted(frames_of[shared])[:2]
    bids = sorted(b for b, fids in frames_of.items() if fids & {f1, f2})

    hist = str(tmp_path / "hist.parquet")
    spark.createDataFrame(
        [(f"t001_{b:06d}_iw1", "2021-01-01 06:00:00", f"S1A_{b}.SAFE")
         for b in bids],
        "burst_id_jpl string, sensing_time string, granule string",
    ).write.parquet(hist)

    assert main(["historical", "fetch-bursts", str(f1), str(f2),
                 "--db-path", hist,
                 "--frame-to-burst-json", f"{db}/frame_to_burst.json.gz"]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert f"t001_{shared:06d}_iw1,2021-01-01 06:00:00" in out
    assert len(out) == len(set(out)) == len(bids)


# -- catalog reads: job budget, declared schemas, DuckDB parity -------------

N_DATES = 40  # past Spark's default 32-path parallel-listing threshold
GENERATION_TIME = "2026-01-01T00:00:00"


@pytest.fixture(scope="module")
def catalog(spark, tmp_path_factory):
    """A 120x2 ``create`` output and a historical bursts table over its
    first frame, partitioned by ``sensing_date`` into ``N_DATES`` dirs.

    Each date's bursts share one granule, written with ``.SAFE`` on odd
    bursts and without it on even ones; one row has a null granule and
    one a null sensing time, both on a burst that also has regular rows.
    ``create`` runs with ``BDS_GENERATION_TIME`` pinned."""
    root = tmp_path_factory.mktemp("catalog")
    db = str(root / "db")
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("BDS_GENERATION_TIME", GENERATION_TIME)
        assert main(["create", "--out", db, "--n-triplets", "120", "--n-tracks", "2"]) == 0
    fid = int(spark.read.parquet(f"{db}/frames").agg({"frame_fid": "min"}).first()[0])
    bids = sorted(r.burst_id for r in
                  spark.read.parquet(f"{db}/frames_bursts").where(f"frame_fid = {fid}").collect())
    day0 = dt.datetime(2021, 1, 1, 6)
    rows = []
    for k in range(N_DATES):
        t = day0 + dt.timedelta(days=12 * k)
        for b in bids:
            granule = f"S1A_IW_SLC__{t:%Y%m%d}" + ".SAFE" * (b % 2)
            rows.append((f"t001_{b:06d}_iw1", t, granule, t.date()))
    rows += [
        ("t001_999999_iw1", day0, "S1A_OTHER.SAFE", day0.date()),
        (f"t001_{bids[0]:06d}_iw1", day0, None, day0.date()),
        (f"t001_{bids[0]:06d}_iw1", None, "S1A_IW_SLC__UNDATED.SAFE", day0.date()),
    ]
    hist = str(root / "historical")
    spark.createDataFrame(
        rows, "burst_id_jpl string, sensing_time timestamp, granule string, sensing_date date"
    ).write.partitionBy("sensing_date").parquet(hist)
    return db, hist, fid


def _jobs(spark, argv) -> list[int]:
    """Run one CLI command under a job group of its own; returns the
    task count of each job it ran."""
    sc = spark.sparkContext
    group = f"test_cli_{argv[0]}_{id(argv)}"
    sc.setJobGroup(group, group)
    try:
        assert main(argv) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return [
        sum(s.numTasks for s in map(tracker.getStageInfo, tracker.getJobInfo(j).stageIds) if s)
        for j in tracker.getJobIdsForGroup(group)
    ]


def test_cli_reads_run_only_the_answering_jobs(spark, catalog, capsys):
    """lookup is two filtered scans, intersect one, and a fetch one
    schema-inference job plus its scan: no schema inference on
    ``create``'s tables, no listing job (it would have one task per
    ``sensing_date`` dir), no join, group-by or global sort."""
    db, hist, fid = catalog
    f2b = f"{db}/frame_to_burst.json.gz"
    budget = [
        (["lookup", "--db", db, "--frame-id", str(fid)], 2),
        (["intersect", "--db", db, "--bbox=-180,-90,180,90"], 1),
        (["historical", "fetch-bursts", str(fid), "--db-path", hist,
          "--frame-to-burst-json", f2b, "--with-granule"], 2),
        (["historical", "fetch-granules", str(fid), "--db-path", hist,
          "--frame-to-burst-json", f2b], 2),
    ]
    for argv, most in budget:
        tasks = _jobs(spark, argv)
        assert capsys.readouterr().out.strip()
        assert 1 <= len(tasks) <= most, (argv[:2], tasks)
        assert max(tasks) < N_DATES, (argv[:2], tasks)


def test_cli_table_schemas_are_what_create_writes(spark, catalog):
    db, _, _ = catalog
    for name, ddl in TABLE_SCHEMAS.items():
        assert StructType.fromDDL(ddl) == spark.read.parquet(f"{db}/{name}").schema, name


def test_create_tables_are_read_with_declared_schemas():
    """``frames`` and ``frames_bursts`` are read only through
    ``create_pipeline.read_table``, with their declared schemas: a
    parquet read without a schema runs a job to infer one."""
    inferred = re.compile(r"read\.parquet\(.*/frames(_bursts)?(?![\w.])")
    bad = [
        f"{p.relative_to(ROOT)}:{i}"
        for root in ("burst_db_spark", "scale_probe.py", "bench.py", "scripts")
        for p in ([ROOT / root] if root.endswith(".py") else sorted((ROOT / root).rglob("*.py")))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if inferred.search(line)
    ]
    assert not bad, bad


def _duck_fetch(con, hist, f2b, argv) -> list[str]:
    """What ``historical fetch-*`` should print, recomputed in DuckDB in
    Spark's ascending NULLS FIRST order."""
    opt = {argv[i]: argv[i + 1] for i in range(len(argv) - 1) if argv[i].startswith("--")}
    with gzip.open(f2b, "rt") as f:
        data = json.load(f)["data"]
    fids = [a for a in argv[1:] if a.isdigit()]
    wanted = sorted({int(b) for fid in fids for b in data.get(fid, {}).get("burst_id", [])})
    where = (f"CAST(split_part(burst_id_jpl, '_', 2) AS INT) "
             f"IN ({','.join(map(str, wanted)) or 'NULL'})")
    if "--min-datetime" in opt:
        where += f" AND sensing_time >= TIMESTAMP '{opt['--min-datetime']}'"
    if "--max-datetime" in opt:
        where += f" AND sensing_time <= TIMESTAMP '{opt['--max-datetime']}'"
    src = f"read_parquet('{hist}/*/*.parquet', hive_partitioning = true)"
    if argv[0] == "fetch-granules":
        cols = ["granule"]
        sql = (f"SELECT DISTINCT regexp_replace(granule, '\\.SAFE$', '') FROM {src} "
               f"WHERE {where} ORDER BY 1 NULLS FIRST")
    else:
        cols = ["burst_id_jpl", "sensing_time"] + ["granule"] * ("--with-granule" in argv)
        order = ", ".join(f"{c} NULLS FIRST" for c in cols)
        sql = f"SELECT {', '.join(cols)} FROM {src} WHERE {where} ORDER BY {order}"
    lines = [",".join(str(v) for v in r) for r in con.execute(sql).fetchall()]
    return [",".join(cols)] * ("--headers" in argv) + lines


def test_cli_reads_match_duckdb(spark, catalog, capsys):
    """Request shapes the benchmark never sends: a ``--max-datetime``
    window, an unknown frame id, granules with and without ``.SAFE``
    that collapse to one, and null granules and sensing times (Spark
    orders them first)."""
    db, hist, fid = catalog
    f2b = f"{db}/frame_to_burst.json.gz"
    unknown = 987654321
    con = duckdb.connect()
    shapes = [
        ["fetch-bursts", str(fid), "--headers", "--with-granule"],
        ["fetch-bursts", str(fid), "--max-datetime", "2021-03-01"],
        ["fetch-bursts", str(fid), "--min-datetime", "2021-02-01",
         "--max-datetime", "2021-06-01 06:00:00", "--with-granule"],
        ["fetch-bursts", str(unknown), "--headers"],
        ["fetch-bursts", str(fid), str(unknown)],
        ["fetch-granules", str(fid)],
        ["fetch-granules", str(fid), "--max-datetime", "2021-02-01"],
    ]
    for shape in shapes:
        argv = ["historical", *shape, "--db-path", hist, "--frame-to-burst-json", f2b]
        assert main(argv) == 0
        got = capsys.readouterr().out.strip("\n").splitlines()
        assert got == _duck_fetch(con, hist, f2b, shape), shape
    granules = _duck_fetch(con, hist, f2b, ["fetch-granules", str(fid)])
    assert granules[0] == "None" and len(granules) == len(set(granules)) == N_DATES + 2
    bursts = _duck_fetch(con, hist, f2b, ["fetch-bursts", str(fid), "--with-granule"])
    assert bursts[0].endswith(",None,S1A_IW_SLC__UNDATED.SAFE")
    assert bursts[1].endswith(",2021-01-01 06:00:00,None")

    for frame in (fid, unknown):
        assert main(["lookup", "--db", db, "--frame-id", str(frame)]) == 0
        got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        cur = con.execute(
            f"""SELECT f.*, b.burst_ids, b.n_bursts
                FROM read_parquet('{db}/frames/*.parquet') f
                JOIN (SELECT frame_fid, count(*) AS n_bursts,
                             string_agg(CAST(burst_id AS VARCHAR), ',' ORDER BY burst_id)
                                 AS burst_ids
                      FROM read_parquet('{db}/frames_bursts/*.parquet')
                      WHERE frame_fid = {frame} GROUP BY frame_fid) b
                USING (frame_fid)""")
        want = [dict(zip([d[0] for d in cur.description], r)) for r in cur.fetchall()]
        assert got == json.loads(json.dumps(want, default=str)), frame
        assert len(got) == (frame == fid)
    con.close()


def test_create_envelopes_are_byte_stable(catalog, tmp_path, monkeypatch, capsys):
    """Two ``create`` runs with ``BDS_GENERATION_TIME`` pinned write the
    same envelope bytes: the stamp and the gzip header time are fixed."""
    db, _, _ = catalog
    monkeypatch.setenv("BDS_GENERATION_TIME", GENERATION_TIME)
    again = str(tmp_path / "db")
    assert main(["create", "--out", again, "--n-triplets", "120", "--n-tracks", "2"]) == 0
    capsys.readouterr()
    for name in ("frame_to_burst.json.gz", "burst_to_frame.json.gz"):
        first, second = (Path(d, name).read_bytes() for d in (db, again))
        assert first == second, name
        meta = json.loads(gzip.decompress(first))["metadata"]
        assert meta["generation_time"] == GENERATION_TIME, name


def test_intersect_matches_two_phase_filter(spark, catalog):
    """``query_frame.intersect`` (one scan, refined on the driver) gives
    the pandas-UDF filter's answer, order included: for the whole world,
    a box in a frame's bbox that misses its footprint, a tiny box inside
    a footprint with no frame vertex in it, and a box touching a frame's
    easternmost vertex. A frame with a null footprint is never a hit."""
    db, _, fid = catalog
    frames = read_table(spark, db, "frames")
    null_row = {c: None for c in frames.columns}
    null_row.update(frame_fid=-1, sxmin=-180, symin=-90, sxmax=180, symax=90)
    frames = frames.unionByName(spark.createDataFrame([null_row], frames.schema))
    f = frames.where(f"frame_fid = {fid}").first()
    polys = P.Polygon.from_wkt(f.geom_wkt)
    vertices = [v for p in polys for v in p.exterior]

    def hits(box):
        return P.polygons_intersect(f.geom_wkt, rect_wkt(*box))

    d = 0.05
    miss = next(
        box
        for x, y in ((f.sxmin, f.symin), (f.sxmin, f.symax - d),
                     (f.sxmax - d, f.symin), (f.sxmax - d, f.symax - d))
        if not hits(box := (x, y, x + d, y + d))
    )
    ring = polys[0].exterior[:-1]
    cx, cy = (sum(c) / len(ring) for c in zip(*ring))
    inside = (cx - 1e-3, cy - 1e-3, cx + 1e-3, cy + 1e-3)
    assert hits(inside)
    assert not any(inside[0] <= x <= inside[2] and inside[1] <= y <= inside[3]
                   for x, y in vertices)
    ex, ey = max(vertices)
    touch = (ex, ey - d, ex + d, ey + d)
    assert hits(touch)

    for box in ((-180, -90, 180, 90), miss, inside, touch):
        got = intersect(frames, *box)
        want = [
            r.asDict()
            for r in two_phase_intersect_filter(
                frames, rect_wkt(*box), bbox_cols=("sxmin", "symin", "sxmax", "symax")
            ).select(*INTERSECT_COLS).collect()
        ]
        assert json.dumps(got) == json.dumps(want), box
        assert (fid in {r["frame_fid"] for r in got}) == (box != miss), box
        assert -1 not in {r["frame_fid"] for r in got}, box
