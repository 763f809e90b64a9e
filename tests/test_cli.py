"""CLI parity test: create → lookup → intersect through __main__.main."""

from __future__ import annotations

import json

from burst_db_spark.__main__ import main


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
