"""CLI mirroring the reference's `opera-db` commands (cli.py:28-44):

    python -m burst_db_spark create --out /tmp/db [--n-triplets 600]
    python -m burst_db_spark lookup --db /tmp/db --frame-id 1001000
    python -m burst_db_spark intersect --db /tmp/db --bbox "-10,-10,10,10"
    python -m burst_db_spark make-burst-catalog --db /tmp/db --out cat.json
    python -m burst_db_spark make-reference-dates --consistent-json cat.json --out refs.json
    python -m burst_db_spark create-blackout --db /tmp/db --out blackout.json
    python -m burst_db_spark urls-for-frame 101 --json-file cat.json
    python -m burst_db_spark historical fetch-bursts 101 --db-path b.parquet \\
        --frame-to-burst-json /tmp/db/frame_to_burst.json.gz

`create` runs EP1 on the deterministic fixtures (point it at real burst
parquet via the library API); the rest answer from the artifacts,
printing JSON/CSV to stdout like the reference. The artifact envelopes
follow the reference's `{metadata, data}` shapes
(create_cslc_burst_catalog.py:319-334, reference_dates.py:222-234,
create_blackout_dates_s1.py:109-147). Set ``BDS_GENERATION_TIME`` to pin
the metadata timestamp (``sources.json_docs.generation_time``) for
byte-stable output; the ``.gz``/``.zip`` envelopes carry fixed header
times.

Reads run only the Spark jobs that compute the answer
(``tests/test_cli.py`` pins these budgets):

- ``lookup``: 2 jobs, one filtered scan of ``frames`` and one of
  ``frames_bursts``, combined on the driver;
- ``intersect``: 1 job, one scan of ``frames`` with the bbox
  prefilter; the candidates are refined on the driver with the geo
  kernel (``geo.predicates.intersects_rect``), so no Python worker
  starts;
- ``historical fetch-bursts`` / ``fetch-granules``: 2 jobs, the schema
  inference of ``--db-path`` and one filtered scan. The wanted burst
  numbers come from the envelope parsed on the driver, and the printed
  rows are sorted (and, for granules, de-duplicated) there, in Spark's
  ascending NULLS FIRST order. The ingest
  (``plans.historical.ingest_daily_csvs``) writes one file per
  ``sensing_date``, so the scan opens one file per date.

``frames`` and ``frames_bursts`` are ``create``'s own tables and are read
with their declared schemas (``create_pipeline.read_table``).
``burst_id_map``, ``--seasons`` and the historical ``--db-path`` keep
schema inference: their schemas follow the caller's input. In ``local``
mode nothing is listed by a Spark job (``session.get_spark``).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="burst_db_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("create", help="build the frame DB artifacts (EP1)")
    c.add_argument("--out", required=True)
    c.add_argument("--n-triplets", type=int, default=600)
    c.add_argument("--n-tracks", type=int, default=12)
    c.add_argument("--target", type=int, default=9)

    lk = sub.add_parser("lookup", help="one frame's record (EP3)")
    lk.add_argument("--db", required=True)
    lk.add_argument("--frame-id", type=int, required=True)

    ix = sub.add_parser("intersect", help="frames intersecting a bbox (EP3)")
    ix.add_argument("--db", required=True)
    ix.add_argument("--bbox", required=True, help="xmin,ymin,xmax,ymax")

    mb = sub.add_parser(
        "make-burst-catalog",
        help="EP2: consistent-burst-ids {metadata, data} envelope",
    )
    mb.add_argument("--db", required=True, help="`create` output dir")
    mb.add_argument("--out", required=True, help=".json/.json.gz/.zip path")
    mb.add_argument("--n-dates", type=int, default=60)
    mb.add_argument("--blackout", help="blackout JSON from create-blackout")

    mr = sub.add_parser(
        "make-reference-dates",
        help="reference-date selection over a consistent-burst-ids file",
    )
    mr.add_argument("--consistent-json", required=True)
    mr.add_argument("--out", required=True)
    mr.add_argument("--interval-days", type=int, default=365)
    mr.add_argument("--min-acquisitions", type=int, default=15)

    cb = sub.add_parser(
        "create-blackout", help="yearly per-frame blackout windows JSON"
    )
    cb.add_argument("--db", required=True, help="`create` output dir")
    cb.add_argument("--out", required=True)
    cb.add_argument("--first-year", type=int, default=2016)
    cb.add_argument("--last-year", type=int, default=2024)
    cb.add_argument(
        "--seasons",
        help="optional parquet with frame_fid,start_month,start_day,"
        "end_month,end_day (defaults to the snow-analysis stand-in)",
    )

    uf = sub.add_parser(
        "urls-for-frame",
        help="expected granules for one frame from the consistent JSON "
        "(offline: the ASF search resolution is scoped out, README §scope)",
    )
    uf.add_argument("frame_id")
    uf.add_argument("--json-file", required=True)
    uf.add_argument(
        "--output-type", choices=["granule"], default="granule"
    )
    uf.add_argument("--start-date", help="YYYY-MM-DD")
    uf.add_argument("--end-date", help="YYYY-MM-DD")

    hist = sub.add_parser("historical", help="historical burst DB queries")
    hsub = hist.add_subparsers(dest="hcmd", required=True)
    for hname, hhelp in (
        ("fetch-bursts", "(burst_id_jpl, sensing_time[, granule]) rows"),
        ("fetch-granules", "DISTINCT granules"),
    ):
        hp = hsub.add_parser(hname, help=hhelp)
        hp.add_argument("frame_ids", nargs="+", type=int)
        hp.add_argument("--db-path", required=True,
                        help="bursts parquet dir or .sqlite file")
        hp.add_argument("--frame-to-burst-json", required=True)
        hp.add_argument("--min-datetime")
        hp.add_argument("--max-datetime")
        hp.add_argument("--headers", action="store_true")
        if hname == "fetch-bursts":
            hp.add_argument("--with-granule", action="store_true")

    args = p.parse_args(argv)

    from burst_db_spark.session import get_spark

    spark = get_spark(app_name=f"burst_db_spark_{args.cmd}")

    if args.cmd == "create":
        from burst_db_spark.plans import fixtures
        from burst_db_spark.plans.create_pipeline import create

        trip = fixtures.burst_triplets(spark, args.n_triplets, args.n_tracks)
        bursts = fixtures.burst_id_map(spark, args.n_triplets, args.n_tracks)
        out = create(spark, trip, bursts, args.out, target=args.target)
        print(
            json.dumps(
                {
                    "out": args.out,
                    "n_frames": out["frames"].count(),
                    "n_bridge_rows": out["bridge"].count(),
                }
            )
        )
        return 0

    if args.cmd == "lookup":
        from burst_db_spark.plans.create_pipeline import read_table
        from burst_db_spark.plans.query_frame import lookup

        rows = lookup(
            read_table(spark, args.db, "frames"),
            read_table(spark, args.db, "frames_bursts"),
            args.frame_id,
        )
        print(json.dumps(rows, default=str))
        return 0

    if args.cmd == "intersect":
        from burst_db_spark.plans.create_pipeline import read_table
        from burst_db_spark.plans.query_frame import intersect

        xmin, ymin, xmax, ymax = (float(v) for v in args.bbox.split(","))
        rows = intersect(read_table(spark, args.db, "frames"), xmin, ymin, xmax, ymax)
        print(json.dumps(rows))
        return 0

    if args.cmd == "make-burst-catalog":
        from pyspark.sql import functions as F

        from burst_db_spark.plans import fixtures
        from burst_db_spark.plans.burst_catalog import (
            catalog_document,
            consistent_burst_catalog,
        )
        from burst_db_spark.plans.create_pipeline import read_table
        from burst_db_spark.sources.json_docs import write_envelope

        frames = read_table(spark, args.db, "frames")
        bridge = read_table(spark, args.db, "frames_bursts")
        bursts = spark.read.parquet(f"{args.db}/burst_id_map")
        acq = fixtures.acquisitions(spark, frames, n_dates=args.n_dates)
        blackouts = None
        if args.blackout:
            blackouts = _blackout_windows_df(spark, args.blackout)
        catalog = consistent_burst_catalog(acq, frames, blackouts=blackouts)
        # the reference's burst_id_list carries JPL ids
        # (create_cslc_burst_catalog.py:319-326)
        jpl_bridge = bridge.join(bursts, "burst_id").select(
            "frame_fid", F.col("burst_id_jpl").alias("burst_id")
        )
        doc = catalog_document(catalog, jpl_bridge)
        n_frames = write_envelope(
            doc,
            args.out,
            "frame_fid",
            ["burst_id_list", "sensing_time_list"],
            metadata={"blackout_file": args.blackout, "db_path": args.db},
        )
        print(json.dumps({"out": args.out, "n_frames": n_frames}))
        return 0

    if args.cmd == "make-reference-dates":
        from pyspark.sql import functions as F

        from burst_db_spark.plans.reference_dates import reference_dates
        from burst_db_spark.sources.json_docs import generation_time, read_envelope

        _, doc = read_envelope(spark, args.consistent_json, key="frame_fid")
        acq = doc.select(
            F.col("frame_fid").cast("int").alias("frame_fid"),
            F.explode("sensing_time_list").alias("st"),
        ).select(
            "frame_fid", F.to_timestamp("st").alias("sensing_time")
        )
        refs = reference_dates(
            acq,
            interval_days=args.interval_days,
            min_acquisitions=args.min_acquisitions,
        ).orderBy("frame_fid", "ref_idx")
        data: dict[str, list[str]] = {}
        for r in refs.collect():
            data.setdefault(str(r.frame_fid), []).append(
                r.ref_date.isoformat()
            )
        out_doc = {
            "metadata": {
                "generation_time": generation_time(),
                "consistent_json_file": args.consistent_json,
                "blackout_file": None,
                "interval": args.interval_days,
                "min_acquisitions": args.min_acquisitions,
            },
            "data": data,
        }
        with open(args.out, "w") as f:
            json.dump(out_doc, f, indent=2)
        print(json.dumps({"out": args.out, "n_frames": len(data)}))
        return 0

    if args.cmd == "create-blackout":
        from pyspark.sql import functions as F

        from burst_db_spark.plans.blackout import yearly_windows
        from burst_db_spark.plans.create_pipeline import read_table
        from burst_db_spark.sources.json_docs import generation_time

        frames = read_table(spark, args.db, "frames")
        if args.seasons:
            seasons = spark.read.parquet(args.seasons)
        else:
            # snow-analysis stand-in: the reference derives the season
            # start month from how snowy a frame is
            # (create_blackout_dates_s1.py pick_month_based_on_snow:
            # 11 / 9 / 7); here snowiness is a deterministic function of
            # the frame id so the artifact is reproducible offline.
            snow_level = F.col("frame_fid") % 3
            seasons = frames.select(
                "frame_fid",
                F.when(snow_level == 0, 11)
                .when(snow_level == 1, 9)
                .otherwise(7)
                .alias("start_month"),
                F.lit(1).alias("start_day"),
                F.when(snow_level == 0, 2)
                .when(snow_level == 1, 4)
                .otherwise(6)
                .alias("end_month"),
                F.lit(28).alias("end_day"),
            )
        win = yearly_windows(
            seasons, first_year=args.first_year, last_year=args.last_year
        ).orderBy("frame_fid", "start_ts")
        blackout_dates: dict[str, list[list[str]]] = {}
        for r in win.collect():
            blackout_dates.setdefault(str(r.frame_fid), []).append(
                [r.start_ts.isoformat(), r.end_ts.isoformat()]
            )
        out_doc = {
            "metadata": {
                "generation_time": generation_time(),
                "max_default_duration": None,
                "input_file": args.seasons or "<deterministic stand-in>",
                "output_file": args.out,
            },
            "blackout_dates": blackout_dates,
        }
        with open(args.out, "w") as f:
            json.dump(out_doc, f, indent=2)
        print(json.dumps({"out": args.out, "n_frames": len(blackout_dates)}))
        return 0

    if args.cmd == "urls-for-frame":
        from datetime import datetime

        with open(args.json_file) as f:
            loaded = json.load(f)
        data = loaded.get("data", loaded)
        if str(args.frame_id) not in data:
            print(
                json.dumps({"error": f"Frame {args.frame_id} not found"}),
                file=sys.stderr,
            )
            return 2
        fd = data[str(args.frame_id)]
        burst_ids = fd.get("burst_id_list", [])
        times = fd.get("sensing_time_list", [])
        lo = args.start_date and datetime.fromisoformat(args.start_date).date()
        hi = args.end_date and datetime.fromisoformat(args.end_date).date()
        dates = sorted(
            {
                datetime.fromisoformat(t).date()
                for t in times
                if (not lo or datetime.fromisoformat(t).date() >= lo)
                and (not hi or datetime.fromisoformat(t).date() <= hi)
            }
        )
        # expected granule names (query_consistent_bursts.py:51-52
        # expected_total_files = bursts x dates); the https/s3 URL
        # resolution requires the remote ASF search — scoped out
        granules = [
            f"OPERA_L2_CSLC-S1_{b.upper().replace('_', '-')}_"
            f"{d.strftime('%Y%m%d')}T000000Z"
            for b in burst_ids
            for d in dates
        ]
        for g in granules:
            print(g)
        print(
            json.dumps(
                {
                    "frame_id": args.frame_id,
                    "n_bursts": len(burst_ids),
                    "n_dates": len(dates),
                    "expected_total_files": len(granules),
                }
            ),
            file=sys.stderr,
        )
        return 0

    if args.cmd == "historical":
        from pyspark.sql import functions as F

        from burst_db_spark.sources.json_docs import load_envelope

        # the wanted burst numbers, from the envelope parsed on the driver
        # (a set: neighbouring frames share bursts, and a shared burst's
        # rows must come out once, not once per requested frame)
        f2b = load_envelope(args.frame_to_burst_json).get("data", {})
        wanted = sorted({
            int(b)
            for fid in args.frame_ids
            for b in f2b.get(str(fid), {}).get("burst_id", [])
        })
        if args.db_path.endswith(".sqlite"):
            from burst_db_spark.sinks import read_sqlite

            bursts = read_sqlite(
                spark,
                args.db_path,
                "bursts",
                "burst_id_jpl string, sensing_time string, granule string",
            )
        else:
            bursts = spark.read.parquet(args.db_path)
        # burst_id_map JPL ids are t{track}_{burstnum}_iw{n}; the bridge
        # carries the triplet number -> match on the middle field
        bnum = F.split(F.col("burst_id_jpl"), "_")[1].cast("int")
        hits = bursts.where(bnum.isin(wanted))
        if args.min_datetime:
            hits = hits.where(F.col("sensing_time") >= args.min_datetime)
        if args.max_datetime:
            hits = hits.where(F.col("sensing_time") <= args.max_datetime)
        if args.hcmd == "fetch-granules":
            cols = ["granule"]
            hits = hits.select(
                F.regexp_replace("granule", r"\.SAFE$", "").alias("granule")
            )
        else:
            cols = ["burst_id_jpl", "sensing_time"]
            if getattr(args, "with_granule", False):
                cols.append("granule")
            hits = hits.select(*cols)
        # the answer is printed from the driver anyway, so it is sorted
        # (and, for granules, de-duplicated) there: a global orderBy
        # would cost a sample job and a range exchange
        rows = [tuple(r) for r in hits.collect()]
        if args.hcmd == "fetch-granules":
            rows = list(set(rows))
        rows.sort(key=_nulls_first)
        if args.headers:
            print(",".join(cols))
        for r in rows:
            print(",".join(str(v) for v in r))
        return 0

    return 1


def _nulls_first(row: tuple) -> tuple:
    """Sort key for Spark's ascending NULLS FIRST order on every column."""
    return tuple((v is not None, v) for v in row)


def _blackout_windows_df(spark, path: str):
    """Parse a create-blackout JSON into a (frame_fid, start_ts, end_ts)
    DataFrame for the anti range-join."""
    from pyspark.sql import functions as F

    with open(path) as f:
        doc = json.load(f)
    rows = [
        (int(fid), s, e)
        for fid, windows in doc.get("blackout_dates", {}).items()
        for s, e in windows
    ]
    df = spark.createDataFrame(rows, "frame_fid int, s string, e string")
    return df.select(
        "frame_fid",
        F.to_timestamp("s").alias("start_ts"),
        F.to_timestamp("e").alias("end_ts"),
    )


if __name__ == "__main__":
    sys.exit(main())
