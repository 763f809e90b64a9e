"""W5 — reference-date selection: a stateful per-key scan whose emission
rule depends on how many references were already emitted
(reference_dates.py:105-157) — NOT expressible as a fixed-frame window
function, hence a pandas kernel per frame (SURVEY.md §2.5 W5, §7.4.2).

Semantics (re-implemented from the reference's loop):
- the first sensing time is always a reference;
- walking forward, a new reference is emitted at time t when
  (t − first_ref).days ≥ len(refs) · interval_days  (interval stretches
  with every emission), or t falls on a per-frame event date —
  but only if ≥ ``min_acquisitions`` accumulated since the last
  reference; an event date without enough acquisitions *moves* the last
  reference to t instead (merge rule).

Per-key state is one frame's sensing times (≤ a few hundred) — tiny;
~47k frames parallelize across executors.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from burst_db_spark.session import fan_out

INTERVAL_DAYS = int(1.0 * 365.25)
MIN_ACQS = 15


def select_reference_dates(
    times: list[datetime],
    event_dates: set | None = None,
    interval_days: int = INTERVAL_DAYS,
    min_acquisitions: int = MIN_ACQS,
) -> list[datetime]:
    """Pure-python core (unit-testable without Spark)."""
    events = event_dates or set()
    refs: list[datetime] = []
    group: list[datetime] = []
    emitted_groups = 0
    for t in sorted(times):
        if not refs:
            refs.append(t)
            group = [t]
            continue
        group.append(t)
        interval_passed = (t - refs[0]).days >= len(refs) * interval_days
        is_event = t.date() in events
        if interval_passed or is_event:
            if len(group) >= min_acquisitions:
                refs.append(t)
                emitted_groups += 1
                group = []
            elif is_event:
                if emitted_groups:
                    pass  # acquisitions merge into the previous group
                refs[-1] = t
                group = []
    return refs


_DAY_NS = 86_400_000_000_000
_EPOCH_ORD = 719_163  # date(1970, 1, 1).toordinal()


def _select_reference_ns(
    ts_ns: list[int],
    event_days: set[int] | None,
    interval_days: int,
    min_acquisitions: int,
) -> list[int]:
    """Integer-nanosecond twin of :func:`select_reference_dates` — the
    hot kernel. Works on SORTED epoch-ns ints: ``timedelta.days`` is
    ``(t - ref0) // DAY_NS`` for the positive diffs here, and
    ``t.date()`` is ``t // DAY_NS`` (naive post-1970 timestamps), so
    the two are step-for-step identical (pytest pins equality on
    randomized fixtures incl. intra-day times). Exists because building
    100k ``datetime`` objects per task dominated the w5b wall — the
    int loop is ~5x cheaper and the Arrow→numpy view is zero-copy."""
    events = event_days or ()
    refs: list[int] = []
    group = 0
    for t in ts_ns:
        if not refs:
            refs.append(t)
            group = 1
            continue
        group += 1
        interval_passed = (t - refs[0]) // _DAY_NS >= len(refs) * interval_days
        is_event = (t // _DAY_NS) in events
        if interval_passed or is_event:
            if group >= min_acquisitions:
                refs.append(t)
                group = 0
            elif is_event:
                refs[-1] = t
                group = 0
    return refs


def _grouped_refs_frames(
    pdf: pd.DataFrame,
    events_for_key,
    interval_days: int,
    min_acquisitions: int,
) -> pd.DataFrame:
    """Run the per-key kernel over EVERY key in one pandas frame (a whole
    task partition): one lexsort + numpy boundary split instead of one
    Arrow round-trip per key. Optimization r14 (guide §4.5 — amortize
    per-task, not per-group): ``groupBy(key).applyInPandas`` ships each
    key as its own Arrow batch + Python call, which costs ~2 ms per
    GROUP regardless of size — measured 3.3 s for a trivial kernel over
    the 1500-key sf0.1 frame vs 0.2 s for the identical shuffle+agg.
    ``events_for_key``: key -> set of epoch-day ints (or None)."""
    import numpy as np

    keys = pdf["frame_fid"].to_numpy()
    ts = pdf["sensing_time"].to_numpy(dtype="datetime64[ns]").astype("int64")
    order = np.lexsort((ts, keys))
    keys_s, ts_s = keys[order], ts[order]
    bounds = np.nonzero(np.diff(keys_s))[0] + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(keys_s)]))
    out_k: list[int] = []
    out_i: list[int] = []
    out_r: list[int] = []
    for s, e in zip(starts, ends):
        k = int(keys_s[s])
        refs = _select_reference_ns(
            ts_s[s:e].tolist(),
            events_for_key(k),
            interval_days,
            min_acquisitions,
        )
        out_k.extend([k] * len(refs))
        out_i.extend(range(1, len(refs) + 1))
        out_r.extend(refs)
    return pd.DataFrame(
        {
            "frame_fid": np.asarray(out_k, dtype="int64"),
            "ref_idx": np.asarray(out_i, dtype="int64"),
            "ref_date": np.asarray(out_r, dtype="int64").view("M8[ns]"),
        }
    )


def _event_days_by_key(pdf: pd.DataFrame) -> dict:
    """frame_fid -> set of epoch-day ints, from the ``__event_dates``
    array column the events join carries (empty without events)."""
    if "__event_dates" not in pdf.columns:
        return {}
    out: dict = {}
    for k, dates in zip(pdf["frame_fid"].to_numpy(), pdf["__event_dates"].to_numpy()):
        k = int(k)
        if k not in out:
            out[k] = (
                {d.toordinal() - _EPOCH_ORD for d in dates}
                if dates is not None and len(dates)
                else None
            )
    return out


def reference_dates(
    acq: DataFrame,
    events: DataFrame | None = None,
    interval_days: int = INTERVAL_DAYS,
    min_acquisitions: int = MIN_ACQS,
) -> DataFrame:
    """(frame_fid, ref_idx, ref_date) — one row per emitted reference of
    the (frame_fid, sensing_time) acquisitions ``acq``.

    ``events``: optional (frame_fid, event_date) frame of per-frame event
    dates. They are collected into one date set per frame and
    broadcast-left-joined onto the acquisitions, so the dates ride along
    as a column into the same single shuffle — never a driver-collected
    dict pickled into every task. The broadcast is sized by the per-frame
    aggregate (bounded by the frame count × a few dates)."""
    rows = acq.select("frame_fid", "sensing_time")
    if events is not None:
        ev_arr = (
            events.select("frame_fid", "event_date")
            .groupBy("frame_fid")
            .agg(
                F.collect_set(F.col("event_date").cast("date")).alias(
                    "__event_dates"
                )
            )
        )
        rows = rows.join(F.broadcast(ev_arr), "frame_fid", "left")

    def _per_partition(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        yield _grouped_refs_frames(
            pdf, _event_days_by_key(pdf).get, interval_days, min_acquisitions
        )

    schema = "frame_fid int, ref_idx int, ref_date timestamp"
    # hash-repartition by key (every key complete within one task), then
    # run the kernel once per PARTITION — same per-key state machine,
    # same rows, ~no per-group Arrow overhead (see _grouped_refs_frames)
    return fan_out(rows, "frame_fid").mapInPandas(_per_partition, schema)
