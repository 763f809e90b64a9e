"""W5 — reference-date selection: a stateful per-key scan whose emission
rule depends on how many references were already emitted
(reference_dates.py:105-157) — NOT expressible as a fixed-frame window
function, hence applyInPandas per frame (SURVEY.md §2.5 W5, §7.4.2).

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


def _refs_frame(key: str, k, refs_ns: list[int]) -> pd.DataFrame:
    import numpy as np

    return pd.DataFrame(
        {
            key: [k] * len(refs_ns),
            "ref_idx": range(1, len(refs_ns) + 1),
            "ref_date": np.asarray(refs_ns, dtype="int64").view("M8[ns]"),
        }
    )


def _ts_ns_sorted(series: pd.Series) -> list[int]:
    import numpy as np

    vals = series.to_numpy(dtype="datetime64[ns]").astype("int64")
    return np.sort(vals).tolist()


def _grouped_refs_frames(
    pdf: pd.DataFrame,
    key: str,
    ts_col: str,
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

    keys = pdf[key].to_numpy()
    ts = pdf[ts_col].to_numpy(dtype="datetime64[ns]").astype("int64")
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
            key: np.asarray(out_k, dtype="int64"),
            "ref_idx": np.asarray(out_i, dtype="int64"),
            "ref_date": np.asarray(out_r, dtype="int64").view("M8[ns]"),
        }
    )


def reference_dates(
    acq: DataFrame,
    key: str = "frame_fid",
    ts_col: str = "sensing_time",
    event_dates_by_key: dict[int, list[str]] | None = None,
    interval_days: int = INTERVAL_DAYS,
    min_acquisitions: int = MIN_ACQS,
) -> DataFrame:
    """(key, ref_idx, ref_date) — one row per emitted reference."""
    events_map = {
        int(k): {
            datetime.strptime(d, "%Y-%m-%d").date().toordinal() - _EPOCH_ORD
            for d in v
        }
        for k, v in (event_dates_by_key or {}).items()
    }

    def _per_partition(batches):
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        yield _grouped_refs_frames(
            pdf, key, ts_col, lambda k: events_map.get(k),
            interval_days, min_acquisitions,
        )

    schema = f"{key} int, ref_idx int, ref_date timestamp"
    # hash-repartition by key (every key complete within one task), then
    # run the kernel once per PARTITION — same per-key state machine,
    # same rows, ~no per-group Arrow overhead (see _grouped_refs_frames)
    return fan_out(acq.select(key, ts_col), key).mapInPandas(
        _per_partition, schema
    )


def reference_dates_cogrouped(
    acq: DataFrame,
    events: DataFrame,
    key: str = "frame_fid",
    ts_col: str = "sensing_time",
    event_date_col: str = "event_date",
    interval_days: int = INTERVAL_DAYS,
    min_acquisitions: int = MIN_ACQS,
    broadcast_events: bool = False,
) -> DataFrame:
    """(key, ref_idx, ref_date) with per-key event dates as JOINABLE
    STATE: ``events`` is a (key, event_date) DataFrame cogrouped with
    the acquisitions, so event dates shuffle to the task that owns the
    key. The dict-parameter path in :func:`reference_dates` mirrors the
    reference's small hand-curated ``EVENT_DATES_BY_FRAME`` constant
    (reference_dates.py:110-112) and stays for parity; the cogroup is
    the generic 100 TB shape — a driver-collected dict is pickled into
    every task and grows with the key count, a cogrouped DataFrame
    does not.

    ``broadcast_events=True`` (VERDICT r11 #3): when the caller KNOWS
    the events side is broadcast-sized (e.g. a per-key aggregate of a
    dimension, bounded by key count × a small constant), skip the second
    groupBy + cogroup machinery entirely — collect the per-key event
    dates into one array row per key, broadcast-left-join that onto the
    acquisitions, and run a single ``groupBy(key).applyInPandas`` with
    the dates carried as a column. Same oracle hash, one shuffle instead
    of two grouped exchanges. The events frame is still never collected
    to the driver — the broadcast is Spark's, sized by the JOIN side,
    not a dict pickled into every task closure."""
    if broadcast_events:
        import pyspark.sql.functions as F

        ev_arr = (
            events.select(key, event_date_col)
            .groupBy(key)
            .agg(
                F.collect_set(
                    F.col(event_date_col).cast("date")
                ).alias("__event_dates")
            )
        )
        joined = acq.select(key, ts_col).join(F.broadcast(ev_arr), key, "left")

        def _per_partition_bcast(batches):
            pdfs = [p for p in batches if len(p)]
            if not pdfs:
                return
            pdf = (
                pd.concat(pdfs, ignore_index=True)
                if len(pdfs) > 1
                else pdfs[0]
            )
            ev_map: dict = {}
            kk = pdf[key].to_numpy()
            dates_col = pdf["__event_dates"].to_numpy()
            for i in range(len(kk)):
                k = int(kk[i])
                if k not in ev_map:
                    dates = dates_col[i]
                    ev_map[k] = (
                        {d.toordinal() - _EPOCH_ORD for d in dates}
                        if dates is not None and len(dates)
                        else None
                    )
            yield _grouped_refs_frames(
                pdf, key, ts_col, ev_map.get,
                interval_days, min_acquisitions,
            )

        schema = f"{key} int, ref_idx int, ref_date timestamp"
        # whole-partition kernel, not per-group (guide §4.5; see
        # _grouped_refs_frames — same rows, no per-group Arrow cost)
        return fan_out(joined, key).mapInPandas(_per_partition_bcast, schema)

    def _per_key(acq_pdf: pd.DataFrame, ev_pdf: pd.DataFrame) -> pd.DataFrame:
        if acq_pdf.empty:
            # key present only in events: no acquisitions, no references
            # (typed empty Series — a bare [] is float64 and Arrow can't
            # cast double → timestamp)
            return pd.DataFrame(
                {
                    key: pd.Series([], dtype="int64"),
                    "ref_idx": pd.Series([], dtype="int64"),
                    "ref_date": pd.Series([], dtype="datetime64[ns]"),
                }
            )
        k = acq_pdf[key].iloc[0]
        ev = (
            set(
                (
                    pd.to_datetime(ev_pdf[event_date_col])
                    .to_numpy(dtype="datetime64[ns]")
                    .astype("int64")
                    // _DAY_NS
                ).tolist()
            )
            if len(ev_pdf)
            else None
        )
        refs = _select_reference_ns(
            _ts_ns_sorted(acq_pdf[ts_col]), ev, interval_days, min_acquisitions
        )
        return _refs_frame(key, k, refs)

    schema = f"{key} int, ref_idx int, ref_date timestamp"
    return (
        acq.select(key, ts_col)
        .groupBy(key)
        .cogroup(events.select(key, event_date_col).groupBy(key))
        .applyInPandas(_per_key, schema)
    )
