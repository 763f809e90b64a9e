"""scale_probe's ladders: how a probe's rungs pair up into the small /
large / ratio dicts it prints (no Spark), and one cheap probe run in the
test session, which leaves the session as it found it."""

from __future__ import annotations

import scale_probe
from tests.test_runner_scope import _assert_left_as_found, _state


def test_split_pairs_each_key_with_its_big_rung():
    small, large, ratio = scale_probe.split_ladder(
        {"a": 2.0, "b": 0.0, "only_small": 1.0, "a_big": 5.0, "b_big": 3.0}
    )
    assert small == {"a": 2.0, "b": 0.0, "only_small": 1.0}
    assert large == {"a": 5.0, "b": 3.0}
    assert ratio == {"a": 2.5, "b": None}


def test_ladder_discards_a_warm_up_rung():
    calls: list[int] = []

    def rung(f):
        calls.append(f)
        return {"k": float(len(calls))}

    assert scale_probe._ladder(3, rung) == {"k": 2.0, "k_big": 3.0}
    assert calls == [1, 1, 3]


def test_winnow_clusters_counters_pair_with_their_big_rung(monkeypatch):
    """The probe's edge count and CC-path bit pair up across rungs as its
    seconds do. The real probe runs with its corpus and timer faked: the
    three ``_timed`` calls (the discarded warm-up rung, then the two
    timed rungs) return (seconds, edge count) per rung."""
    rungs = iter([(9.0, 1), (0.5, 481), (1.25, 962)])
    monkeypatch.setattr(scale_probe, "_cd_corpus", lambda spark, f: None)
    monkeypatch.setattr(scale_probe, "_timed", lambda *a, **k: next(rungs))
    small, large, ratio = scale_probe.split_ladder(
        scale_probe.winnow_clusters_cd_probe(None, 2)
    )
    keys = {
        "dd_winnow_clusters_cd",
        "dd_winnow_clusters_cd_edges",
        "dd_winnow_clusters_cd_gate",
    }
    assert set(small) == set(large) == set(ratio) == keys
    assert small["dd_winnow_clusters_cd"] == 0.5  # the warm-up rung is dropped
    assert large["dd_winnow_clusters_cd_edges"] == 962
    assert ratio["dd_winnow_clusters_cd_edges"] == 2.0
    assert ratio["dd_winnow_clusters_cd_gate"] == 1.0


def test_shuffle_probe_leaves_session_as_found(spark):
    before = _state(spark)
    cd = scale_probe.shuffle_cd_probe(spark, 2)
    assert set(cd) == {"t_epoch_shard_shuffle_cd", "t_epoch_shard_shuffle_cd_big"}
    assert all(v >= 0 for v in cd.values())
    _assert_left_as_found(spark, before, "shuffle_cd_probe")
