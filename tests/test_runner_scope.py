"""Query scopes (burst_db_spark.runner): what a build persists,
checkpoints or stages belongs to the scope it runs in, and the scope
releases it on exit, on success or failure, without touching state that
other scopes or other driver threads own.

Cached state is tracked by RDD-id SET, not count: the ContextCleaner may
free what earlier unscoped builds in the same session left, mid-test,
which touches none of the ids a run creates."""

from __future__ import annotations

import functools
import os
import re
import tempfile
import threading
from pathlib import Path

import pytest

from burst_db_spark.catalog import load
from burst_db_spark.operators.dedup import (
    containment_prefix_pairs,
    jaccard_prefix_pairs,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
)
from burst_db_spark.registry import QuerySpec, all_queries
from burst_db_spark.runner import checkpoint, persist, release, run, scope, tmpdir
from tests.conftest import SF_DIR

ROOT = Path(__file__).resolve().parents[1]

STREAM_ROWS = tuple(n for n in all_queries() if n.startswith("stream_"))
# rows whose builds persist query-level frames that used to be handed back
# through attributes on the returned frame
PERSISTING_ROWS = (
    "dd_lsh_quality_audit",
    "t_docs_minhash_pipeline",
    "t_cluster_safe_splits",
    "knn_ivf_learned_exhaustive",
    "dd_docs_cascade_pipeline",
)
STAGING_ROWS = ("k6_metadata_roundtrip", "s15_schema_evolution")
# rows whose builds take local checkpoints (iterative operators)
CHECKPOINTING_ROWS = (
    "g1_pagerank3",
    "g2_triangle_stats",
    "g3_bfs_hops",
    "g4_cc_iterative",
    "g5_hits_unrolled",
    "g6_kcore_peel",
    "g7_ktruss_peel",
    "g8_label_propagation",
    "dd_nn_descent",
    "dd_cluster_incremental",
    "t_bpe_merges",
    "t_bpe_encode",
    "t_bpe_reconstruction",
    "t_bpe_fertility_by_lang",
)
# rows whose builds run SQL text over loaded tables
VIEW_ROWS = (
    "q4_order_priority",
    "q16_supplier_cnt",
    "q17_small_qty_revenue",
    "q18_large_volume",
    "q20_part_shippers",
    "q21_suppliers_waiting",
    "q22_global_sales_opportunity",
    "group_by_all",
    "f_udtf_sentences",
    "f_recursive_cte_gapfill",
    "f_pipe_syntax",
)


def _cached_ids(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _state(spark) -> dict:
    return {
        "rdds": _cached_ids(spark),
        "tmp": set(os.listdir(tempfile.gettempdir())),
        "views": {t.name for t in spark.catalog.listTables() if t.isTemporary},
        "partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def _assert_left_as_found(spark, before: dict, name: str) -> None:
    after = _state(spark)
    assert not after["rdds"] - before["rdds"], (name, after["rdds"] - before["rdds"])
    assert not after["tmp"] - before["tmp"], (name, after["tmp"] - before["tmp"])
    assert not after["views"] - before["views"], (name, after["views"] - before["views"])
    assert after["partitions"] == before["partitions"], name


def _failing_build(spark, sf_dir):
    df = persist(spark.range(50).selectExpr("id * 7 AS x"))
    df.count()
    Path(tmpdir("bds_scope_probe_"), "staged.txt").write_text("x")
    raise RuntimeError("build failed after persisting and staging")


FAILING = QuerySpec("scope_failing_build", _failing_build, None)


def test_run_leaves_session_as_found(spark):
    assert len(STREAM_ROWS) >= 15
    specs = all_queries()
    # the JVM unpacks its native codecs and the session's artifact dir
    # into the temp dir on first use and keeps them for its lifetime
    run(specs[STREAM_ROWS[0]], spark, SF_DIR, lambda df: df.collect())
    # earlier unscoped builds in this session can leave cache entries of
    # the persisting rows' plans, which ``persist`` leaves to their owner;
    # start from an empty cache so each of those rows caches its own
    spark.catalog.clearCache()
    # the view rows run in a session of their own, which starts with no
    # temp views: a view an earlier test left under the same name would
    # otherwise hide one the row leaves
    fresh = spark.newSession()
    rows_by_session = [
        (spark, (*STREAM_ROWS, *PERSISTING_ROWS, *STAGING_ROWS, *CHECKPOINTING_ROWS)),
        (fresh, VIEW_ROWS),
    ]
    for session, names in rows_by_session:
        for name in names:
            before = _state(session)
            (rows, held), build_s, total_s = run(
                specs[name], session, SF_DIR,
                lambda df: (df.collect(), _cached_ids(session)),
            )
            assert 0.0 <= build_s <= total_s, name
            assert rows is not None, name
            if name in PERSISTING_ROWS:
                # the scope released a cache the action ran with
                assert held - _cached_ids(session), name
            _assert_left_as_found(session, before, name)

    before = _state(spark)
    with pytest.raises(RuntimeError, match="build failed"):
        run(FAILING, spark, SF_DIR, lambda df: df.collect())
    _assert_left_as_found(spark, before, FAILING.name)


def test_scope_frees_operator_caches(spark):
    """The four dedup operators persist intermediates; a scope around the
    build and its action frees every block they cached."""
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    for build in (
        lambda: ngram_jaccard_pairs(docs, "doc_id", threshold=0.5),
        lambda: jaccard_prefix_pairs(docs, "doc_id", threshold=0.5),
        lambda: minhash_lsh_dedup(docs, "doc_id", threshold=0.5),
        lambda: containment_prefix_pairs(docs, "doc_id", threshold=0.6),
    ):
        base = _cached_ids(spark)
        with scope():
            build().count()
            assert _cached_ids(spark) - base  # the persist actually happened
        assert not _cached_ids(spark) - base


def test_scope_releases_only_its_own_frames(spark):
    """A frame unpersisted inside the scope is released again harmlessly,
    and a frame persisted outside every scope is left alone."""
    outside = spark.range(30).selectExpr("id * 3 AS y").persist()
    outside.count()
    try:
        with scope():
            inner = persist(spark.range(30).selectExpr("id * 5 AS y"))
            inner.count()
            inner.unpersist()
        assert outside.storageLevel.useMemory
    finally:
        outside.unpersist()


def test_checkpoint_and_release(spark):
    """A checkpoint is freed when its scope exits, ``release`` frees a
    checkpoint or a cache at once, and a frame whose plan is already
    cached is left to the cache's owner, by the scope and by
    ``release``."""
    outside = spark.range(20).selectExpr("id * 13 AS w").persist()
    outside.count()
    try:
        base = _cached_ids(spark)
        with scope():
            a = checkpoint(spark.range(40).selectExpr("id * 2 AS x"))
            b = checkpoint(a.selectExpr("x + 1 AS x"))
            c = persist(spark.range(40).selectExpr("id * 3 AS x"))
            c.count()
            assert len(_cached_ids(spark) - base) == 3
            release(a, c)
            assert len(_cached_ids(spark) - base) == 1
            assert b.count() == 40  # b reads its own blocks, not a's
            again = persist(outside.select("w"))
            assert again.count() == 20
            release(again)
        assert not _cached_ids(spark) - base
        assert outside.storageLevel.useMemory
    finally:
        outside.unpersist()


def test_iterative_operators_release_replaced_rounds(spark):
    """``pagerank_int`` and the funnel path of ``kmeans_unrolled_stats``
    free each round's checkpoint once nothing reads it: what a build
    holds inside its scope does not grow with the round count, and the
    scope frees all of it."""
    from burst_db_spark.operators.graph import pagerank_int
    from burst_db_spark.operators.similarity import kmeans_unrolled_stats

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)], "src bigint, dst bigint")
    nodes = spark.createDataFrame([(n,) for n in range(1, 6)], "id bigint")
    emb = load(spark, SF_DIR, "embeddings")
    builds = {
        "pagerank_int": lambda n: pagerank_int(edges, nodes, iterations=n),
        "kmeans_funnel": lambda n: kmeans_unrolled_stats(
            emb, k=64, rounds=n, hier_threshold=64),
    }
    for name, build in builds.items():
        held = []
        for rounds in (3, 6):
            base = _cached_ids(spark)
            with scope():
                build(rounds).collect()
                held.append(len(_cached_ids(spark) - base))
            assert not _cached_ids(spark) - base, name
        assert held[0] == held[1], (name, held)


def test_bcubed_audit_on_iterative_cc_path(spark, ddb, monkeypatch):
    """dd_cluster_bcubed_audit takes its two CC label frames from pool
    threads. On CC's iterative path (past ``CC_LOCAL_EDGE_GATE``, which no
    test size reaches, so forced here) those labels are checkpoints; they
    must live until the query's scope exits."""
    from burst_db_spark.operators import dedup

    iterative = functools.partial(dedup.connected_components, local_edge_gate=0)
    calls: list[int] = []

    def cc(*args, **kwargs):
        calls.append(1)
        return iterative(*args, **kwargs)

    monkeypatch.setattr(dedup, "connected_components", cc)
    spec = all_queries()["dd_cluster_bcubed_audit"]
    before = _state(spark)
    rows, _, _ = run(spec, spark, SF_DIR, lambda df: [tuple(r) for r in df.collect()])
    assert len(calls) == 2
    assert rows == ddb.execute(spec.oracle).fetchall()
    _assert_left_as_found(spark, before, spec.name)


def test_overlapping_run_keeps_other_scope(spark):
    """A full run() in another driver thread does not release a frame a
    scope in this thread still owns."""
    spec = all_queries()["dd_minhash_lsh"]
    errors: list[Exception] = []

    def other():
        try:
            run(spec, spark, SF_DIR, lambda df: df.collect())
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    with scope():
        mine = persist(spark.range(40).selectExpr("id * 11 AS z"))
        mine.count()
        t = threading.Thread(target=other)
        t.start()
        t.join(timeout=600)
        assert not t.is_alive()
        assert not errors, errors
        assert mine.storageLevel.useMemory
    assert not mine.storageLevel.useMemory


def _py_files(*roots: str):
    for root in roots:
        path = ROOT / root
        yield from ([path] if path.is_file() else sorted(path.rglob("*.py")))


def test_persists_and_staging_go_through_runner():
    """Every persist and staging dir in the library and the harnesses is
    made through the runner, the harnesses time only through ``run()``
    (no timer or cache clearing of their own), and the per-frame release
    handles the scope replaced do not come back."""
    direct = re.compile(r"\.persist\(|\.cache\(\)|mkdtemp")
    harness = re.compile(direct.pattern + "|clearCache|perf_counter")
    handle = re.compile(r"_(dedup|grid_nn)_cached|release_")
    bad = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in _py_files("burst_db_spark")
        if p.name != "runner.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if direct.search(line)
    ]
    bad += [
        f"{p.relative_to(ROOT)}:{i}"
        for p in _py_files("scale_probe.py", "bench.py", "scripts")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if harness.search(line)
    ]
    bad += [
        f"{p.relative_to(ROOT)}:{i}"
        for p in _py_files("burst_db_spark", "scale_probe.py", "scripts")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if handle.search(line)
    ]
    assert not bad, bad


def test_checkpoints_and_releases_go_through_runner():
    """Every local checkpoint and every release in the library and the
    harnesses goes through the runner (``checkpoint`` / ``release``): a
    bare ``unpersist()`` frees none of a checkpoint's blocks, and a bare
    checkpoint is owned by no scope."""
    bare = re.compile(r"\.localCheckpoint\(|\.unpersist\(")
    bad = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in _py_files("burst_db_spark", "scale_probe.py", "bench.py", "scripts")
        if p.relative_to(ROOT).as_posix() != "burst_db_spark/runner.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if bare.search(line)
    ]
    assert not bad, bad


def test_partition_counts_go_through_session():
    """The fan-out partition count is read in one place
    (``session.parallelism``), and no operator takes a per-call opt-in
    to spread its input."""
    bad = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in _py_files("burst_db_spark", "scale_probe.py")
        if p.relative_to(ROOT).as_posix() != "burst_db_spark/session.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "defaultParallelism" in line
    ]
    opt_in = "spread_" + "small_input"  # spelled apart so this file passes
    bad += [
        f"{p.relative_to(ROOT)}:{i}"
        for p in sorted(ROOT.rglob("*.py"))
        if ".git" not in p.parts
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if opt_in in line
    ]
    assert not bad, bad


def test_broadcast_gate_goes_through_session():
    """The broadcast row gate is written once (``session.broadcastable``)."""
    gate = re.compile(r"(?<![\w.])500_?000(?![\w.])")
    bad = [
        f"{p.relative_to(ROOT)}:{i}"
        for p in _py_files("burst_db_spark", "scale_probe.py", "bench.py", "scripts")
        if p.relative_to(ROOT).as_posix() != "burst_db_spark/session.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if gate.search(line)
    ]
    assert not bad, bad
