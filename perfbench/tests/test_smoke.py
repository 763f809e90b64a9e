"""Tiny-size smoke test of the benchmark: both workloads, traced, at a
size that runs in about a minute. Checks that every metric BENCHMARK.json
declares is printed with its unit, and that a corrupted artifact digest
or query result counts as a failure.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from unittest import mock

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import catalog_workload  # noqa: E402
import run  # noqa: E402
import suite_workload  # noqa: E402
from inputs import CatalogSize  # noqa: E402

TINY = CatalogSize(n_triplets=120, n_tracks=2, n_dates=10)
QUERIES = ("q1_pricing_summary", "j17_bloom_prejoin")
SEED = 7


@pytest.fixture()
def work(tmp_path):
    saved = tempfile.tempdir
    with mock.patch.dict(os.environ):
        path = str(tmp_path / "work")
        run._environment(path)
        yield path
    tempfile.tempdir = saved


def _spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _assert_all_metrics(out, e2e, layer):
    spec = _spec()
    for declared, values in ((spec["end_to_end"], None), (spec["per_layer"], layer)):
        printed = run.result(out, e2e, values, spec)["metrics"]
        assert {m["name"]: m["unit"] for m in declared} == {
            k: v["unit"] for k, v in printed.items()
        }
    for name, value in e2e.items():
        assert value > 0, name


def test_catalog_tiny_counts_a_corrupted_digest(work, tmp_path, monkeypatch):
    goldens = tmp_path / "goldens.json"
    key = f"{TINY.n_triplets}x{TINY.n_tracks}x{TINY.n_dates}"
    goldens.write_text(json.dumps({key: {str(SEED): "0" * 16}}))
    monkeypatch.setattr(catalog_workload, "GOLDENS", str(goldens))

    out, e2e, layer = run.measure(
        "catalog", SEED, 0, True, work, size=TINY,
    )
    _assert_all_metrics(out, e2e, layer)
    assert len(out.facts["requests"]) == catalog_workload.N_REQUESTS
    assert out.failed == 1  # the digest, and nothing else
    assert layer["plans.create_pipeline.create.jobs"] > 0
    assert layer["cli.lookup.rows_scanned_per_row"] > 0


def test_suite_tiny_counts_a_corrupted_result(work, monkeypatch):
    check = suite_workload._check_results

    def corrupt_first(out, specs, results, sf_dir):
        name = next(iter(results))
        results[name] = results[name].slice(1)
        return check(out, specs, results, sf_dir)

    monkeypatch.setattr(suite_workload, "_check_results", corrupt_first)
    out, e2e, layer = run.measure(
        "operator_suite", SEED, 0, True, work,
        queries=QUERIES, sf=0.001,
    )
    _assert_all_metrics(out, e2e, layer)
    assert out.attempted == 3 * len(QUERIES)  # build, collect, oracle check
    assert out.failed == 1
    assert layer["suite.jobs"] > 0
