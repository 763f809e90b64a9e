from __future__ import annotations

import os
import shutil
import sys
import tempfile
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from burst_db_spark.catalog import TABLES  # noqa: E402
from burst_db_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"

_PRIOR_TMPDIR = pytest.StashKey[str | None]()


def pytest_configure(config):
    """Point ``TMPDIR`` at a dir of this session's own before the JVM and
    its Python workers start, so the temp-dir checks see only what this
    session staged: another process staging in the system temp dir at
    the same time cannot fail them. (A hook, not module code: test
    modules import this file a second time as ``tests.conftest``.)"""
    config.stash[_PRIOR_TMPDIR] = os.environ.get("TMPDIR")
    os.environ["TMPDIR"] = tempfile.mkdtemp(prefix="bds_tests_")
    tempfile.tempdir = None


def pytest_unconfigure(config):
    session_tmp = os.environ.pop("TMPDIR")
    prior = config.stash[_PRIOR_TMPDIR]
    if prior is not None:
        os.environ["TMPDIR"] = prior
    tempfile.tempdir = None
    shutil.rmtree(session_tmp, ignore_errors=True)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="burst_db_spark_tests", master="local[4]",
                      shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()
