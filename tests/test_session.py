"""session.get_spark: Spark's Python workers import the same
``burst_db_spark`` as the driver, whatever directory the driver was
started from."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_PROBE = """
import sys
sys.path.insert(0, {root!r})

import burst_db_spark
from pyspark.sql import functions as F

from burst_db_spark.session import get_spark


def worker_file(_):
    import burst_db_spark
    return burst_db_spark.__file__


spark = get_spark(master="local[1]", shuffle_partitions=1)
(row,) = spark.range(1).select(F.udf(worker_file)("id").alias("f")).collect()
print("DRIVER", burst_db_spark.__file__)
print("WORKER", row.f)
spark.stop()
"""


def test_workers_import_the_drivers_tree(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(root=str(ROOT))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    seen = dict(
        line.split(" ", 1) for line in out.stdout.splitlines()
        if line.startswith(("DRIVER ", "WORKER "))
    )
    assert seen["WORKER"] == seen["DRIVER"] == str(ROOT / "burst_db_spark" / "__init__.py")
