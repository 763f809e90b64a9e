"""Nested JSON document envelopes (S7/K3).

The reference's document outputs are ``{"metadata": {...}, "data":
{key: {list fields...}}}`` (build_frame_db.py:483-523,
create_cslc_burst_catalog.py:313-334, utils.py:11-24 zipped variant).

Spark-first shape: the DATA lives long-form in DataFrames; the envelope
is an export format. ``write_envelope`` builds the nested doc with
aggregations (collect per key → map) and writes ONE small artifact —
appropriate because these documents are bounded (47k frames × small
lists). ``read_envelope`` explodes a document back to long form.
"""

from __future__ import annotations

import gzip
import json
import zipfile
from collections.abc import Sequence
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def nested_doc_df(df: DataFrame, key: str, list_cols: Sequence[str]) -> DataFrame:
    """(key, {col: [values...]}) — sorted lists per key, one row per key.

    Accepts either long-form input (one row per value → groupBy collects)
    or pre-aggregated input (columns already arrays → passthrough)."""
    from pyspark.sql.types import ArrayType

    types = {f.name: f.dataType for f in df.schema.fields}
    if all(isinstance(types[c], ArrayType) for c in list_cols):
        return df.select(key, *list_cols)
    aggs = [F.sort_array(F.collect_list(c)).alias(c) for c in list_cols]
    return df.groupBy(key).agg(*aggs)


def _envelope(
    df: DataFrame,
    key: str,
    list_cols: Sequence[str],
    metadata: dict | None = None,
) -> dict:
    nested = nested_doc_df(df, key, list_cols)
    data = {
        str(row[key]): {c: list(row[c]) for c in list_cols}
        for row in nested.toLocalIterator()
    }
    meta = {
        "generation_time": datetime.now(timezone.utc).isoformat(),
        **(metadata or {}),
    }
    return {"metadata": meta, "data": data}


def envelope_json(
    df: DataFrame,
    key: str,
    list_cols: Sequence[str],
    metadata: dict | None = None,
) -> str:
    """Assemble the ``{metadata, data}`` envelope as a JSON string.

    The per-key aggregation is distributed; only the final bounded
    document is assembled driver-side (it is by definition a single
    artifact — same as the reference writing one JSON file)."""
    return json.dumps(_envelope(df, key, list_cols, metadata), sort_keys=True)


def write_envelope(
    df: DataFrame,
    path: str,
    key: str,
    list_cols: Sequence[str],
    metadata: dict | None = None,
) -> int:
    """K3: write the envelope; ``.gz`` / ``.zip`` suffix → compressed
    (utils.py:18-24 zips with level 6). Returns the number of keys
    written, so a caller needs no second pass over ``df`` to count them."""
    doc = _envelope(df, key, list_cols, metadata)
    text = json.dumps(doc, sort_keys=True)
    if path.endswith(".gz"):
        with gzip.open(path, "wt") as f:
            f.write(text)
    elif path.endswith(".zip"):
        inner = path.rsplit("/", 1)[-1][:-4]
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=6) as z:
            z.writestr(inner, text)
    else:
        with open(path, "w") as f:
            f.write(text)
    return len(doc["data"])


def read_envelope(
    spark: SparkSession, path: str, key: str = "key"
) -> tuple[dict, DataFrame]:
    """S7: read a (possibly zipped) envelope → (metadata, long-form df).

    Each data field becomes an array column; explode as needed."""
    if path.endswith(".gz"):
        with gzip.open(path, "rt") as f:
            doc = json.load(f)
    elif path.endswith(".zip"):
        with zipfile.ZipFile(path) as z:
            doc = json.loads(z.read(z.namelist()[0]))
    else:
        with open(path) as f:
            doc = json.load(f)
    data = doc.get("data", {})
    rows = [{key: k, **v} for k, v in data.items()]
    return doc.get("metadata", {}), spark.createDataFrame(rows)


def read_envelopes_distributed(
    spark: SparkSession, path_glob: str, key: str = "key"
) -> DataFrame:
    """S7 at scale: MANY zipped/gzipped envelope files decompressed and
    parsed executor-side (binaryFile + mapInPandas) — each document
    parses where its bytes land; rows come out long-form with the source
    path attached."""
    import io as _io
    from collections.abc import Iterator

    import pandas as pd

    binary = spark.read.format("binaryFile").load(path_glob)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                if path.endswith(".gz"):
                    with gzip.open(_io.BytesIO(raw), "rt") as f:
                        doc = json.load(f)
                elif path.endswith(".zip"):
                    with zipfile.ZipFile(_io.BytesIO(raw)) as z:
                        doc = json.loads(z.read(z.namelist()[0]))
                else:
                    doc = json.loads(raw)
                for k, v in doc.get("data", {}).items():
                    rows.append(
                        {"path": path, key: str(k), "payload": json.dumps(v, sort_keys=True)}
                    )
            yield pd.DataFrame(rows, columns=["path", key, "payload"])

    return binary.select("path", "content").mapInPandas(
        _parse, f"path string, {key} string, payload string"
    )
