"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, with decode / feature-extract as mapInPandas stages.

The decode step is STUBBED (no image/audio libs in this container): the
real decoder raises NotImplementedError; ``fake_features`` is a
deterministic md5-derived stand-in so the Spark-side plumbing — schema,
partitioning, Arrow batch shape, UDF signature — is real and tested.
At scale the pattern is: binary parquet column (or binaryFile source) →
repartition to spread blobs → mapInPandas decode → feature columns.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from burst_db_spark.session import fan_out

MEDIA_SCHEMA = (
    "doc_id long, media_type string, payload binary, n_bytes int, sha1 string"
)


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Make an opaque binary column + typed metadata from existing data
    (stands in for image/audio bytes)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.lit("application/octet-stream").alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("int").alias("n_bytes"),
        F.sha1(payload).alias("sha1"),
    )


def encode_wav_pcm16(samples: "list[int]", rate: int = 16000) -> bytes:
    """Mono 16-bit PCM WAV bytes from int16 samples (stdlib only)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_wav(payload: bytes) -> dict:
    """REAL audio decode — stdlib ``wave`` + numpy PCM16 parse. Returns
    samples + format metadata."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        n = w.getnframes()
        raw = w.readframes(n)
        meta = {
            "channels": w.getnchannels(),
            "rate": w.getframerate(),
            "sampwidth": w.getsampwidth(),
        }
    if meta["sampwidth"] != 2:
        raise NotImplementedError("only PCM16 wav payloads are decoded")
    samples = np.frombuffer(raw, dtype="<i2")
    return {"kind": "audio", "samples": samples, **meta}


def decode_bmp(payload: bytes) -> dict:
    """REAL image decode for uncompressed 24-bit BMP — pure-python header
    parse + bottom-up padded pixel rows. Returns an (h, w, 3) RGB array."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP is decoded")
    row_bytes = (w * 3 + 3) // 4 * 4
    img = np.zeros((abs(h), w, 3), dtype=np.uint8)
    for r in range(abs(h)):
        src = data_off + r * row_bytes
        row = np.frombuffer(payload, dtype=np.uint8, count=w * 3, offset=src)
        # BMP stores BGR, bottom-up when h > 0
        dst = (abs(h) - 1 - r) if h > 0 else r
        img[dst] = row.reshape(w, 3)[:, ::-1]
    return {"kind": "image", "pixels": img, "width": w, "height": abs(h)}


def encode_bmp(img) -> bytes:
    """Uncompressed 24-bit BMP bytes from an (h, w, 3) RGB uint8 array —
    the inverse of :func:`decode_bmp` (BGR channel order, bottom-up rows,
    4-byte row padding)."""
    import struct

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    row_bytes = (w * 3 + 3) // 4 * 4
    data_size = row_bytes * h
    header = b"BM" + struct.pack("<IHHI", 54 + data_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0
    )
    pad = b"\x00" * (row_bytes - w * 3)
    rows = [img[h - 1 - r][:, ::-1].tobytes() + pad for r in range(h)]
    return header + dib + b"".join(rows)


def resize_nearest(img, out_h: int, out_w: int):
    """Nearest-neighbor resize with the floor index map
    ``src = (dst * src_size) // out_size`` — pure integer arithmetic, so
    an oracle can recompute any resized pixel relationally."""
    import numpy as np

    img = np.asarray(img)
    h, w = img.shape[:2]
    ri = (np.arange(out_h) * h) // out_h
    ci = (np.arange(out_w) * w) // out_w
    return img[ri][:, ci]


RESIZE_SCHEMA = "doc_id long, sum_px long, min_px int, max_px int"


def image_resize_stats(
    media: DataFrame, out_h: int = 16, out_w: int = 16
) -> DataFrame:
    """Decode → resize → integer pixel statistics, Arrow-batched: the
    standard image-preprocessing stage shape (decode and resample inside
    the worker, only small typed features cross back)."""
    import numpy as np

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_media(bytes(payload))
                small = resize_nearest(d["pixels"], out_h, out_w).astype(np.int64)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "sum_px": int(small.sum()),
                        "min_px": int(small.min()),
                        "max_px": int(small.max()),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "sum_px", "min_px", "max_px"])

    return media.mapInPandas(_run, RESIZE_SCHEMA)


def decode_media(payload: bytes) -> object:
    """Decode dispatch on magic bytes. WAV (PCM16) and uncompressed
    24-bit BMP decode for REAL with stdlib+numpy; compressed formats
    (JPEG/PNG/MP3/MP4) still raise — their codecs aren't in this image.
    Wire PIL/soundfile into the marked branch on a real deployment and
    ``extract_features`` is unchanged."""
    if len(payload) >= 12 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    raise NotImplementedError(
        "compressed media codecs (JPEG/PNG/MP3/MP4) are not present in "
        "this image; wire PIL/soundfile/ffmpeg here"
    )


def _fake_feature_vector(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in features: md5-derived floats in [0, 1)."""
    out = []
    seed = payload or b""
    for i in range(dim):
        h = hashlib.md5(seed + bytes([i])).digest()
        out.append(int.from_bytes(h[:4], "big") / 2**32)
    return out


FEATURE_SCHEMA = "doc_id long, n_bytes int, features array<double>"


def extract_features(media: DataFrame, dim: int = 8, use_decoder: bool = False) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    ``use_decoder=True`` routes through decode_media (raises until a real
    decoder is wired); default uses the deterministic fake so batch shape
    and schema are exercised end-to-end.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                raw = bytes(payload) if payload is not None else b""
                if use_decoder:
                    decode_media(raw)
                feats.append(_fake_feature_vector(raw, dim))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["n_bytes"],
                    "features": feats,
                }
            )

    return media.mapInPandas(_extract, FEATURE_SCHEMA)


def _wav_encode_per_key(
    df: DataFrame,
    key: str,
    value_col: str,
    order_col: str,
) -> DataFrame:
    """(key, payload) — one PCM16 WAV per key, samples in order_col
    order, quantized floor(value*10 + 0.5) clipped to ±32000.

    Optimization r14 (guide §4.5 — the w5 reference-dates device:
    amortize per TASK, not per group): the old
    ``groupBy(key).applyInPandas`` shape shipped every key as its own
    Arrow batch + Python call (~2 ms fixed cost per GROUP). Now:
    hash-repartition by key (every key complete within one task) and
    run the identical quantize+encode kernel once per PARTITION — one
    lexsort + numpy boundary split, then the same per-key WAV bytes.
    Per-key sample order is (order_col), exactly what sort_values gave,
    so payloads are byte-identical."""
    import numpy as np

    enc_schema = f"{key} long, payload binary"

    def _enc_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        keys = pdf[key].to_numpy(dtype=np.int64)
        order = pdf[order_col].to_numpy()
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        idx = np.lexsort((order, keys))
        keys_s = keys[idx]
        s_all = np.floor(vals[idx] * 10.0 + 0.5)
        s_all = np.clip(s_all, -32000, 32000).astype(np.int16)
        bounds = np.nonzero(np.diff(keys_s))[0] + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(keys_s)]))
        out_k, out_p = [], []
        for st, en in zip(starts, ends):
            out_k.append(int(keys_s[st]))
            out_p.append(encode_wav_pcm16(list(s_all[st:en])))
        yield pd.DataFrame(
            {key: np.asarray(out_k, dtype=np.int64), "payload": out_p}
        )

    return fan_out(df.select(key, value_col, order_col), key).mapInPandas(
        _enc_part, enc_schema
    )


def audio_roundtrip_features(
    df: DataFrame,
    key: str = "user_id",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """End-to-end REAL audio path: per-key PCM16 WAV encode
    (per-partition mapInPandas kernel — _wav_encode_per_key) → binary
    payload column → ``decode_media`` → integer sample statistics.

    Quantization is floor(value·10 + 0.5) clipped to ±32000 — floor
    arithmetic (not Python round; banker's rounding differs from SQL) so
    a DuckDB oracle reproduces every sample, making the decoded
    aggregates exact integers on both engines."""
    import numpy as np

    wavs = _wav_encode_per_key(df, key, value_col, order_col)

    out_schema = (
        f"{key} long, n_samples bigint, sum_s bigint, min_s int, "
        "max_s int, mean_s double"
    )

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for k, payload in zip(pdf[key], pdf["payload"]):
                d = decode_media(bytes(payload))
                s = d["samples"].astype(np.int64)
                rows.append(
                    {
                        key: k,
                        "n_samples": len(s),
                        "sum_s": int(s.sum()),
                        "min_s": int(s.min()),
                        "max_s": int(s.max()),
                        "mean_s": float(s.sum()) / len(s),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[key, "n_samples", "sum_s", "min_s", "max_s", "mean_s"],
            )

    return wavs.mapInPandas(_dec, out_schema)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: deterministic
    sample indices from metadata only (no decode needed to PLAN the
    sampling; the decode of selected frames happens in extract_features)."""
    n_frames = (F.col("n_bytes") / 100).cast("int")  # fake frame count
    idx = F.sequence(
        F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n)
    )
    return media.select("doc_id", F.explode(idx).alias("frame_idx"))


def audio_window_features(
    df: DataFrame,
    key: str = "user_id",
    value_col: str = "value",
    order_col: str = "event_id",
    frame: int = 64,
) -> DataFrame:
    """Framed audio feature extraction over REAL decoded PCM — the
    speech-pipeline shape (VAD/energy gating, zero-crossing-rate
    prefilters) run distributed: per-key WAV encode → decode_media →
    frame into ``frame``-sample windows → per-frame energy (sum of
    squares) and zero-crossing count → per-key aggregates.

    Everything integer (PCM16 samples, int64 sums) so a DuckDB oracle
    reproducing the quantization + framing relationally hash-matches
    exactly. One per-partition mapInPandas kernel for the encode
    (_wav_encode_per_key), one mapInPandas for decode+features: at
    100 TB both are embarrassingly parallel over keys/payloads, no
    shuffle beyond the per-key grouping."""
    import numpy as np

    wavs = _wav_encode_per_key(df, key, value_col, order_col)

    out_schema = (
        f"{key} long, n_frames bigint, total_energy bigint, "
        "max_frame_energy bigint, zero_crossings bigint"
    )

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for k, payload in zip(pdf[key], pdf["payload"]):
                s = decode_media(bytes(payload))["samples"].astype(np.int64)
                n_fr = (len(s) + frame - 1) // frame
                fidx = np.arange(len(s)) // frame
                energy = np.zeros(n_fr, dtype=np.int64)
                np.add.at(energy, fidx, s * s)
                # crossings between consecutive samples INSIDE a frame
                prod = s[1:] * s[:-1]
                inside = fidx[1:] == fidx[:-1]
                zc = int(np.count_nonzero((prod < 0) & inside))
                rows.append(
                    {
                        key: int(k),
                        "n_frames": int(n_fr),
                        "total_energy": int(energy.sum()),
                        "max_frame_energy": int(energy.max()) if n_fr else 0,
                        "zero_crossings": zc,
                    }
                )
            yield pd.DataFrame(rows)

    return wavs.mapInPandas(_feat, out_schema)


# ---------------------------------------------------------------------------
# Perceptual image hashing + exact Hamming-threshold near-dup join

DHASH_GRID = 8  # 8x8 gray samples -> 8 rows x 7 column comparisons = 56 bits
DHASH_BITS = DHASH_GRID * (DHASH_GRID - 1)
DHASH_BAND_BITS = 14
DHASH_N_BANDS = DHASH_BITS // DHASH_BAND_BITS  # 4


def image_dhash(media: DataFrame, grid: int = DHASH_GRID) -> DataFrame:
    """Perceptual difference-hash (dHash) of binary image payloads:
    REAL decode (magic-byte dispatch), integer luma grayscale
    ``(299 R + 587 G + 114 B) // 1000``, nearest-neighbor sample onto a
    ``grid x grid`` gray grid with the floor index map (the
    ``resize_nearest`` contract), then one bit per adjacent-column
    comparison ``gray[r, c+1] > gray[r, c]`` — 56 bits for the default
    8x8 grid, packed little-endian into a BIGINT (bit ``r*(grid-1)+c``).

    All-integer end to end, so an oracle can recompute the exact hash
    relationally for deterministic pixels; a hash match therefore pins
    the whole path: container encode, real decode, luma, resample, bit
    packing. Arrow-batched mapInPandas — pixels never leave the worker,
    only the 8-byte hash crosses."""
    import numpy as np

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_media(bytes(payload))
                px = np.asarray(d["pixels"], dtype=np.int64)
                gray = (
                    299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]
                ) // 1000
                h, w = gray.shape
                ri = (np.arange(grid) * h) // grid
                ci = (np.arange(grid) * w) // grid
                g8 = gray[np.ix_(ri, ci)]
                bits = (g8[:, 1:] > g8[:, :-1]).astype(np.int64)
                shifts = (
                    np.arange(grid).reshape(grid, 1) * (grid - 1)
                    + np.arange(grid - 1).reshape(1, grid - 1)
                )
                rows.append(
                    {"doc_id": doc_id, "dhash": int((bits << shifts).sum())}
                )
            yield pd.DataFrame(rows, columns=["doc_id", "dhash"])

    return media.mapInPandas(_run, "doc_id long, dhash long")


def dhash_neardup_pairs(
    hashes: DataFrame,
    max_hamming: int = 3,
    n_bands: int = DHASH_N_BANDS,
    band_bits: int = DHASH_BAND_BITS,
) -> DataFrame:
    """EXACT Hamming-threshold near-dup pairs over perceptual hashes via
    pigeonhole banding: the 56-bit hash splits into ``n_bands`` disjoint
    14-bit bands; any pair within Hamming distance ``max_hamming`` <
    ``n_bands`` differs in at most ``max_hamming`` bands and therefore
    AGREES on at least one — so the (band_idx, band_value) equi-join
    has 100% recall by construction (no probability, unlike LSH), and
    ``bit_count(xor)`` verifies candidates exactly.

    The 100 TB shape: candidate volume is bounded by band-bucket
    occupancy (a hash equi-join, never all-pairs); the verify is a
    per-candidate integer popcount inside codegen. Requires
    ``max_hamming < n_bands`` for the recall guarantee."""
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole recall needs max_hamming < n_bands")
    mask = (1 << band_bits) - 1
    bands = hashes.select(
        "doc_id",
        "dhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("dhash"), j * band_bits)
                    .bitwiseAND(F.lit(mask))
                    for j in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("dhash").alias("ha"),
        "band_idx",
        "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("dhash").alias("hb"),
        "band_idx",
        "band_val",
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


AUDIO_HASH_WINDOW = 32
AUDIO_HASH_WINDOWS = 57  # 57 energies -> 56 comparison bits


def audio_energy_hash(
    wavs: DataFrame,
    window: int = AUDIO_HASH_WINDOW,
    n_windows: int = AUDIO_HASH_WINDOWS,
) -> DataFrame:
    """Perceptual audio fingerprint — the 1-D analog of
    :func:`image_dhash`: REAL WAV decode, per-window sum-of-|amplitude|
    energy profile over the first ``n_windows * window`` samples, one
    bit per adjacent-window comparison ``energy[i+1] > energy[i]``
    packed little-endian into a BIGINT (56 bits by default).

    Energy-profile *shape* survives uniform gain/DC perturbations up to
    comparison ties, which is what makes it a near-dup signal rather
    than an exact digest. All-integer, so a relational oracle can
    replay it for deterministic samples. Pairs come from the SAME
    pigeonhole band join as images (:func:`dhash_neardup_pairs`) — one
    Hamming-join operator serves every modality that can hash into 56
    bits."""
    import numpy as np

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                d = decode_wav(bytes(payload))
                x = np.abs(d["samples"].astype(np.int64))[: window * n_windows]
                if len(x) < window * n_windows:
                    raise ValueError(
                        f"audio_energy_hash needs >= {window * n_windows} "
                        f"samples ({n_windows} windows x {window}); clip "
                        f"doc_id={doc_id} has {len(x)}"
                    )
                en = x.reshape(n_windows, window).sum(axis=1)
                bits = (en[1:] > en[:-1]).astype(np.int64)
                h = int((bits << np.arange(n_windows - 1)).sum())
                rows.append({"doc_id": doc_id, "dhash": h})
            yield pd.DataFrame(rows, columns=["doc_id", "dhash"])

    return wavs.mapInPandas(_run, "doc_id long, dhash long")


def blob_byte_stats(media: DataFrame) -> DataFrame:
    """Per-blob byte stats via ``mapInArrow`` — the ZERO-COPY Arrow
    surface (no pandas conversion on either side of the exchange):
    byte counts and byte sums are computed directly on the Arrow
    binary array's offsets/data buffers with one vectorized cumsum —
    per-row python objects are never materialized. This is the surface
    to reach for when the kernel is already columnar and the
    pandas hop of ``mapInPandas`` is pure overhead — at 100 TB of
    blobs the conversion tax is the difference between scan-bound and
    CPU-bound. Handles int32- and int64-offset (large_)binary layouts
    and sliced batches."""
    import numpy as np
    import pyarrow as pa

    def _run(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            ids = batch.column(batch.schema.get_field_index("doc_id"))
            blobs = batch.column(batch.schema.get_field_index("payload"))
            off_dtype = (
                np.int64 if pa.types.is_large_binary(blobs.type) else np.int32
            )
            if blobs.null_count:
                raise ValueError(
                    "blob_byte_stats: null payloads present — filter or "
                    "coalesce them upstream (nulls would silently report "
                    "n_bytes=0)"
                )
            bufs = blobs.buffers()
            offs = np.frombuffer(bufs[1], dtype=off_dtype)[
                blobs.offset : blobs.offset + len(blobs) + 1
            ].astype(np.int64)
            # an all-empty column may carry a None data buffer
            data = (
                np.zeros(0, dtype=np.uint8)
                if bufs[2] is None
                else np.frombuffer(bufs[2], dtype=np.uint8)
            )
            cum = np.zeros(len(data) + 1, dtype=np.int64)
            np.cumsum(data, dtype=np.int64, out=cum[1:])
            n_bytes = (offs[1:] - offs[:-1]).astype(np.int32)
            byte_sum = cum[offs[1:]] - cum[offs[:-1]]
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(n_bytes, type=pa.int32()),
                    pa.array(byte_sum, type=pa.int64()),
                ],
                names=["doc_id", "n_bytes", "byte_sum"],
            )

    return media.select("doc_id", "payload").mapInArrow(
        _run, "doc_id long, n_bytes int, byte_sum long"
    )
