"""Round-11 queries: winnowing document fingerprints (Schleimer,
Wilkerson, Aiken — SIGMOD 2003, the MOSS local fingerprinting scheme)
— the rolling-hash fingerprint family the LLM-pipeline surface still
lacked (t_fingerprint is a WHOLE-document digest; winnowing selects
position-local k-gram fingerprints with a detection guarantee for
shared substrings >= k + w - 1 chars).

Reference parity: opera-adt/burst_db has no text path — these extend
the LLM-pipeline surface (SURVEY.md "beyond the reference" mandate).
The (hash asc, pos desc) window argmin is encoded into a sortable
string key so BOTH engines compute it with a plain MIN() window — the
oracles replicate the scheme bit-for-bit in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import text as tx
from burst_db_spark.registry import register
from burst_db_spark.session import fan_out

_K = 8  # gram width (noise threshold)
_W = 4  # window width; guarantee threshold t = _K + _W - 1 = 11 chars

# Shared oracle CTE: the winnowed (doc, fp, pos) selection, exactly
# mirroring operators/text.winnow_fingerprints (k=8, w=4).
_WINNOW_SEL_CTES = f"""
    d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
    dm AS (SELECT doc_id, t, length(t) - {_K - 1} AS m FROM d),
    g AS (
        SELECT doc_id, m, t,
               CAST(unnest(range(1, m + 1)) AS INTEGER) AS pos
        FROM dm WHERE m >= {_W}
    ),
    kg AS (
        SELECT doc_id, m, pos,
               substr(md5(substr(t, pos, {_K})), 1, 15)
               || lpad(CAST({tx.WINNOW_POS_MAX} - pos AS VARCHAR), 9, '0')
                   AS key
        FROM g
    ),
    wm AS (
        SELECT doc_id, pos, m,
               min(key) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {_W - 1} FOLLOWING
               ) AS wkey
        FROM kg
    ),
    sel AS (
        SELECT DISTINCT doc_id, wkey FROM wm WHERE pos <= m - {_W - 1}
    )
"""


@register(
    "t_winnow_fingerprints",
    oracle=f"""
    WITH {_WINNOW_SEL_CTES}
    SELECT doc_id,
           substr(wkey, 1, 15) AS fp,
           CAST({tx.WINNOW_POS_MAX}
                - CAST(substr(wkey, 16, 9) AS INTEGER) AS INTEGER) AS fp_pos,
           CAST(('0x' || substr(wkey, 1, 15)) AS BIGINT) AS fp60
    FROM sel
    """,
    tags=("text", "fingerprint", "winnowing", "llm-pipeline"),
)
def t_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed k-gram fingerprints of every document (k=8, w=4):
    each window of 4 consecutive gram hashes contributes its minimum
    (rightmost on ties), so any substring shared between two documents
    of length >= 11 chars is guaranteed to surface as an identical
    selected fingerprint in both (operators/text.winnow_fingerprints;
    Schleimer et al. SIGMOD'03 §3). ONE per-doc window min + distinct —
    no join, no UDF; a hash match here proves the whole scheme (gram
    hashing, window argmin, tie-break, position recovery) bit-identical
    across engines."""
    docs = load(spark, sf_dir, "documents")
    return tx.winnow_fingerprints(fan_out(docs, "doc_id"), "doc_id", k=_K, w=_W)


@register(
    "dd_winnow_overlap",
    oracle=f"""
    WITH {_WINNOW_SEL_CTES},
    fps AS (SELECT DISTINCT doc_id, substr(wkey, 1, 15) AS fp FROM sel),
    guard AS (
        SELECT * FROM fps WHERE fp IN (
            SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50)
    ),
    sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
        FROM guard GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM guard a JOIN guard b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 10
    )
    SELECT id_a, id_b, shared_fps,
           sa.nfp AS nfp_a, sb.nfp AS nfp_b,
           CAST(shared_fps AS DOUBLE)
               / CAST(least(sa.nfp, sb.nfp) AS DOUBLE) AS overlap_frac
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    """,
    tags=("dedup", "fingerprint", "winnowing", "llm-pipeline"),
)
def dd_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style overlap detection: document pairs sharing >= 10
    winnowed fingerprints, with shared / min(|fp|) containment fraction
    (operators/text.winnow_overlap_pairs). Candidate generation is the
    fingerprint EQUI-join over per-doc distinct fingerprint sets with
    the df<=50 hot-fingerprint guard (boilerplate headers at corpus
    scale would otherwise fan out df² pairs per bucket) — never an
    all-pairs comparison, the same occupancy-bounded join family as the
    shingle/LSH dedups."""
    docs = load(spark, sf_dir, "documents")
    return tx.winnow_overlap_pairs(
        fan_out(docs, "doc_id"), "doc_id", k=_K, w=_W, min_shared=10, max_df=50
    )

# ---------------------------------------------------------------------------
# MM: perceptual image near-dup (dHash + pigeonhole-banded Hamming join)

# Deterministic image fixture (the mm_bmp_resize idiom): pixel channel k
# of doc i is ((r*13 + c*29 + k*17) * (1 + 2*(g%13)) + g*41 + i%3) % 256
# with g = i // 3. Docs in one group differ by a UNIFORM +0/+1/+2 shift,
# which leaves adjacent-column gray comparisons unchanged except where
# the mod-256 wrap flips a relation — within-group dHash distance is a
# few wrap-induced bit flips. ACROSS groups the odd multiplier is a
# different bijection of Z/256, scrambling the comparison pattern
# (measured cross-group mean Hamming ≈ 27/56): the fixture genuinely
# separates near-dups from non-dups.
_DHASH_SEL_CTES = """
    s AS (
        SELECT CAST(s_suppkey AS BIGINT) AS doc_id,
               s_suppkey // 3 AS g, s_suppkey % 3 AS d
        FROM supplier
    ),
    dims AS (SELECT doc_id, g, d, 16 + g % 5 AS h, 18 + g % 7 AS w FROM s),
    grid AS (
        SELECT doc_id, g, d, r.r, c.c,
               (r.r * h) // 8 AS sr, (c.c * w) // 8 AS sc
        FROM dims
        CROSS JOIN (SELECT unnest(range(8)) AS r) r
        CROSS JOIN (SELECT unnest(range(8)) AS c) c
    ),
    gray AS (
        SELECT doc_id, r, c,
               (  299 * (((sr * 13 + sc * 29 +  0) * (1 + 2 * (g % 13))
                          + g * 41 + d) % 256)
                + 587 * (((sr * 13 + sc * 29 + 17) * (1 + 2 * (g % 13))
                          + g * 41 + d) % 256)
                + 114 * (((sr * 13 + sc * 29 + 34) * (1 + 2 * (g % 13))
                          + g * 41 + d) % 256)
               ) // 1000 AS gy
        FROM grid
    ),
    bits AS (
        SELECT doc_id, r, c, gy,
               lead(gy) OVER (PARTITION BY doc_id, r ORDER BY c) AS nxt
        FROM gray
    ),
    hs AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN nxt > gy
                             THEN CAST(1 AS BIGINT) << (r * 7 + c)
                             ELSE 0 END) AS BIGINT) AS dhash
        FROM bits WHERE c < 7
        GROUP BY doc_id
    )
"""


def _dhash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 24-bit BMP payloads over supplier ids (REAL
    container encode — the decode path in image_dhash must parse it)."""
    import numpy as np
    import pandas as pd

    from burst_db_spark.operators.multimodal import encode_bmp

    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("doc_id")
    )

    def _make(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                g, d = i // 3, i % 3
                h, w = 16 + g % 5, 18 + g % 7
                r = np.arange(h).reshape(h, 1, 1)
                c = np.arange(w).reshape(1, w, 1)
                k = np.arange(3).reshape(1, 1, 3)
                img = (
                    ((r * 13 + c * 29 + k * 17) * (1 + 2 * (g % 13))
                     + g * 41 + d) % 256
                ).astype(np.uint8)
                rows.append({"doc_id": i, "payload": encode_bmp(img)})
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return supp.mapInPandas(_make, "doc_id long, payload binary")


@register(
    "mm_image_dhash",
    oracle=f"""
    WITH {_DHASH_SEL_CTES}
    SELECT doc_id, dhash FROM hs
    """,
    tags=("multimodal", "image", "phash", "real-decode", "llm-pipeline"),
)
def mm_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual difference-hash of real BMP payloads: deterministic
    RGB images ride an ACTUAL 24-bit BMP container, are decoded by the
    real pure-python codec, integer-luma grayscaled, floor-map sampled
    onto an 8x8 grid, and packed into a 56-bit dHash
    (operators/multimodal.image_dhash). The oracle recomputes every
    gray sample and comparison bit relationally — a hash match pins
    container encode, decode, luma, resample, and bit packing all at
    once."""
    from burst_db_spark.operators.multimodal import image_dhash

    return image_dhash(_dhash_media(spark, sf_dir))


@register(
    "mm_image_neardup_pairs",
    oracle=f"""
    WITH {_DHASH_SEL_CTES}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
    FROM hs a JOIN hs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    """,
    tags=("multimodal", "image", "near-dup", "hamming", "llm-pipeline"),
)
def mm_image_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs at Hamming distance <= 3 over the
    56-bit dHash, found by the PIGEONHOLE band join (4 disjoint 14-bit
    bands; a pair within distance 3 must agree on >= 1 band — 100%
    recall by construction, no LSH probability), verified by exact
    popcount (operators/multimodal.dhash_neardup_pairs). The oracle is
    the quadratic definition — the green hash row proves the banded
    candidate set is LOSSLESS, the same audit pattern as
    dd_jaccard_prefix_join."""
    from burst_db_spark.operators.multimodal import (
        dhash_neardup_pairs,
        image_dhash,
    )

    return dhash_neardup_pairs(
        image_dhash(_dhash_media(spark, sf_dir)), max_hamming=3
    )

# ---------------------------------------------------------------------------
# MM: audio fingerprint near-dup — the 1-D analog of the image dHash,
# sharing dhash_neardup_pairs for pairing (one Hamming join, every
# modality). Deterministic PCM16 fixture per supplier id i (g = i//3,
# d = i%3): sample(t) =
# ((t*(3 + g%11) + (t*t)//(7 + g%13) + g*97) % 4001) - 2000, plus
# a +d perturbation confined to the LAST energy window — so docs in a
# group differ in at most the final comparison bit (Hamming <= 1) while
# different groups have scrambled energy profiles.

_AU_WIN = 32
_AU_NWIN = 57
_AU_N = _AU_WIN * _AU_NWIN  # 1824 samples
_AU_TAIL = _AU_N - _AU_WIN  # perturbation start


_AUDIO_HS_CTES = f"""
    s AS (
        SELECT CAST(s_suppkey AS BIGINT) AS doc_id,
               s_suppkey // 3 AS g, s_suppkey % 3 AS d
        FROM supplier
    ),
    e AS (
        SELECT doc_id,
               list_transform(range(0, {_AU_NWIN}), W ->
                   list_sum(list_transform(range(0, {_AU_WIN}), j ->
                       abs((((W * {_AU_WIN} + j) * (3 + g % 11)
                             + ((W * {_AU_WIN} + j) * (W * {_AU_WIN} + j))
                               // (7 + g % 13)
                             + g * 97)
                            % 4001) - 2000
                           + CASE WHEN W * {_AU_WIN} + j >= {_AU_TAIL}
                                  THEN d ELSE 0 END)))) AS en
        FROM s
    ),
    hs AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, {_AU_NWIN - 1}), W ->
                   CASE WHEN en[W + 2] > en[W + 1]
                        THEN CAST(1 AS BIGINT) << W
                        ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS dhash
        FROM e
    )
"""


def _audio_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PCM16 WAV payloads over supplier ids (REAL wave
    container encode — audio_energy_hash must parse it back)."""
    import numpy as np
    import pandas as pd

    from burst_db_spark.operators.multimodal import encode_wav_pcm16

    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("doc_id")
    )

    def _make(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                g, d = i // 3, i % 3
                t = np.arange(_AU_N, dtype=np.int64)
                x = (
                    (t * (3 + g % 11) + (t * t) // (7 + g % 13) + g * 97)
                    % 4001
                ) - 2000
                x = x + np.where(t >= _AU_TAIL, d, 0)
                rows.append(
                    {"doc_id": i, "payload": encode_wav_pcm16([int(v) for v in x])}
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload"])

    return supp.mapInPandas(_make, "doc_id long, payload binary")


@register(
    "mm_audio_fingerprint",
    oracle=f"""
    WITH {_AUDIO_HS_CTES}
    SELECT doc_id, dhash FROM hs
    """,
    tags=("multimodal", "audio", "fingerprint", "real-decode",
          "llm-pipeline"),
)
def mm_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """56-bit audio energy-profile fingerprint of real PCM16 WAV
    payloads (operators/multimodal.audio_energy_hash): container
    encode → stdlib wave decode → 57-window |amplitude| energy profile
    → adjacent-window comparison bits. The oracle replays every sample,
    energy, and comparison relationally — a hash match pins the whole
    audio path end to end."""
    from burst_db_spark.operators.multimodal import audio_energy_hash

    return audio_energy_hash(_audio_media(spark, sf_dir))


@register(
    "mm_audio_neardup_pairs",
    oracle=f"""
    WITH {_AUDIO_HS_CTES}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
    FROM hs a JOIN hs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    """,
    tags=("multimodal", "audio", "near-dup", "hamming", "llm-pipeline"),
)
def mm_audio_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicates at Hamming <= 3 over the energy-profile
    fingerprint, via the SAME pigeonhole band join that serves images
    (operators/multimodal.dhash_neardup_pairs — one exact Hamming-join
    operator across modalities). Oracle is the quadratic definition, so
    a green row proves the banding lossless on the audio hashes too."""
    from burst_db_spark.operators.multimodal import (
        audio_energy_hash,
        dhash_neardup_pairs,
    )

    return dhash_neardup_pairs(
        audio_energy_hash(_audio_media(spark, sf_dir)), max_hamming=3
    )


# ---------------------------------------------------------------------------
# T: vocabulary coverage / OOV rate — the tokenizer-pipeline diagnostic
# that decides whether a fixed vocabulary is adequate per source.

_VOCAB_SIZE = 256


@register(
    "t_vocab_coverage",
    oracle=rf"""
    WITH toks AS (
        SELECT source,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents
    ),
    cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    vocab AS (SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT {_VOCAB_SIZE}),
    st AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN c ELSE 0 END) AS BIGINT)
               AS oov_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN c ELSE 0 END) AS DOUBLE)
               / CAST(sum(c) AS DOUBLE) AS oov_rate
    FROM st LEFT JOIN vocab v ON st.tok = v.tok
    GROUP BY source
    """,
    tags=("text", "tokenizer", "vocabulary", "llm-pipeline"),
)
def t_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-256 frequency vocabulary (count desc, token asc — a TOTAL
    order, so the rank-boundary tie is deterministic cross-engine) and
    the per-source OOV rate against it. Scale shape: token counts get
    map-side partial aggregation; the vocabulary is a TakeOrdered
    (per-partition top-k, merge — never a global sort); the per-source
    pass aggregates (source, token) first, then joins the BROADCAST
    vocabulary, so the corpus shuffles only on its natural group keys.
    At 100 TB the same plan holds with vocab size in the millions —
    still executor-memory-sized for the broadcast."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tx.tokens(F.col("text"))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(_VOCAB_SIZE)
        .select("tok")
    )
    st = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    iv = F.when(F.col("__v").isNull(), F.col("c")).otherwise(F.lit(0))
    return (
        st.join(
            F.broadcast(vocab.withColumn("__v", F.lit(1))), "tok", "left"
        )
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(iv).alias("oov_tokens"),
        )
        .select(
            "source",
            "n_tokens",
            "oov_tokens",
            (
                F.col("oov_tokens").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("oov_rate"),
        )
    )

# ---------------------------------------------------------------------------
# A40: join-key skew audit — the pre-join diagnostic a 100 TB pipeline
# runs before choosing partitioning/salting for a shuffle key.


@register(
    "a40_key_skew_report",
    oracle="""
    WITH per_key AS (
        SELECT 'user_id' AS key_name, CAST(user_id AS VARCHAR) AS k,
               count(*) AS c
        FROM events GROUP BY user_id
        UNION ALL
        SELECT 'event_type' AS key_name, event_type AS k, count(*) AS c
        FROM events GROUP BY event_type
    )
    SELECT key_name,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_freq,
           CAST(min(c) AS BIGINT) AS min_freq,
           CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top1_share,
           CAST(max(c) AS DOUBLE) * CAST(count(*) AS DOUBLE)
               / CAST(sum(c) AS DOUBLE) AS skew_ratio
    FROM per_key
    GROUP BY key_name
    """,
    tags=("A", "skew", "diagnostics", "llm-pipeline"),
)
def a40_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew report for candidate join/partition keys
    (user_id, event_type) in one scan: per-key frequencies via a
    2-entry key-name explode, then max/min/top-share/skew-ratio
    (max over mean frequency — >1 flags hot keys; the number that
    decides between plain hash partitioning, AQE skew-join, and
    explicit salting in operators/skew.py). Integer counts + one
    division, so the report is bit-portable. Scale shape: both
    aggregations get map-side partials; no sort, no window."""
    ev = load(spark, sf_dir, "events")
    kv = ev.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("user_id").alias("key_name"),
                    F.col("user_id").cast("string").alias("k"),
                ),
                F.struct(
                    F.lit("event_type").alias("key_name"),
                    F.col("event_type").alias("k"),
                ),
            )
        ).alias("e")
    ).select("e.key_name", "e.k")
    per_key = kv.groupBy("key_name", "k").agg(F.count("*").alias("c"))
    return per_key.groupBy("key_name").agg(
        F.sum("c").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("c").alias("max_freq"),
        F.min("c").alias("min_freq"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top1_share"
        ),
        (
            F.max("c").cast("double")
            * F.count("*").cast("double")
            / F.sum("c").cast("double")
        ).alias("skew_ratio"),
    )


# ---------------------------------------------------------------------------
# K8: small-file compaction planner — per-partition bin packing of a
# file inventory into target-size compaction groups.

_COMPACT_TARGET = 40_000  # bytes per compaction bin (sf-sized demo)


@register(
    "k8_compaction_plan",
    oracle=f"""
    WITH files AS (
        SELECT source, lang,
               CAST(sum(length(text)) AS BIGINT) AS size_bytes
        FROM documents GROUP BY source, lang
    ),
    planned AS (
        SELECT source, lang, size_bytes,
               sum(size_bytes) OVER (
                   PARTITION BY source
                   ORDER BY size_bytes DESC, lang
                   ROWS UNBOUNDED PRECEDING
               ) - size_bytes AS cum_before
        FROM files
    )
    SELECT source, lang, size_bytes,
           CAST(cum_before // {_COMPACT_TARGET} AS INTEGER) AS bin
    FROM planned
    """,
    tags=("K", "compaction", "maintenance", "llm-pipeline"),
)
def k8_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (the OPTIMIZE-style maintenance
    pass a 100 TB table needs continuously): the file inventory — here
    one 'file' per (source, lang) with its byte size — is packed into
    target-size bins PER PARTITION COLUMN (source), cutting a new bin
    whenever the size-desc running total crosses a multiple of the
    target. The window partitions on source, so planning parallelizes
    across table partitions and never needs a global sort; inventory
    rows are metadata-sized (files, not records) by construction."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    files = docs.groupBy("source", "lang").agg(
        F.sum(F.length("text")).alias("size_bytes")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("size_bytes"), "lang")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return files.select(
        "source",
        "lang",
        "size_bytes",
        (F.sum("size_bytes").over(w) - F.col("size_bytes")).alias(
            "__cum_before"
        ),
    ).select(
        "source",
        "lang",
        "size_bytes",
        # integer div, not double division: exact past 2^53 (inventory
        # byte totals at 100 TB overflow double precision)
        F.expr(f"__cum_before div {_COMPACT_TARGET}").cast("int").alias("bin"),
    )

# ---------------------------------------------------------------------------
# MM: zero-copy Arrow kernel (mapInArrow) — completes the python-UDF
# surface matrix (pandas_udf / mapInPandas / applyInPandas /
# applyInPandasWithState / UDTF / python DataSource / mapInArrow).


@register(
    "mm_blob_byte_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_bytes,
           CAST(coalesce(list_sum(list_transform(
                    range(1, length(text) + 1), i -> ascii(text[i]))), 0)
                AS BIGINT) AS byte_sum
    FROM documents
    """,
    tags=("multimodal", "arrow", "zero-copy", "llm-pipeline"),
)
def mm_blob_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob inventory stats through the zero-copy Arrow path
    (operators/multimodal.blob_byte_stats): UTF-8 payloads of the
    documents table, per-blob byte count + byte sum computed directly
    on the Arrow buffers inside mapInArrow — no pandas conversion, no
    per-row python. The oracle recomputes both from the characters
    (the corpus is ASCII, so codepoint == byte — asserted by the
    n_bytes == length(text) column itself: any non-ASCII row would
    hash-mismatch)."""
    from burst_db_spark.operators import multimodal as mm

    docs = load(spark, sf_dir, "documents")
    media = mm.attach_binary_payload(docs, "doc_id")
    return mm.blob_byte_stats(media)

# ---------------------------------------------------------------------------
# W19: session Markov transition matrix — event-type bigram counts
# within gap-sessions, with per-state row-normalized probabilities.

_W19_GAP_S = 1800  # 30-min session gap, the w2_sessionize convention


@register(
    "w19_event_transitions",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > {_W19_GAP_S}
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, event_id, ts, event_type,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS session_id
        FROM e
    ),
    bi AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id, session_id ORDER BY ts, event_id
               ) AS to_type
        FROM s
    ),
    cnt AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM bi WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) / CAST(sum(n) OVER (
               PARTITION BY from_type) AS DOUBLE) AS p
    FROM cnt
    """,
    tags=("W", "sessionize", "markov", "product-analytics"),
)
def w19_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session event-type transition matrix (the Markov-chain
    view of user journeys): 30-min gap sessionization, consecutive-pair
    extraction via lead() inside each session, bigram counts, and
    row-normalized transition probabilities. ONE hash exchange on
    user_id serves the gap window, the session cumsum, AND the lead
    (same partitioning), then a small (|types|²-bounded) aggregate.
    Every window orders by the TOTAL (ts, event_id) order — a
    non-unique tie-break would make the session cumsum and the bigram
    extraction order-dependent across engines. The tiny per-state normalization
    rides a window over the |types|²-row count table — nothing
    corpus-sized shuffles twice."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_s = (
        F.when(
            F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
            > _W19_GAP_S,
            1,
        )
        .otherwise(0)
        + F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0)
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = ev.select(
        "user_id", "event_id", "ts", "event_type", new_s.alias("__ns")
    ).withColumn("session_id", F.sum("__ns").over(ws))
    wl = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    bi = sess.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(wl).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = bi.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wn = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wn).cast("double")).alias(
            "p"
        ),
    )


# ---------------------------------------------------------------------------
# J19: join-cardinality pre-estimate — size a join EXACTLY from per-key
# count tables without materializing a single joined row.


@register(
    "j19_join_cardinality_estimate",
    oracle="""
    WITH ca AS (SELECT o_custkey AS k, count(*) AS c FROM orders
                GROUP BY o_custkey),
    cb AS (SELECT c_custkey AS k, count(*) AS c FROM customer
           WHERE c_acctbal > 0 GROUP BY c_custkey)
    SELECT CAST(sum(ca.c * cb.c) AS BIGINT) AS join_rows,
           CAST(count(*) AS BIGINT) AS shared_keys,
           CAST(max(ca.c * cb.c) AS BIGINT) AS max_key_rows,
           CAST(max(ca.c * cb.c) AS DOUBLE) * CAST(count(*) AS DOUBLE)
               / CAST(sum(ca.c * cb.c) AS DOUBLE) AS output_skew_ratio
    FROM ca JOIN cb ON ca.k = cb.k
    """,
    tags=("J", "cardinality", "planning", "diagnostics"),
)
def j19_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT join-output cardinality without running the join:
    |A ⋈ B| = Σ_k cA(k)·cB(k) over shared keys, from the two per-key
    count tables — at 100 TB this turns a 'will this join explode?'
    question into two partial-aggregated count scans plus a key-domain-
    sized join, and the max-key/skew columns say whether the REAL join
    needs salting before anyone pays for it. Demonstrated on
    orders ⋈ positive-balance customers."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    ca = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count("*").alias("ca")
    )
    cb = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count("*").alias("cb")
    )
    per_key = ca.join(cb, "k").select(
        (F.col("ca") * F.col("cb")).alias("kr")
    )
    return per_key.agg(
        F.sum("kr").alias("join_rows"),
        F.count("*").alias("shared_keys"),
        F.max("kr").alias("max_key_rows"),
        (
            F.max("kr").cast("double")
            * F.count("*").cast("double")
            / F.sum("kr").cast("double")
        ).alias("output_skew_ratio"),
    )

# ---------------------------------------------------------------------------
# F: SQL pipe syntax (Spark 4.0+ `|>` operators) — surface parity for
# the newest SQL composition form; same decimal-sum idiom as q5 so the
# revenue double is bit-identical cross-engine.


@register(
    "f_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                              AS DECIMAL(18, 6))) AS DECIMAL(28, 6))
                AS DOUBLE) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
    tags=("F", "sql-surface", "pipe-syntax", "spark4"),
)
def f_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (`FROM ... |> WHERE |> EXTEND |> AGGREGATE |>
    ORDER BY`, Spark 4.0's linear query composition): revenue by return
    flag over date-filtered lineitem. Parses to the SAME logical plan
    as the nested-SQL oracle (filter pushed to the scan, partial+final
    aggregate), so this row pins that the new surface is plan-neutral,
    not just syntax sugar. Decimal-accumulated revenue keeps the double
    bit-identical across engines (the q5 idiom)."""
    return spark.sql("""
        FROM {lineitem}
        |> WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |> EXTEND CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18, 6)) AS rev
        |> AGGREGATE CAST(CAST(SUM(rev) AS DECIMAL(28, 6)) AS DOUBLE)
                         AS revenue,
                     CAST(COUNT(*) AS BIGINT) AS n_lines
           GROUP BY l_returnflag
        |> SELECT l_returnflag, revenue, n_lines
    """, lineitem=load(spark, sf_dir, "lineitem"))

# ---------------------------------------------------------------------------
# DD: winnow overlap pairs -> duplicate clusters (the MOSS pipeline
# completed: fingerprint -> overlap -> connected components).

from burst_db_spark.operators import dedup as dd  # noqa: E402


@register(
    "dd_winnow_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_WINNOW_SEL_CTES},
    fps AS (SELECT DISTINCT doc_id, substr(wkey, 1, 15) AS fp FROM sel),
    guard AS (
        SELECT * FROM fps WHERE fp IN (
            SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50)
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM guard a JOIN guard b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 10
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
    """,
    tags=("dedup", "winnowing", "clustering", "connected-components",
          "llm-pipeline"),
)
def dd_winnow_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete MOSS dedup pipeline as one plan: winnowed
    fingerprints → guarded overlap pairs (shared ≥ 10) → connected
    components → every document labeled with its cluster's min doc_id.
    Spark side: the same min-label machinery as dd_dedup_clusters
    (union-find under the small-graph gate, distributed label
    propagation above it); oracle: recursive-CTE transitive closure
    over the identical pair graph."""
    docs = load(spark, sf_dir, "documents")
    pairs = tx.winnow_overlap_pairs(
        fan_out(docs, "doc_id"), "doc_id", k=_K, w=_W, min_shared=10, max_df=50
    ).select("id_a", "id_b")
    return dd.connected_components(pairs, docs, "doc_id")

# ---------------------------------------------------------------------------
# DD: SimHash near-dup pairs — the 32-bit text fingerprint paired by
# the SAME pigeonhole band join (4x8-bit bands; exact for Hamming <= 3).

from burst_db_spark.queries.textops import _TOKS  # noqa: E402

_SIMHASH_HS_CTES = f"""
    toks0 AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    toks AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS tok
        FROM toks0
    ),
    th AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('0:' || tok), 1, 8)) AS BIGINT) AS th
        FROM toks
    ),
    votes AS (
        SELECT doc_id, b.bit,
               CAST(sum((th >> b.bit) & 1) AS BIGINT) AS ones,
               CAST(count(*) AS BIGINT) AS n
        FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS bit) b
        GROUP BY doc_id, b.bit
    ),
    hs AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN ones * 2 > n
                             THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS dhash
        FROM votes GROUP BY doc_id
    )
"""


@register(
    "dd_simhash_neardup",
    oracle=f"""
    WITH {_SIMHASH_HS_CTES}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
    FROM hs a JOIN hs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    """,
    tags=("dedup", "simhash", "hamming", "llm-pipeline"),
)
def dd_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs at Hamming <= 3, paired by the SAME
    pigeonhole band join that serves image dHash and audio fingerprints
    (multimodal.dhash_neardup_pairs with 4 disjoint 8-bit bands over the
    32-bit simhash — a pair within distance 3 must agree on >= 1 band,
    100% recall by construction). One operator now serves Hamming-
    threshold pairing for text, image, and audio fingerprints.

    Votes come from word SHINGLES, not unigrams: this corpus draws from
    a small shared vocabulary, so unigram simhashes saturate (measured
    mean pairwise distance 6.7/32 — 2M pairs under 3 at sf0.1), while
    shingle features decorrelate (mean 15.9 ≈ random; 242 true pairs).
    Oracle is the quadratic definition over the identical simhash
    values, so a green row proves the banding lossless here too."""
    from burst_db_spark.operators.multimodal import dhash_neardup_pairs

    docs = load(spark, sf_dir, "documents")
    hashes = dd.simhash_fingerprints(
        docs, "doc_id", features=tx.shingles(F.col("text"))
    ).select("doc_id", F.col("simhash").cast("bigint").alias("dhash"))
    return dhash_neardup_pairs(hashes, max_hamming=3, n_bands=4, band_bits=8)
