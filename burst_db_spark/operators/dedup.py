"""Deduplication operators for training-data pipelines (SURVEY.md §7.2
step 11): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
- exact dedup = hash-groupBy (one shuffle on the 32-hex digest);
- n-gram Jaccard = the EXACT baseline — shingle explode + self-equi-join
  on shingle; quadratic in the worst case, use at audit scale;
- MinHash+LSH = the 100 TB path: K min-hashes per doc (one shuffle),
  banded LSH buckets (B small self-joins on band keys), verify on the
  signature only — never a full cross join;
- all hash functions are md5-derived so a DuckDB oracle reproduces them
  bit-for-bit (no engine-private hash()).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from burst_db_spark.operators.text import shingles, tokens
from burst_db_spark.runner import checkpoint, persist, release
from burst_db_spark.session import broadcastable, fan_out

NUM_HASHES = 16
BAND_ROWS = 4  # 16 hashes → 4 bands of 4


def _md5_hash32(value: Column, seed: int) -> Column:
    """Portable 32-bit hash: first 8 hex digits of md5(seed ':' value)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), value)), 1, 8), 16, 10
    ).cast("bigint")


def _md5_hash32_sliced(value: Column, hash_idx: int) -> Column:
    """Hash #hash_idx out of a family built by SLICING md5 digests:
    md5 is 128 bits = four 32-bit hashes, so K hashes cost K/4 md5
    evaluations (seed = idx // 4, hex slice = idx % 4). Oracle-portable:
    DuckDB computes the identical substr(md5(...)) slices."""
    seed, slice_idx = divmod(hash_idx, 4)
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), value)), 1 + 8 * slice_idx, 8
        ),
        16,
        10,
    ).cast("bigint")


def exact_duplicates(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact dedup via content digest: one row per distinct text with the
    surviving (min) id and the duplicate count."""
    digest = F.md5(F.lower(F.trim(F.col(text_col))))
    return (
        df.select(F.col(id_col), digest.alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
    )


def doc_shingles(df: DataFrame, id_col: str, text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingle) long form — distinct n-gram shingles per doc.

    MAP-ONLY construction: n shifted ``slice``s of the token array are
    ``zip_with``-concatenated (the split evaluates n times per ROW, not
    per element — array_index expressions re-inline the split per
    element, measured 6× slower), ``array_distinct`` dedups inside the
    document, and the explode emits already-distinct (id, shingle) rows.
    No window, no sort, no global ``distinct`` — the only exchange is a
    round-robin repartition of the compact doc rows so a single-file
    scan still fans out across all cores. (The earlier posexplode +
    window-lead formulation paid a doc-id shuffle + sort + a global
    distinct shuffle for the same output.)
    """
    t = tokens(F.col(text_col))
    sz = F.size(t)
    n_grams = sz - (n - 1)
    parts = [F.slice(t, j + 1, n_grams) for j in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat_ws(" ", a, b))
    arr = F.when(sz >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )
    return fan_out(df).select(F.col(id_col), F.explode(arr).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard via shingle self-join.

    jaccard(a,b) = |Sa ∩ Sb| / (|Sa| + |Sb| - |Sa ∩ Sb|); only pairs
    sharing ≥1 shingle are ever materialized (never a cross join).

    ``max_df``: the 100 TB guard — shingles appearing in more than
    ``max_df`` documents are excluded from CANDIDATE GENERATION (a hot
    shingle shared by k docs emits k² pairs; stop-shingles dominate the
    join). The intersection count is then computed over the pruned
    shingle set on both sides, so jaccard stays exact w.r.t. the pruned
    vocabulary — the standard near-dup trade-off; leave None for the
    exact-vocabulary baseline at audit scale.

    ``shingles``: optional precomputed :func:`doc_shingles` frame (see
    :func:`minhash_signatures`) — shares the tokenize+shingle pass with
    other consumers of the same corpus; identical values either way.
    """
    sh = shingles if shingles is not None else doc_shingles(
        df, id_col, text_col, n
    )
    if max_df is not None:
        # document frequency via a count window: ONE shuffle on shingle
        # (vs aggregate + join back = two), and the partitioning it
        # leaves behind is exactly what the self-equi-join needs next
        from pyspark.sql import Window

        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count("*").over(w))
            .where(F.col("__df") <= max_df)
            .drop("__df")
        )
    sh = persist(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    out = out.select("id_a", "id_b", "common", "jaccard")
    return out


def prefix_doc_sets(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The persisted doc frame the prefix-filtered joins
    (:func:`jaccard_prefix_pairs`, :func:`jaccard_ppjoin_pairs`,
    :func:`containment_prefix_pairs`) join on: ``(id_col, n_sh, toks,
    prefix)`` with each doc's distinct shingles in global rarity order
    (ascending document frequency, ties broken by the shingle string so
    every engine and executor agrees on one total order) and its prefix
    of ``n_sh - ceil(threshold * n_sh) + 1`` shingles.

    Document frequency comes from a count window: one shuffle on
    shingle, which beats aggregate + join-back (two shuffles). The frame
    is persisted: three or four plan subtrees hang off it (the prefix
    explodes and the verify sides), and in a cold session ReusedExchange
    does NOT reliably dedupe them across the AQE stage boundaries
    (measured: 2.9 s with persist vs 5.1 s without in bench context at
    sf0.1). Doc-count-sized metadata rows."""
    from pyspark.sql import Window

    sh = doc_shingles(df, id_col, text_col, n)
    w = Window.partitionBy("shingle")
    ranked = sh.withColumn("__df", F.count("*").over(w))
    return persist(
        ranked.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("shingle")))
            ).alias("__ordered"),
            F.count("*").alias("n_sh"),
        )
        .select(
            F.col(id_col),
            F.col("n_sh"),
            F.transform("__ordered", lambda s: s["shingle"]).alias("toks"),
        )
        .withColumn(
            "prefix",
            F.slice(
                "toks",
                1,
                (
                    F.col("n_sh")
                    - F.ceil(F.lit(threshold) * F.col("n_sh")).cast("int")
                    + 1
                ),
            ),
        )
    )


def _jaccard_verify(
    cand: DataFrame, docs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard of each candidate ``(id_a, id_b)`` from the full
    sorted sets in ``docs`` (a :func:`prefix_doc_sets` frame): two
    id-equi-joins and an ``array_intersect``, pairs kept at ``>=
    threshold``."""
    fa = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("n_sh").alias("n_a"),
        F.col("toks").alias("toks_a"),
    )
    fb = docs.select(
        F.col(id_col).alias("id_b"),
        F.col("n_sh").alias("n_b"),
        F.col("toks").alias("toks_b"),
    )
    common = F.size(F.array_intersect("toks_a", "toks_b")).cast("bigint")
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .withColumn("common", common)
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "n_a", "n_b", "jaccard")
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (AllPairs /
    PPJoin family, Bayardo et al. WWW'07) — same output as the quadratic
    ``ngram_jaccard_pairs`` baseline, but candidate generation touches
    only each document's PREFIX of globally-rare shingles.

    Order every doc's shingle set by ascending global document
    frequency (rarest first; ties broken by the shingle string so both
    engines and every executor agree on one total order). A pair with
    jaccard ≥ τ must share at least one shingle among each side's first
    ``|S| - ceil(τ·|S|) + 1`` shingles in that order — so the self-join
    runs on the exploded PREFIX only, and the hot stop-shingles that
    make the naive shingle join quadratic sit at the END of the order
    where they are almost never part of a prefix. LOSSLESS: recall is
    100% by the prefix-filter theorem, unlike MinHash/LSH.

    Scale plan: one shuffle on shingle for document frequency (count
    window), one doc-id shuffle to assemble the sorted arrays, the
    candidate equi-join on prefix shingles, and two id-equi-joins to
    verify with ``array_intersect`` on the full sorted sets. Never a
    cross join; candidate volume is bounded by prefix-token bucket
    occupancy, not vocabulary df.
    """
    docs = prefix_doc_sets(df, id_col, text_col, n, threshold)
    a = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("n_sh").alias("__na"),
        F.explode("prefix").alias("ptok"),
    )
    b = docs.select(
        F.col(id_col).alias("id_b"),
        F.col("n_sh").alias("__nb"),
        F.explode("prefix").alias("ptok"),
    )
    # length filter (AllPairs): jaccard ≥ τ forces τ·|A| ≤ |B| ≤ |A|/τ,
    # so size-mismatched pairs die inside the candidate join
    cand = (
        a.join(
            b,
            (a.ptok == b.ptok)
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("__nb") >= F.lit(threshold) * F.col("__na"))
            & (F.col("__na") >= F.lit(threshold) * F.col("__nb")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_verify(cand, docs, id_col, threshold)


def jaccard_ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard join with the full PPJoin POSITIONAL filter (Xiao
    et al. WWW'08) on top of :func:`jaccard_prefix_pairs`' prefix +
    length filters — same lossless output, strictly fewer candidates
    reaching the verify join.

    For a shared prefix token at (1-indexed) positions i in A's order
    and j in B's order, the overlap is bounded by
    ``shared_so_far + min(|A| - i, |B| - j)``; a pair with jaccard >= t
    needs overlap >= t/(1+t) * (|A| + |B|). Both the FIRST shared token
    (shared_so_far = 1) and the LAST shared prefix token
    (shared_so_far = count of shared prefix tokens) yield valid bounds;
    candidates failing either die BEFORE the array_intersect verify.
    All bound arithmetic is exact integers + one fixed-form double
    compare — deterministic on any engine.

    Scale shape: identical to the prefix join (df window, doc-id
    assembly, prefix equi-join, verify equi-joins) plus one groupBy on
    the candidate pair — which REPLACES the prefix join's distinct(), so
    the positional filter costs no extra shuffle.
    """
    docs = prefix_doc_sets(df, id_col, text_col, n, threshold)
    a = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("n_sh").alias("__na"),
        F.posexplode("prefix").alias("__ia", "ptok"),
    ).withColumn("__ia", F.col("__ia") + 1)
    b = docs.select(
        F.col(id_col).alias("id_b"),
        F.col("n_sh").alias("__nb"),
        F.posexplode("prefix").alias("__ib", "ptok"),
    ).withColumn("__ib", F.col("__ib") + 1)
    matches = a.join(
        b,
        (a.ptok == b.ptok)
        & (F.col("id_a") < F.col("id_b"))
        & (F.col("__nb") >= F.lit(threshold) * F.col("__na"))
        & (F.col("__na") >= F.lit(threshold) * F.col("__nb")),
    ).select("id_a", "id_b", "__na", "__nb", "__ia", "__ib")
    # one groupBy replaces the prefix join's distinct(): the first- and
    # last-shared-token positional bounds come from min/max position
    # pairs (the global token order is shared, so argmin of __ia is
    # argmin of __ib)
    rem = F.least(
        F.col("__na") - F.min("__ia"), F.col("__nb") - F.min("__ib")
    )
    rem_last = F.least(
        F.col("__na") - F.max("__ia"), F.col("__nb") - F.max("__ib")
    )
    cand = (
        matches.groupBy("id_a", "id_b", "__na", "__nb")
        .agg(
            (F.lit(1) + rem).alias("__ub_first"),
            (F.count("*") + rem_last).alias("__ub_last"),
        )
        .where(
            # overlap >= t/(1+t)*(na+nb), cross-multiplied so the compare
            # is exact for binary-representable thresholds (0.5 default:
            # both products are exact doubles — no rounding can prune a
            # boundary pair)
            F.least("__ub_first", "__ub_last").cast("double")
            * F.lit(1.0 + threshold)
            >= F.lit(threshold)
            * (F.col("__na") + F.col("__nb")).cast("double")
        )
        .select("id_a", "id_b")
    )
    return _jaccard_verify(cand, docs, id_col, threshold)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
    n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """K md5-derived min-hashes per document (wide: h0..h{K-1}).

    One explode + one groupBy — the shuffle moves (id, K longs) only.

    ``shingles``: optional precomputed :func:`doc_shingles` frame (same
    ``(id, shingle)`` relation) — callers running several shingle
    consumers over one corpus pass a persisted frame so the
    tokenize+shingle pass runs once (guide §2.3: don't recompute what
    two branches share). Values are identical either way.
    """
    sh = shingles if shingles is not None else doc_shingles(
        df, id_col, text_col, n
    )
    # Project the md5 digests ONCE per shingle before aggregating: the min
    # aggregates then slice cheap substrings of the digest columns, which
    # guarantees K/4 md5 evaluations per shingle regardless of whether the
    # aggregate codegen eliminates common subexpressions.
    n_md5 = (num_hashes + 3) // 4
    dig = sh.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle"))).alias(f"d{s}")
            for s in range(n_md5)
        ],
    )
    aggs = []
    for j in range(num_hashes):
        seed, slice_idx = divmod(j, 4)
        aggs.append(
            F.min(
                F.conv(
                    F.substring(F.col(f"d{seed}"), 1 + 8 * slice_idx, 8), 16, 10
                ).cast("bigint")
            ).alias(f"h{j}")
        )
    return dig.groupBy(id_col).agg(*aggs)


def lsh_band_frame(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """Long-form LSH bands — one (id, band_idx, band_key) row per band —
    from a wide signature frame. One frame serves any banded join: the
    self-join of ``lsh_candidate_pairs`` or the cross-snapshot probe of
    the incremental dedup (new bands ⋈ stored old bands)."""
    n_bands = num_hashes // band_rows
    band_keys = [
        "md5(concat_ws(','"
        + "".join(f", CAST(h{b * band_rows + r} AS STRING)" for r in range(band_rows))
        + f")) AS band_key_{b}"
        for b in range(n_bands)
    ]
    stack_args = ", ".join(f"{b}, band_key_{b}" for b in range(n_bands))
    return sigs.selectExpr(id_col, *band_keys).selectExpr(
        id_col, f"stack({n_bands}, {stack_args}) AS (band_idx, band_key)"
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair.

    Long-form bands (one row per (doc, band_idx)) so ONE self-equi-join on
    (band_idx, band_key) covers all bands — instead of n_bands separate
    joins each recomputing the signature subtree.
    """
    bands = lsh_band_frame(sigs, id_col, num_hashes, band_rows)
    l, r = bands.alias("l"), bands.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with estimated similarity
    (fraction of agreeing min-hashes) ≥ threshold.

    Signatures are persisted: they feed the band join AND both sides of
    the verify join — without it Spark recomputes the shingle+md5 subtree
    per consumer. At 100 TB you'd write them to Parquet instead.

    ``shingles``: optional precomputed :func:`doc_shingles` frame (see
    :func:`minhash_signatures`) — shares the tokenize+shingle pass with
    other consumers of the same corpus; identical values either way.
    """
    sigs = persist(minhash_signatures(
        df, id_col, text_col, num_hashes, shingles=shingles
    ))
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, band_rows)
    # verify on the signature packed as ONE array column per side: the
    # joined row stays narrow and the agreement count is a single
    # zip_with fold instead of 2·K column accessors
    sig_arr = F.array(*[F.col(f"h{j}") for j in range(num_hashes)])
    sa = sigs.select(F.col(id_col).alias("id_a"), sig_arr.alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), sig_arr.alias("sig_b"))
    agree = F.aggregate(
        F.zip_with(
            F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_sim", agree / F.lit(float(num_hashes)))
        .where(F.col("est_sim") >= threshold)
        .select("id_a", "id_b", "est_sim")
    )


def shingle_digests(
    shingles_col: Column,
    num_hashes: int = NUM_HASHES,
) -> Column:
    """Per-shingle md5 digest arrays as ONE row-local column
    (array<array<string>>: element i = the seeds' digests of shingle i)
    — the hot half of the row-local MinHash. Project THIS into a real
    column first, then derive the signature with
    :func:`minhash_from_digests`: the 16 min-hashes are cheap substring
    slices of these digests, and materializing them once keeps md5 at
    K/4 evaluations per shingle (inlining the digest subtree into each
    of the 16 mins re-evaluates md5 4x over — measured 5x slower at
    sf0.1)."""
    n_md5 = (num_hashes + 3) // 4
    return F.transform(
        shingles_col,
        lambda s: F.array(
            *[F.md5(F.concat(F.lit(f"{k}:"), s)) for k in range(n_md5)]
        ),
    )


def minhash_from_digests(
    digs_col: Column,
    num_hashes: int = NUM_HASHES,
) -> Column:
    """Row-local MinHash signature (array<bigint>) from a MATERIALIZED
    :func:`shingle_digests` column — values identical to
    :func:`minhash_signatures`."""

    def _min_fn(seed: int, slice_idx: int):
        def fn(a: Column) -> Column:
            return F.conv(
                F.substring(
                    F.element_at(a, seed + 1), 1 + 8 * slice_idx, 8
                ),
                16,
                10,
            ).cast("bigint")

        return fn

    sigs = []
    for j in range(num_hashes):
        seed, slice_idx = divmod(j, 4)
        sigs.append(
            F.array_min(F.transform(digs_col, _min_fn(seed, slice_idx)))
        )
    return F.array(*sigs)


def row_local_minhash(
    shingles_col: Column,
    num_hashes: int = NUM_HASHES,
) -> Column:
    """The MinHash signature as ONE ROW-LOCAL array<bigint> expression —
    ``array_min`` over the doc's shingle array per hash — with values
    IDENTICAL to :func:`minhash_signatures` (same md5 seed family, same
    digest slices; min over the same multiset). The batch path keeps its
    explode+groupBy form (map-side partial agg, digest projected once
    per shingle); this form exists for STREAMING ingest, where a per-doc
    signature must be computable without a stateful aggregation — a doc
    with no shingles yields NULLs (callers filter ``size(shingles) > 0``
    to mirror the batch path, which emits no row for such docs).

    HOT-PATH NOTE: as one expression the digest subtree inlines into
    each of the K mins (md5 re-evaluated 4x over; measured 5x slower at
    sf0.1) — production callers project :func:`shingle_digests` into a
    column first and derive the signature with
    :func:`minhash_from_digests`, as stream_minhash_incremental does."""
    return minhash_from_digests(
        shingle_digests(shingles_col, num_hashes), num_hashes
    )


def row_local_band_keys(
    sig_col: Column,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> Column:
    """LSH band keys from a materialized row-local signature array —
    the same ``md5(concat_ws(',', h...))`` packing as
    :func:`lsh_band_frame`, as one array<string> per row (band b at
    index b+1). Streaming-safe: pure column math, no stack/groupBy."""
    n_bands = num_hashes // band_rows
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(sig_col, b * band_rows + r + 1).cast(
                            "string"
                        )
                        for r in range(band_rows)
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )


def minhash_incremental_manifest(
    df: DataFrame,
    id_col: str,
    new_pred: Column,
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> DataFrame:
    """Cross-snapshot incremental MinHash dedup manifest: NEW docs
    (``new_pred``) that near-duplicate an OLD-corpus doc, found by
    probing the stored old bands with the new bands only — the band join
    is new ⋈ old (never old ⋈ old, never new ⋈ new), so per-ingest cost
    is ∝ new rows + occupancy-bounded probes, independent of corpus age.
    At 100 TB the old sig/band frames are parquet reads from the
    signature store (here: the sig frame restricted to old ids stands
    in). Returns (new_id, dup_of_min, n_old_dups, max_est_sim) — one row
    per duplicated new doc. Extracted from queries/round9.py so the
    constant-density scale probe exercises the identical plan."""
    sigs = persist(minhash_signatures(df, id_col, text_col, num_hashes))
    bands = lsh_band_frame(sigs, id_col, num_hashes, band_rows)
    is_new = new_pred
    new_b = bands.where(is_new).select(
        F.col(id_col).alias("new_id"), "band_idx", "band_key"
    )
    old_b = bands.where(~is_new).select(
        F.col(id_col).alias("old_id"), "band_idx", "band_key"
    )
    cand = (
        new_b.join(old_b, ["band_idx", "band_key"])
        .select("new_id", "old_id")
        .distinct()
    )
    sig_arr = F.array(*[F.col(f"h{j}") for j in range(num_hashes)])
    sa = sigs.select(F.col(id_col).alias("new_id"), sig_arr.alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("old_id"), sig_arr.alias("sig_b"))
    agree = F.aggregate(
        F.zip_with(
            F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sa, "new_id")
        .join(sb, "old_id")
        .withColumn("est", agree / F.lit(float(num_hashes)))
        .where(F.col("est") >= threshold)
        .groupBy("new_id")
        .agg(
            F.min("old_id").cast("bigint").alias("dup_of_min"),
            F.count("*").cast("bigint").alias("n_old_dups"),
            F.max("est").alias("max_est_sim"),
        )
        .orderBy("new_id")
    )


def containment_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    doc_sets: DataFrame | None = None,
) -> DataFrame:
    """EXACT containment join via prefix filtering: emit ordered pairs
    (a, b) with C(A,B) = |A∩B| / |A| ≥ τ over n-gram shingle sets —
    near-SUPERSET detection (quote-with-additions, boilerplate+payload),
    the asymmetric cousin of ``jaccard_prefix_pairs``.

    Prefix theorem for containment (Chaudhuri et al. ICDE'06 §SSJoin /
    Bayardo et al. WWW'07): C(A,B) ≥ τ needs |A∩B| ≥ ceil(τ·|A|), so A
    and B must share a shingle inside A's first |A| - ceil(τ·|A|) + 1
    shingles in the global rarity order. Only A's PREFIX explodes; the
    probe side indexes ALL its shingles (containment gives no prefix
    bound on the superset side) — still an equi-join on shingle, never
    an all-pairs. Size filter: |B| ≥ τ·|A| prunes inside the candidate
    join. LOSSLESS: the verify is an exact ``array_intersect`` over the
    distinct candidate pairs.

    Returns (id_a, id_b, inter_size, a_size) for surviving pairs.
    Scale shape mirrors jaccard_prefix_pairs: one shingle shuffle for
    document frequency, one doc shuffle for the ordered arrays, the
    candidate equi-join, two id-joins for the verify. The doc frame is
    persisted (three subtrees hang off it); pass ``doc_sets`` (a
    :func:`prefix_doc_sets` frame at the same ``threshold``) to
    share it with other consumers.
    """
    docs = doc_sets
    if docs is None:
        docs = prefix_doc_sets(df, id_col, text_col, n, threshold)
    a = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("n_sh").alias("__na"),
        F.explode("prefix").alias("ptok"),
    )
    b = docs.select(
        F.col(id_col).alias("id_b"),
        F.col("n_sh").alias("__nb"),
        F.explode("toks").alias("ptok"),
    )
    t10 = int(round(threshold * 10))
    cand = (
        a.join(b, "ptok")
        .where(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("__nb") * 10 >= t10 * F.col("__na"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    va = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("toks").alias("__ta"),
        F.col("n_sh").alias("a_size"),
    )
    vb = docs.select(F.col(id_col).alias("id_b"), F.col("toks").alias("__tb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "inter_size", F.size(F.array_intersect("__ta", "__tb")).cast("bigint")
        )
        .where(F.col("inter_size") * 10 >= t10 * F.col("a_size"))
        .select("id_a", "id_b", "inter_size", F.col("a_size").cast("bigint"))
    )


# Edge-count gate for the local union-find fast path. The near-dup PAIR
# graph is a bounded reduction of the corpus (only candidates that
# survived banding + verification), orders smaller than the row count —
# the same class of driver-bounded artifact as the k-means codebook or
# the bloom bitset. Above the gate the iterative distributed path runs.
CC_LOCAL_EDGE_GATE = 2_000_000


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str,
    max_iters: int = 20,
    local_edge_gate: int = CC_LOCAL_EDGE_GATE,
) -> DataFrame:
    """Duplicate-cluster assignment: each vertex gets the MIN id reachable
    through the near-dup pair graph (connected components).

    Hybrid execution (the standard two-phase CC trade):
    - ``n_edges <= local_edge_gate``: union-find on the collected edge
      list (path-halving, O(E α(E))), labels broadcast-joined back onto
      the vertex frame. Near-dup edge lists are tiny relative to the
      corpus, and the iterative path's per-round cost is pure shuffle
      latency at that size — measured 2.6 s of round overhead for 512
      edges at sf0.1.
    - otherwise: iterative min-label propagation — each round joins
      current labels across edges and keeps the minimum; converges in
      O(log diameter) rounds for near-dup graphs (tiny clusters). The
      driver loop only checks a per-round convergence count — labels
      never leave executors.

    Both paths produce the identical (id, cluster_id) relation: the
    component-minimum label.
    """
    # when the caller already persisted the pair frame and it is exactly
    # (id_a, id_b), this projection's plan ALIASES the caller's cache
    # entry; persist then caches nothing and release below frees nothing,
    # so the caller's cache outlives this call (evicting it once made
    # every downstream consumer of dd_cluster_modularity's pair list
    # re-run the shingle self-join)
    p = persist(pairs.select("id_a", "id_b"))
    n_pairs = p.count()
    if n_pairs <= local_edge_gate:
        # one parallel-fetch collect of the RAW pair list — union-find
        # needs neither the direction-doubling union nor the distinct
        # (duplicate/undirected edges are harmless), so the local path
        # skips both shuffles entirely
        rows = p.collect()
        release(p)
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in rows:
            ra, rb = find(row["id_a"]), find(row["id_b"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)  # min-id root
        labels_map = [(x, find(x)) for x in list(parent)]
        spark = vertices.sparkSession
        if not labels_map:
            return vertices.select(
                F.col(id_col), F.col(id_col).alias("cluster_id")
            )
        lbl = spark.createDataFrame(labels_map, [id_col, "__cc"])
        return (
            vertices.join(F.broadcast(lbl), id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce(F.col("__cc"), F.col(id_col)).alias("cluster_id"),
            )
        )
    # Optimization r14 (guide §2.3 — iterative lineage): each round
    # references `labels` TWICE (the min-fold keep branch and the
    # neighbor join), so under persist the LOGICAL plan still nested
    # exponentially — the returned frame's plan inlined every round's
    # subtree 2^r times (measured: 1205 Exchange nodes in
    # g4_cc_iterative's final plan, multi-second Catalyst analysis on
    # the driver). The repo's standard iterative device (g3 BFS, g5
    # HITS, k-core/k-truss peels) fixes both the re-execution AND the
    # plan growth: eager localCheckpoint per round truncates lineage,
    # and the convergence probe reads stored blocks, not a recompute.
    edges = checkpoint(
        p.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            p.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    release(p)  # edges materialized; the raw-pair cache can go
    labels = checkpoint(vertices.select(
        F.col(id_col).alias("src"), F.col(id_col).alias("cluster_id")
    ))
    # join strategy by MEASURED size (the checkpoint makes the count a
    # stored-block count, and labels stays one row per vertex every
    # round, so the gate is loop-invariant): broadcast the node-sized
    # label frame while it fits, hash equi-join past the gate — the
    # 100 TB fallback (guide §3; the g3/g5 gate device).
    bcast_labels = broadcastable(labels.count())
    held = labels
    for _ in range(max_iters):
        lbl = labels.withColumnRenamed("src", "dst")
        if bcast_labels:
            lbl = F.broadcast(lbl)
        neighbor_min = (
            edges.join(lbl, "dst")
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        # labels are monotonically non-increasing, so "this round changed
        # something" ⟺ some neighbor-min undercut the old label — carried
        # as a flag in the SAME pass (the old shape re-joined new vs old
        # labels purely for change detection: one extra shuffle per round)
        new_labels = checkpoint(
            labels.join(neighbor_min, "src", "left")
            .select(
                "src",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.col("nmin") < F.col("cluster_id")).alias("__changed"),
            )
        )
        release(held)  # the round this one replaces
        held = new_labels
        changed = new_labels.where("__changed").limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    return labels.select(F.col("src").alias(id_col), "cluster_id")


def simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 32,
    features: "Column | None" = None,
) -> DataFrame:
    """SimHash over distinct features (tokens by default; pass an array
    ``features`` column — e.g. word shingles — for more distinctive
    votes on small-vocabulary corpora): bit k of the fingerprint is the
    majority vote of feature-hash bit k.

    Relational shape: explode features → ONE groupBy(id) computing all
    ``bits`` majority votes as conditional sums in a single pass. (The
    earlier shape exploded ``sequence(0, bits-1)`` per token — a bits×
    row materialization before the partial aggregate; the per-bit votes
    are independent columns, so wide aggregation needs no explode.)
    """
    # distinct features always — a caller-supplied array with duplicates
    # would silently turn majority votes into multiplicity-weighted ones
    feats = F.array_distinct(
        features if features is not None else tokens(F.col(text_col))
    )
    # votes are order-free integer sums → fingerprints identical
    toks = fan_out(df).select(F.col(id_col), F.explode(feats).alias("tok"))
    h = _md5_hash32(F.col("tok"), 0)
    toks = toks.select(F.col(id_col), h.alias("th"))
    vote_aggs = [
        F.sum(F.shiftright(F.col("th"), k).bitwiseAND(F.lit(1))).alias(f"__o{k}")
        for k in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(F.count("*").alias("__n"), *vote_aggs)
    fp = None
    for k in range(bits):
        bit_k = F.when(
            F.col(f"__o{k}") * 2 > F.col("__n"), F.lit(1 << k).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
        fp = bit_k if fp is None else fp + bit_k
    return agg.select(F.col(id_col), fp.alias("simhash"))


def doc_token_spans(
    df: DataFrame, id_col: str, text_col: str = "text", span_len: int = 10
) -> DataFrame:
    """Fixed-width token spans: (id, span_idx, span) for every complete
    non-overlapping ``span_len``-token window, plus the trailing partial
    window so short docs aren't invisible to span dedup.

    This is paragraph-level dedup (Dolma / RefinedWeb style) adapted to a
    corpus with no paragraph delimiters: the "paragraph" is a fixed token
    window. Map-side only — the expensive part (corpus-wide span counts)
    happens in :func:`span_dup_stats`.
    """
    t = tokens(F.col(text_col))
    n_spans = F.ceil(F.size(t) / F.lit(span_len)).cast("int")
    # guard: sequence(0, -1) would DESCEND for a 0-token doc
    spans = F.when(F.size(t) == 0, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.struct(
                i.cast("int").alias("span_idx"),
                F.concat_ws(
                    " ", F.slice(t, i * span_len + 1, span_len)
                ).alias("span"),
            ),
        )
    )
    return (
        df.select(F.col(id_col), F.explode(spans).alias("s"))
        .select(id_col, "s.span_idx", "s.span")
    )


def span_dup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    span_len: int = 10,
    max_dup_frac: float = 0.5,
) -> DataFrame:
    """Per-doc duplicated-span fraction + keep decision.

    A span is duplicated when its text occurs in >= 2 DISTINCT docs
    (within-doc repeats are the repetition filter's job, not dedup's).
    Shape: spans → distinct (span, doc) → groupBy span (corpus span
    frequency) → join back → per-doc ratio. Two shuffles on the span key,
    both with map-side partial aggregation; the frequency table is
    span-distinct-sized.  ``dup_frac`` is one double division of two
    bigints — bit-portable; the keep threshold compares against an exact
    decimal literal, so the row set stays deterministic.
    """
    spans = doc_token_spans(df, id_col, text_col, span_len)
    span_docs = spans.select(id_col, "span").distinct()
    freq = span_docs.groupBy("span").agg(
        F.count("*").cast("bigint").alias("n_docs_with")
    )
    marked = spans.join(freq, "span")
    per_doc = marked.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(
            F.when(F.col("n_docs_with") >= 2, 1).otherwise(0)
        ).cast("bigint").alias("n_dup_spans"),
    )
    dup_frac = F.col("n_dup_spans").cast("double") / F.col("n_spans").cast("double")
    return per_doc.select(
        id_col,
        "n_spans",
        "n_dup_spans",
        dup_frac.alias("dup_frac"),
        (dup_frac <= F.lit(max_dup_frac)).alias("keep"),
    )


def span_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    span_len: int = 10,
    max_span_df: int = 1,
) -> DataFrame:
    """C4-style span REMOVAL — the dedup TRANSFORM, where
    :func:`span_dup_stats` is only the statistic: every span whose text
    occurs in more than ``max_span_df`` DISTINCT documents is deleted
    from every document containing it (C4 drops all copies of any
    thrice-seen line, Raffel et al. JMLR'20 §2.2; here the "line" is a
    fixed token window, matching :func:`doc_token_spans` on a corpus
    with no line delimiters), and the surviving spans are reassembled
    in position order into ``clean_text``.

    Shape: spans → corpus span-df (distinct + partially-aggregated
    count) → equi-join back on the span text → one groupBy(doc) whose
    reassembly is ``array_sort(collect_list(struct(span_idx, span)))``
    — per-doc sort of an in-memory array (docs are KB-sized), never a
    window or global sort. Docs whose spans are ALL removed surface
    with empty ``clean_text`` through the left join from the doc-spine
    aggregate. Three shuffles total (two on the span key, one on the
    doc key), each carrying at most the original text volume.
    """
    # Optimization r14 (guide §2.3/§2.4 — the t_substring_dedup wave-1
    # device): the old shape referenced the span stream THREE times
    # (distinct+count for the span-df, the join-back, the doc-spine
    # totals) — three tokenize+explode passes and three shuffles. Now
    # the span document-frequency rides every span row as two window
    # columns — a first-occurrence marker per (span, doc) and
    # sum(marker) OVER (PARTITION BY span), the identical distinct-doc
    # count the join attached (markers + sums spill; a collect_set
    # variant would hold a hot span's whole doc-id set in memory per
    # row — the 100 TB hazard) — and ONE doc-key groupBy computes
    # totals, kept counts, and the reassembly together (collect_list
    # skips the NULLed removed spans; a doc whose spans are all removed
    # yields an empty list → '' exactly as the old left-join coalesce
    # did). One span pass.
    from pyspark.sql.window import Window as _W

    spans = doc_token_spans(fan_out(df), id_col, text_col, span_len)
    first_in_doc = (
        F.row_number().over(
            _W.partitionBy("span", id_col).orderBy("span_idx")
        )
        == 1
    )
    keep = F.col("__span_df") <= max_span_df
    return (
        spans.withColumn("__first", first_in_doc.cast("int"))
        .withColumn(
            "__span_df",
            F.sum("__first").over(_W.partitionBy("span")).cast("bigint"),
        )
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct("span_idx", "span"))
                        )
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").cast("bigint").alias("n_spans"),
            F.coalesce(
                F.sum(F.when(keep, 1)), F.lit(0)
            ).cast("bigint").alias("n_spans_kept"),
        )
        .select(id_col, "clean_text", "n_spans", "n_spans_kept")
    )


def two_phase_bottom_k(
    df: DataFrame,
    part_cols: list[str],
    key_col: str,
    k: int,
    n_shards: int = 8,
) -> DataFrame:
    """Per-group bottom-k of a key WITHOUT a per-group global sort:
    shard-local bottom-k first, then merge the k-sized shard partials
    and re-cut. Bottom-k is a mergeable monoid, so the result is
    IDENTICAL to a global sort per group, but no task ever sorts more
    than one shard's keys, and WindowGroupLimit pre-truncates every map
    partition to k rows before either shuffle. The idiom behind every
    KMV/theta/reservoir build here (a32/a36/a38/source-overlap);
    extracted so the shard constants can't drift between copies.

    The shard is ``pmod(xxhash64(key), n_shards)`` — a hash of the FULL
    key, so it works for keys of any width (the previous digest-tail
    substring silently collapsed every short key into one NULL shard)
    and equal keys still co-locate, keeping shard-local dedup semantics
    identical. Temp columns are name-mangled so caller columns named
    ``shard``/``rn`` can't be clobbered."""
    from pyspark.sql import Window

    shard_c, rn_c = "__tpbk_shard", "__tpbk_rn"
    shard = F.pmod(F.xxhash64(key_col), F.lit(n_shards))
    w_shard = Window.partitionBy(*part_cols, shard_c).orderBy(key_col)
    w_merge = Window.partitionBy(*part_cols).orderBy(key_col)
    return (
        df.withColumn(shard_c, shard)
        .withColumn(rn_c, F.row_number().over(w_shard))
        .where(F.col(rn_c) <= k)
        .select(*part_cols, key_col)
        .withColumn(rn_c, F.row_number().over(w_merge))
        .where(F.col(rn_c) <= k)
        .select(*part_cols, key_col)
    )
