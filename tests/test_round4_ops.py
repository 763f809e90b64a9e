"""Round-4 operator tests: retrieval (inverted index / BM25), bigram LM,
span dedup, SemDeDup, product quantization, Z-order, BPE training."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from burst_db_spark.catalog import load
from burst_db_spark.operators import pq as pqo
from burst_db_spark.operators import retrieval as ret
from burst_db_spark.operators import similarity as sim
from burst_db_spark.operators import zorder as zo
from burst_db_spark.operators.bpe import (
    bpe_reference,
    bpe_reference_batched,
    train_bpe,
    word_types,
)
from burst_db_spark.operators.dedup import span_dup_stats
from burst_db_spark.operators.lm import bigram_lm_scores
from tests.conftest import SF_DIR


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# -- inverted index / BM25 --------------------------------------------------


def test_inverted_index_postings(spark):
    df = _docs(
        spark,
        [(1, "a b a"), (2, "b c"), (3, "a")],
    )
    out = {
        r["term"]: r
        for r in ret.inverted_index(df, "doc_id").collect()
    }
    assert out["a"]["postings"] == "1:2,3:1"
    assert out["a"]["df"] == 2 and out["a"]["total_tf"] == 3
    assert out["b"]["postings"] == "1:1,2:1"
    assert out["c"]["postings"] == "2:1"


def test_bm25_hand_computed(spark):
    # 2 docs, query {"a"}: df(a)=1, N=2, dl=(2,1), avgdl=1.5
    df = _docs(spark, [(1, "a b"), (2, "c")])
    rows = ret.bm25_scores(df, ["a"], "doc_id").collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 1
    idf = (2 - 1 + 0.5) / (1 + 0.5) + 1.0
    expect = idf * (1.0 * 2.2) / (1.0 + 1.2 * (1 - 0.75 + 0.75 * (2 / 1.5)))
    assert math.isclose(rows[0]["bm25"], expect, rel_tol=1e-12)


def test_bm25_monotone_in_tf(spark):
    # more matches of a rare term → higher score at equal length
    df = _docs(spark, [(1, "x x y y"), (2, "x y y y"), (3, "z z z z")])
    got = {r["doc_id"]: r["bm25"] for r in ret.bm25_scores(df, ["x"], "doc_id").collect()}
    assert got[1] > got[2]
    assert 3 not in got


# -- bigram LM --------------------------------------------------------------


def test_bigram_lm_vs_python(spark):
    rows = [(1, "a b a b"), (2, "a b c"), (3, "c c")]
    df = _docs(spark, rows)
    got = {r["doc_id"]: r for r in bigram_lm_scores(df, "doc_id").collect()}

    # independent python model
    toks = {i: t.split() for i, t in rows}
    uni: dict[str, int] = {}
    bi: dict[tuple[str, str], int] = {}
    for t in toks.values():
        for w in t:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(t, t[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    v = len(uni)
    for i, t in toks.items():
        ps = [
            (bi[(a, b)] + 1) / (uni[a] + v) for a, b in zip(t, t[1:])
        ]
        assert got[i]["n_bigrams"] == len(ps)
        assert math.isclose(got[i]["mean_p"], sum(ps) / len(ps), rel_tol=1e-12)


def test_bigram_lm_short_docs_excluded(spark):
    df = _docs(spark, [(1, "one"), (2, "two words")])
    got = {r["doc_id"] for r in bigram_lm_scores(df, "doc_id").collect()}
    assert got == {2}


# -- span dedup -------------------------------------------------------------


def test_span_dup_stats_known(spark):
    shared = " ".join(f"w{i}" for i in range(10))
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    df = _docs(
        spark,
        [
            (1, shared + " " + uniq_a),   # 1 of 2 spans duplicated
            (2, shared + " " + uniq_b),   # 1 of 2 spans duplicated
            (3, uniq_b),                  # duplicated with doc 2's tail
        ],
    )
    got = {r["doc_id"]: r for r in span_dup_stats(df, "doc_id", span_len=10).collect()}
    assert got[1]["n_spans"] == 2 and got[1]["n_dup_spans"] == 1
    assert got[1]["keep"] is True
    assert got[3]["n_spans"] == 1 and got[3]["n_dup_spans"] == 1
    assert got[3]["dup_frac"] == 1.0 and got[3]["keep"] is False


def test_span_scrub_removes_all_copies_and_reassembles(spark):
    from burst_db_spark.operators.dedup import span_scrub

    shared = " ".join(f"w{i}" for i in range(10))
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    uniq_c = " ".join(f"c{i}" for i in range(10))
    df = _docs(
        spark,
        [
            (1, shared + " " + uniq_a + " " + uniq_c),  # middle span kept
            (2, shared + " " + uniq_b),
            (3, shared),  # fully scrubbed
        ],
    )
    got = {r["doc_id"]: r for r in span_scrub(df, "doc_id", span_len=10).collect()}
    # the shared span vanishes from EVERY doc; order of survivors kept
    assert got[1]["clean_text"] == uniq_a + " " + uniq_c
    assert got[1]["n_spans"] == 3 and got[1]["n_spans_kept"] == 2
    assert got[2]["clean_text"] == uniq_b
    assert got[3]["clean_text"] == "" and got[3]["n_spans_kept"] == 0
    assert set(got) == {1, 2, 3}  # fully-scrubbed docs still surface


# -- SemDeDup ---------------------------------------------------------------


def test_semdedup_min_id_survives(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
            (3, [0.0, 1.0, 0.0, 0.0]),      # distinct
        ],
        "vec_id bigint, embedding array<float>",
    )
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    got = {
        r["vec_id"]: r["dropped"]
        for r in sim.semdedup_flags(emb, cents, tau=0.95).collect()
    }
    assert got == {1: False, 2: True, 3: False}


# -- product quantization ---------------------------------------------------


def test_pq_encode_matches_numpy(spark):
    import numpy as np

    books = pqo.pq_codebooks(m=4, dim=64, k=16)
    emb = load(spark, SF_DIR, "embeddings").limit(20)
    rows = emb.select("vec_id", "embedding").collect()
    got = {
        r["vec_id"]: [r[f"code_{j}"] for j in range(4)]
        for r in pqo.pq_encode(emb, books).collect()
    }
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        for j in range(4):
            seg = v[j * 16 : (j + 1) * 16]
            d = [float(((seg - np.asarray(e)) ** 2).sum()) for e in books[j]]
            assert got[r["vec_id"]][j] == d.index(min(d)) + 1


def test_pq_adc_approximates_exact(spark):
    books = pqo.pq_codebooks()
    q = sim.lsh_planes(65, dim=64)[-1]
    emb = load(spark, SF_DIR, "embeddings")
    adc = pqo.pq_adc_topk(emb, q, books, k=5).collect()
    assert len(adc) == 5
    # adc distance is a nonnegative approximation of the true distance
    assert all(r["adc_dist"] >= 0.0 for r in adc)
    # plan: encode+search is shuffle-free (TakeOrdered, no Exchange)
    plan = pqo.pq_adc_topk(emb, q, books, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "TakeOrdered" in plan


# -- Z-order ----------------------------------------------------------------


def test_morton_code_golden(spark):
    df = spark.createDataFrame([(3, 5)], "x bigint, y bigint")
    # interleave: x=0b011, y=0b101 → bits (y2 x2 y1 x1 y0 x0) = 100111 = 39
    got = df.select(zo.morton_code(F.col("x"), F.col("y"), 3).alias("z")).first()["z"]
    assert got == 39


def test_morton_sql_matches_spark(spark, ddb):
    vals = [(x, y) for x in range(0, 50, 7) for y in range(0, 50, 11)]
    df = spark.createDataFrame(vals, "x bigint, y bigint")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zo.morton_code(F.col("x"), F.col("y"), 8).alias("z")
        ).collect()
    }
    sql = zo.morton_sql("x", "y", 8)
    for (x, y), z in got.items():
        dz = ddb.execute(f"SELECT {sql} FROM (SELECT {x} AS x, {y} AS y)").fetchone()[0]
        assert dz == z, (x, y)


def test_zorder_write_prunes_files(spark, tmp_path):
    import pyarrow.parquet as papq
    import glob

    n = 4000
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 131) % 360 - 180 + 0.5).cast("double").alias("lon"),
        ((F.col("id") * 173) % 170 - 85 + 0.5).cast("double").alias("lat"),
    )
    zpath = str(tmp_path / "zorder")
    rpath = str(tmp_path / "plain")
    zo.zorder_write(df, zpath, "lon", "lat", -180.0, 180.0, n_files=8)
    df.repartition(8).write.mode("overwrite").parquet(rpath)

    def files_touching(path, box):
        xmin, ymin, xmax, ymax = box
        touched = 0
        total = 0
        for f in glob.glob(path + "/*.parquet"):
            md = papq.ParquetFile(f).metadata
            cols = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            fxmin = min(
                md.row_group(g).column(cols["lon"]).statistics.min
                for g in range(md.num_row_groups)
            )
            fxmax = max(
                md.row_group(g).column(cols["lon"]).statistics.max
                for g in range(md.num_row_groups)
            )
            fymin = min(
                md.row_group(g).column(cols["lat"]).statistics.min
                for g in range(md.num_row_groups)
            )
            fymax = max(
                md.row_group(g).column(cols["lat"]).statistics.max
                for g in range(md.num_row_groups)
            )
            total += 1
            if fxmin <= xmax and fxmax >= xmin and fymin <= ymax and fymax >= ymin:
                touched += 1
        return touched, total

    box = (-170.0, -80.0, -100.0, -20.0)  # ~1/8 of the plane
    zt, ztot = files_touching(zpath, box)
    rt, rtot = files_touching(rpath, box)
    assert rt == rtot  # random layout: every file overlaps the box
    assert zt < ztot  # z-order: min/max stats exclude files
    # correctness: same rows either way
    q = (
        (F.col("lon") >= box[0]) & (F.col("lon") <= box[2])
        & (F.col("lat") >= box[1]) & (F.col("lat") <= box[3])
    )
    assert (
        spark.read.parquet(zpath).where(q).count()
        == spark.read.parquet(rpath).where(q).count()
    )


# -- BPE --------------------------------------------------------------------


def test_bpe_matches_reference(spark):
    docs = load(spark, SF_DIR, "documents").limit(100)
    got = train_bpe(docs, n_merges=6)
    wc = {
        r["word"]: r["n"] for r in word_types(docs).collect()
    }
    expect = bpe_reference(wc, 6)
    assert got == expect


def test_bpe_greedy_nonoverlap(spark):
    # "aaa" with merge (a,a) must yield ["aa","a"], so the second merge
    # is (aa, a) — not a double-merge of overlapping pairs
    df = _docs(spark, [(1, "aaa aaa")])
    merges = train_bpe(df, n_merges=2)
    assert merges[0][1:3] == ("a", "a")
    assert merges[1][1:3] == ("aa", "a")


def test_bpe_batched_matches_batched_reference(spark):
    docs = load(spark, SF_DIR, "documents").limit(100)
    wc = {r["word"]: r["n"] for r in word_types(docs).collect()}
    for k in (2, 4):
        got = train_bpe(docs, n_merges=8, batch_size=k)
        expect = bpe_reference_batched(wc, 8, k)
        assert got == expect, f"batch_size={k}"


def test_bpe_batched_counts_are_exact(spark):
    # every reported count must equal the TRUE pair count at the moment
    # the merge is applied — the disjointness rule's whole guarantee.
    # Replay the batched merge list sequentially through the exact
    # single-process engine and recount before each application.
    docs = load(spark, SF_DIR, "documents").limit(60)
    wc = {r["word"]: r["n"] for r in word_types(docs).collect()}
    merges = bpe_reference_batched(wc, 8, 4)
    state = {tuple(w): n for w, n in wc.items()}
    for _, left, right, count in merges:
        counts = {}
        for sym, n in state.items():
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        assert counts.get((left, right), 0) == count
        new_state = {}
        for sym, n in state.items():
            out = []
            for s in sym:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            key = tuple(out)
            new_state[key] = new_state.get(key, 0) + n
        state = new_state


def test_bpe_encode_cross_implementation(spark):
    # pandas-UDF encoder must equal the JVM fold chain (_merge_pair
    # applied per merge in rank order) — two independent executions of
    # the same algorithm, one Python, one codegen
    from burst_db_spark.operators.bpe import _merge_pair, encode_words

    docs = load(spark, SF_DIR, "documents").limit(80)
    merges = train_bpe(docs, n_merges=6)
    wt = word_types(docs)
    via_udf = encode_words(wt, merges).select("word", "pieces")
    sym = F.split(F.col("word"), "")
    for _, left, right, _ in sorted(merges):
        sym = _merge_pair(sym, left, right)
    via_fold = wt.select("word", sym.alias("pieces_fold"))
    joined = via_udf.join(via_fold, "word")
    bad = joined.where(F.col("pieces") != F.col("pieces_fold")).count()
    assert bad == 0
    # reconstruction invariant: concat(pieces) == word
    rec = via_udf.where(
        F.concat_ws("", F.col("pieces")) != F.col("word")
    ).count()
    assert rec == 0


def test_bpe_encode_fertility_decreases(spark):
    from burst_db_spark.operators.bpe import encode_words

    docs = load(spark, SF_DIR, "documents").limit(80)
    wt = word_types(docs)
    m4 = train_bpe(docs, n_merges=4)
    m8 = train_bpe(docs, n_merges=8)
    p4 = encode_words(wt, m4).agg(F.sum(F.size("pieces"))).first()[0]
    p8 = encode_words(wt, m8).agg(F.sum(F.size("pieces"))).first()[0]
    chars = wt.agg(F.sum(F.length("word"))).first()[0]
    assert p8 <= p4 <= chars


def test_triangle_stats_known_graphs(spark):
    from burst_db_spark.operators.graph import triangle_stats

    # K4: 4 triangles + a pendant vertex; wedges = 3*C(3,2)+C(4,2)... 
    # compute directly: degs = [3,3,3,4,1] -> wedges = 3+3+3+6+0 = 15
    k4_plus = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    e = spark.createDataFrame(k4_plus, "a long, b long")
    r = triangle_stats(e).first()
    assert (r.n_vertices, r.n_edges, r.n_triangles) == (5, 7, 4)
    assert r.n_wedges == 15

    # star graph: the skew case — hub degree n-1, ZERO triangles, and
    # the oriented formulation enumerates no wedge at the hub (all hub
    # edges point outward by degree), so no reducer sees deg^2 work
    n = 200
    star = spark.createDataFrame(
        [(0, i) for i in range(1, n)], "a long, b long"
    )
    rs = triangle_stats(star).first()
    assert rs.n_triangles == 0
    assert rs.n_wedges == (n - 1) * (n - 2) // 2  # unoriented count


def test_pagerank_int_matches_python_mirror(spark):
    """Integer-mass pagerank on a small digraph vs an exact python
    replay of the same trunc-div recurrence."""
    from burst_db_spark.operators.graph import PR_INT_MASS, pagerank_int

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
    nodes = [1, 2, 3, 4, 5]  # 5 is dangling+sourceless
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    ndf = spark.createDataFrame([(n,) for n in nodes], "id bigint")
    got = {
        r["id"]: r["rank_fx"]
        for r in pagerank_int(edf, ndf, iterations=3).collect()
    }
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    p = {v: PR_INT_MASS // n for v in nodes}
    tp = (15 * PR_INT_MASS) // (100 * n)
    for _ in range(3):
        inflow = {v: 0 for v in nodes}
        for s, d in edges:
            inflow[d] += p[s] // deg[s]
        p = {v: tp + (85 * inflow[v]) // 100 for v in nodes}
    assert got == p
    # dangling node 5 holds exactly the teleport mass
    assert got[5] == tp
