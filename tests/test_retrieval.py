"""BM25 retrieval (operators/retrieval): scoring sanity, python replay,
determinism, max_df capping, persisted-index equivalence."""

import math
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ratatool_spark.operators.retrieval import (
    bm25_topk,
    bm25_topk_index,
    build_bm25_postings,
    save_bm25_index,
)

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the dog chased the cat"),
    (2, "a quick brown fox"),
    (3, "the quick  dog"),  # double space -> empty token filtered
    (4, ""),  # empty: excluded from index and stats
    (5, None),  # NULL: excluded
]
QUERIES = [(100, "quick dog"), (101, "CAT"), (102, "zzz-unseen")]


def _py_bm25(docs, queries, k1=1.2, b=0.75):
    """Row-at-a-time reference implementation."""
    toks = {
        i: [t for t in (s or "").strip().lower().split(" ") if t]
        for i, s in docs
    }
    toks = {i: ls for i, ls in toks.items() if ls}
    n = len(toks)
    avgdl = sum(len(ls) for ls in toks.values()) / n
    df = {}
    for ls in toks.values():
        for t in set(ls):
            df[t] = df.get(t, 0) + 1
    out = {}
    for qid, qs in queries:
        for i, ls in toks.items():
            s = 0.0
            for t in [x for x in qs.strip().lower().split(" ") if x]:
                if t not in df:
                    continue
                tf = ls.count(t)
                if tf == 0:
                    continue
                idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                contrib = idf * tf * (k1 + 1) / (
                    tf + k1 * (1 - b + b * len(ls) / avgdl)
                )
                s += round(contrib * 1e6)
            if s:
                out[(qid, i)] = s / 1e6
    return out


@pytest.fixture(scope="module")
def tables(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    q = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    return docs, q


def test_bm25_matches_python_replay(tables):
    docs, q = tables
    got = {
        (r.query_id, r.doc_id): r.score
        for r in bm25_topk(docs, q, k=10).collect()
    }
    want = _py_bm25(DOCS, QUERIES)
    assert got == pytest.approx(want)


def test_bm25_rank_deterministic_and_bounded(tables):
    docs, q = tables
    rows = bm25_topk(docs, q, k=2).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= 2
    # unseen-term query matches nothing
    assert 102 not in by_q


def test_bm25_stats_exclude_empty_docs(tables):
    docs, _ = tables
    _, _, stats = build_bm25_postings(docs)
    row = stats.collect()[0]
    assert row.n_docs == 4  # doc 4 (empty) and 5 (NULL) excluded
    assert row.total_dl == 6 + 5 + 4 + 3


def test_bm25_max_df_drops_stopword(tables):
    docs, q = tables
    # "the" has df=3; cap at 2 removes it from the index entirely
    full = bm25_topk(docs, q, k=10).collect()
    capped = bm25_topk(docs, q, k=10, max_df=2).collect()
    # query terms here have df <= 2, so results identical
    assert sorted(map(tuple, full)) == sorted(map(tuple, capped))
    the_q = docs.sparkSession.createDataFrame(
        [(0, "the")], "query_id long, qtext string"
    )
    assert bm25_topk(docs, the_q, k=10, max_df=2).count() == 0
    assert bm25_topk(docs, the_q, k=10).count() == 3


def test_bm25_index_roundtrip_matches_direct(tables):
    docs, q = tables
    path = os.path.join(tempfile.mkdtemp(), "bm25_idx")
    side = save_bm25_index(docs, path)
    assert side["n_docs"] == 4 and side["lowercase"] is True
    spark = docs.sparkSession
    direct = sorted(map(tuple, bm25_topk(docs, q, k=10).collect()))
    via_idx = sorted(map(tuple, bm25_topk_index(spark, path, q, k=10).collect()))
    assert direct == via_idx


def test_rrf_fuse_matches_python_replay(spark):
    from ratatool_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1)],
        "query_id long, doc_id long, rank long",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2), (2, 20, 1)],
        "query_id long, doc_id long, rank long",
    )
    rows = {
        (r.query_id, r.doc_id): (r.rrf_score, r.n_systems, r.rank)
        for r in rrf_fuse([a, b], k_rrf=60).collect()
    }

    def s(*ranks):
        return sum(round(1e9 / (60 + r)) for r in ranks) / 1e9

    # doc 11 appears in both systems -> highest fused score for query 1
    assert rows[(1, 11)] == (pytest.approx(s(2, 1)), 2, 1)
    assert rows[(1, 10)] == (pytest.approx(s(1)), 1, 2)
    assert rows[(1, 12)] == (pytest.approx(s(2)), 1, 3)
    assert rows[(2, 20)] == (pytest.approx(s(1, 1)), 2, 1)


def test_rrf_fuse_topk_and_validation(spark):
    from ratatool_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, doc_id long, rank long",
    )
    assert rrf_fuse([a], topk=2).count() == 2
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with pytest.raises(ValueError, match="k_rrf"):
        rrf_fuse([a], k_rrf=0)


def test_bm25_incremental_update_matches_full_build(spark):
    from ratatool_spark.operators.retrieval import (
        bm25_topk_index,
        save_bm25_index,
        update_bm25_index,
    )

    docs = spark.createDataFrame(DOCS[:6], "doc_id long, text string")
    first = docs.where("doc_id < 2")
    rest = docs.where("doc_id >= 2")
    q = spark.createDataFrame(QUERIES, "query_id long, qtext string")

    inc = os.path.join(tempfile.mkdtemp(), "inc_idx")
    save_bm25_index(first, inc)
    out = update_bm25_index(spark, inc, rest)
    assert out["docs_added"] == 2  # docs 4 (empty) and 5 (NULL) excluded
    assert out["n_docs"] == 4

    full = os.path.join(tempfile.mkdtemp(), "full_idx")
    save_bm25_index(docs, full)
    a = sorted(map(tuple, bm25_topk_index(spark, inc, q, k=10).collect()))
    b = sorted(map(tuple, bm25_topk_index(spark, full, q, k=10).collect()))
    assert a == b


def test_bm25_incremental_update_rejects_duplicate_ids(spark):
    from ratatool_spark.operators.retrieval import (
        save_bm25_index,
        update_bm25_index,
    )

    docs = spark.createDataFrame(DOCS[:4], "doc_id long, text string")
    idx = os.path.join(tempfile.mkdtemp(), "dup_idx")
    save_bm25_index(docs, idx)
    with pytest.raises(Exception, match="already indexed"):
        update_bm25_index(spark, idx, docs.where("doc_id = 1"))


def test_bm25_save_rejects_duplicate_ids(spark):
    """Two input rows sharing a doc_id fail the build by name, whether
    the rows differ in length or not, and leave no postings behind."""
    from ratatool_spark.operators.retrieval import save_bm25_index

    for rows in (
        [(1, "red fox"), (1, "blue whale swims"), (2, "red whale")],
        [(1, "red fox"), (1, "red fox"), (2, "red whale")],
    ):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        idx = os.path.join(tempfile.mkdtemp(), "dup_build")
        with pytest.raises(ValueError, match="more than one input row"):
            save_bm25_index(docs, idx)
        assert not os.path.exists(os.path.join(idx, "postings"))
        assert not os.path.exists(os.path.join(idx, "stats.json"))


def test_bm25_incremental_update_restores_orphaned_snapshot(spark):
    import shutil

    from ratatool_spark.operators.retrieval import (
        bm25_topk_index,
        save_bm25_index,
        update_bm25_index,
    )

    docs = spark.createDataFrame(DOCS[:4], "doc_id long, text string")
    root = tempfile.mkdtemp()
    idx = os.path.join(root, "orph_idx")
    save_bm25_index(docs.where("doc_id < 2"), idx)
    # simulate a crash between the two renames: only snapshot at __old__
    shutil.move(idx, idx + ".__old__")
    out = update_bm25_index(spark, idx, docs.where("doc_id >= 2"))
    assert out["n_docs"] == 4
    q = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    assert bm25_topk_index(spark, idx, q, k=10).count() > 0
    assert not os.path.exists(idx + ".__old__")


def test_rbo_overlap_hand_computed(spark):
    from ratatool_spark.operators.retrieval import rbo_overlap

    a = spark.createDataFrame(
        [(1, "x", 1), (1, "y", 2), (1, "z", 3), (2, "only_a", 1)],
        "query_id long, doc_id string, rank long",
    )
    b = spark.createDataFrame(
        [(1, "x", 1), (1, "z", 2), (1, "w", 3)],
        "query_id long, doc_id string, rank long",
    )
    got = {r.query_id: r.rbo for r in rbo_overlap(a, b, p=0.5, depth=3).collect()}
    # X1=1, X2=1, X3=2 -> 0.5*(1 + 0.5*1/2 + 0.25*2/3)
    assert got[1] == pytest.approx(0.5 * (1 + 0.25 + 0.5 / 3), abs=1e-8)
    assert got[2] == 0.0  # query with zero overlap still reported


def test_rbo_overlap_identical_rankings_approach_one(spark):
    from ratatool_spark.operators.retrieval import rbo_overlap

    rows = [(1, f"d{i}", i) for i in range(1, 6)]
    a = spark.createDataFrame(rows, "query_id long, doc_id string, rank long")
    got = rbo_overlap(a, a, p=0.9, depth=5).collect()[0].rbo
    # identical prefixes: RBO@d = (1-p) * sum p^(i-1) (X_i = i)
    want = 0.1 * sum(0.9 ** (i - 1) for i in range(1, 6))
    assert got == pytest.approx(want, abs=1e-8)
    with pytest.raises(ValueError, match="p must be"):
        rbo_overlap(a, a, p=1.0)


def test_bm25_k_validation(tables):
    docs, q = tables
    with pytest.raises(ValueError, match="k must be"):
        bm25_topk(docs, q, k=0)


def test_bm25_no_broadcast_hint_same_results(tables):
    docs, q = tables
    a = sorted(map(tuple, bm25_topk(docs, q, k=10).collect()))
    b = sorted(
        map(tuple, bm25_topk(docs, q, k=10, broadcast_queries=False).collect())
    )
    assert a == b


def test_quantized_ann_recall_floors(spark):
    """Pins the accuracy of the quantized scanners at the driver's
    correctness SF (sf0.01 — the ann_quantized_recall gate's fixture;
    the sf0.001 corpus has margins so tight that a single int8 rounding
    flip drops below the floor): sq8 is near-lossless vs exact cosine
    truth;
    PQ-as-candidate-generator (top-20, 16x64 codebooks) must retain the
    exact-L2 top-3 at recall >= 0.9 averaged over queries — the
    PQ + exact-re-rank pipeline contract."""
    from pyspark.sql import functions as F

    from ratatool_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_l2,
        pq_encode,
        pq_topk,
        sq8_topk,
        topk_recall,
        train_pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5)
    sq8_avg = (
        topk_recall(brute_force_topk(emb, q, k=3), sq8_topk(emb, q, k=3))
        .agg(F.avg("recall"))
        .first()[0]
    )
    assert sq8_avg >= 0.9, sq8_avg
    books = train_pq_codebooks(emb, m=16, k=64, seed=13, train_iters=0)
    pq = pq_topk(pq_encode(emb, books), q, books, k=20)
    pq_avg = (
        topk_recall(brute_force_topk_l2(emb, q, k=3), pq)
        .agg(F.avg("recall"))
        .first()[0]
    )
    assert pq_avg >= 0.9, pq_avg


def test_multiprobe_lsh_recall_at_least_single_probe(spark):
    """Probing the lowest-margin flipped buckets can only ADD candidates
    a single-probe query would miss: per-query recall against exact
    truth must be >= the single-bucket LSH's, and candidate volume must
    grow with n_probe. n_probe=1 must equal lsh_topk exactly."""
    from pyspark.sql import functions as F

    from ratatool_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
        multiprobe_lsh_topk,
        topk_recall,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 8)
    truth = brute_force_topk(emb, q, k=3).persist()
    single = lsh_topk(emb, q, k=3, num_planes=8, seed=7, dim=64)
    multi = multiprobe_lsh_topk(
        emb, q, k=3, num_planes=8, seed=7, dim=64, n_probe=4
    )
    r1 = {
        r["query_id"]: r["recall"]
        for r in topk_recall(truth, single).collect()
    }
    r4 = {
        r["query_id"]: r["recall"]
        for r in topk_recall(truth, multi).collect()
    }
    assert all(r4[k] >= r1[k] for k in r1), (r1, r4)
    assert sum(r4.values()) > sum(r1.values())  # strictly better somewhere

    p1 = multiprobe_lsh_topk(
        emb, q, k=3, num_planes=8, seed=7, dim=64, n_probe=1
    )
    a = sorted(map(tuple, p1.select("query_id", "neighbor_id", "rank").collect()))
    b = sorted(map(tuple, single.select("query_id", "neighbor_id", "rank").collect()))
    assert a == b
