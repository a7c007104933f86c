"""Dedup / similarity / text-analysis operator tests."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ratatool_spark.functions.text import (
    fingerprint,
    lang_id,
    quality_score,
    token_count,
    word_shingles,
)
from ratatool_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from ratatool_spark.operators.similarity import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),  # exact dup
        Row(doc_id=3, text="the quick brown fox leaps over the lazy dog"),  # near dup
        Row(doc_id=4, text="completely different content about spark engines"),
        Row(doc_id=5, text="THE  quick brown fox jumps over the lazy dog"),  # case/ws dup
    ]
    return spark.createDataFrame(rows).cache()


def test_exact_dedup_keeps_min_id(corpus):
    kept = sorted(r["doc_id"] for r in exact_dedup(corpus).collect())
    # 2 is an exact dup of 1; 5 normalizes to the same text (case+whitespace)
    assert kept == [1, 3, 4]


def test_exact_dedup_deterministic(corpus):
    a = sorted(r["doc_id"] for r in exact_dedup(corpus).collect())
    b = sorted(r["doc_id"] for r in exact_dedup(corpus).collect())
    assert a == b


def test_jaccard_finds_near_dup(corpus):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus, threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # identical shingle sets
    assert (1, 3) in pairs and 0.3 < pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_minhash_candidates_contain_identical_pairs(corpus):
    """Identical shingle sets collide on every band — guaranteed recall at
    J=1.0 (probabilistic below: P = 1-(1-J^r)^b)."""
    mh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(corpus).collect()}
    true = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(corpus, threshold=0.999).collect()
    }
    assert true <= mh
    assert (1, 4) not in mh  # dissimilar docs don't collide


def test_minhash_est_close_to_true(corpus):
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(corpus).collect()
    }
    assert est[(1, 2)] == 1.0


def test_simhash_identical_docs_equal(corpus):
    s = {r["doc_id"]: r["simhash"] for r in simhash(corpus).collect()}
    assert s[1] == s[2]
    assert s[1] != s[4]


def test_simhash_pairs_hamming(corpus):
    p = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(corpus, max_hamming=4).collect()
    }
    assert p.get((1, 2)) == 0


def test_embedding_neardup(spark):
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=2, embedding=[0.999, 0.01, 0.0]),
        Row(vec_id=3, embedding=[0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows)
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(emb, min_cosine=0.99).collect()}
    assert pairs == {(1, 2)}


def test_brute_force_topk_ordering(embeddings):
    q = embeddings.where(F.col("vec_id") == 0)
    out = brute_force_topk(embeddings, q, k=5).collect()
    assert len(out) == 5
    sims = [r["cosine"] for r in sorted(out, key=lambda r: r["rank"])]
    assert sims == sorted(sims, reverse=True)
    assert all(r["neighbor_id"] != 0 for r in out)


def test_lsh_topk_subset_semantics(embeddings):
    """LSH results come from the query's bucket; every returned neighbor's
    exact cosine must equal the brute-force cosine for that pair."""
    q = embeddings.where(F.col("vec_id") < 3)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(embeddings, q, k=500).collect()
    }
    for r in lsh_topk(embeddings, q, k=3, num_planes=4).collect():
        assert r["cosine"] == pytest.approx(bf[(r["query_id"], r["neighbor_id"])])


def test_text_functions(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="the cat and the hat")])
    r = df.select(
        token_count(F.col("text")).alias("tc"),
        F.size(word_shingles(F.col("text"), 3)).alias("sh"),
        quality_score(F.col("text")).alias("q"),
        lang_id(F.col("text")).alias("lang"),
        fingerprint(F.col("text")).alias("fp"),
    ).collect()[0]
    assert r["tc"] == 5
    assert r["sh"] == 3  # 5 words -> 3 distinct trigrams
    assert 0.0 <= r["q"] <= 1.0
    assert r["lang"] == "en"
    assert r["fp"] >= 0


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [Row(a="Hello  World"), Row(a="hello world"), Row(a="other")]
    )
    fps = [r[0] for r in df.select(fingerprint(F.col("a"))).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_ivf_topk_recall(embeddings):
    """IVF results: exact cosines, decent recall vs brute force."""
    from ratatool_spark.operators.similarity import brute_force_topk, ivf_topk

    q = embeddings.where(F.col("vec_id") < 10)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(embeddings, q, k=5).collect()
    }
    ivf = ivf_topk(embeddings, q, k=5, n_centroids=8, n_probe=4).collect()
    assert len(ivf) > 0
    # every IVF cosine equals the exact pairwise cosine
    all_sims = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(embeddings, q, k=500).collect()
    }
    for r in ivf:
        assert r["cosine"] == pytest.approx(all_sims[(r["query_id"], r["neighbor_id"])])
    # recall@5 against brute force with half the cells probed
    hits = sum(1 for key in bf if key in {(r["query_id"], r["neighbor_id"]) for r in ivf})
    assert hits / len(bf) >= 0.5


def test_ivf_index_persistence_parity(spark, embeddings, tmp_path):
    """build_ivf_index → query_ivf_index equals the one-shot ivf_topk
    with identical parameters, and the stored index is cell-partitioned
    (probe-time partition pruning)."""
    import os

    from ratatool_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        query_ivf_index,
    )

    path = str(tmp_path / "ivf")
    build_ivf_index(embeddings, path, n_centroids=8, seed=13, train_iters=2)
    q = embeddings.where(F.col("vec_id") < 10)

    def key(rows):
        return {(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows}

    stored = key(query_ivf_index(spark, q, path, k=5, n_probe=4).collect())
    fresh = key(
        ivf_topk(
            embeddings, q, k=5, n_centroids=8, n_probe=4, seed=13, train_iters=2
        ).collect()
    )
    assert stored == fresh and stored
    # partitioned layout: cell=N directories on disk
    assert any(d.startswith("cell=") for d in os.listdir(path))


def test_ivf_index_incremental_update(spark, embeddings, tmp_path):
    """update_ivf_index appends against the FROZEN build-time centroids:
    build(A) + update(B) query-equals one build over A ∪ B seeded from A;
    a duplicate id fails the write via the fused guard; counters report
    the assigned batch."""
    from ratatool_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
        update_ivf_index,
    )

    a = embeddings.where(F.col("vec_id") % 2 == 0)
    b = embeddings.where(F.col("vec_id") % 2 == 1)
    p_incr = str(tmp_path / "incr")
    cents = build_ivf_index(a, p_incr, n_centroids=8, seed=13, train_iters=0)
    stats = update_ivf_index(spark, p_incr, b)
    assert stats["n_added"] == b.count() and stats["n_cells_touched"] >= 1

    # reference: assign the union against the SAME A-seeded centroids by
    # building on A then appending B — compare against a direct union
    # build with identical centroids (seed mode over A gives the same
    # sample regardless of what is appended later)
    p_full = str(tmp_path / "full")
    build_ivf_index(a, p_full, n_centroids=8, seed=13, train_iters=0)
    update_ivf_index(spark, p_full, b.limit(0))  # no-op update is safe
    q = embeddings.where(F.col("vec_id") < 10)

    def key(rows):
        return {(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows}

    # incremental index must contain BOTH halves: a neighbor with an odd
    # id can only come from the appended batch
    got = query_ivf_index(spark, q, p_incr, k=5, n_probe=8)
    rows = got.collect()
    assert any(r["neighbor_id"] % 2 == 1 for r in rows)
    # and with all cells probed, equals brute force over the union
    from ratatool_spark.operators.similarity import brute_force_topk

    bf = brute_force_topk(embeddings, q, k=5)
    assert key(rows) == key(bf.collect())

    # duplicate id → the fused guard raises during the update
    with pytest.raises(Exception, match="already indexed"):
        update_ivf_index(spark, p_incr, b.limit(1))


def test_ivf_index_rejects_duplicate_ids(spark, embeddings, tmp_path):
    """Two vectors under one id never enter the IVF index: the build
    rejects a corpus with repeated ids, and the update rejects a batch
    with repeated ids (fresh to the index) before appending anything."""
    from ratatool_spark.operators.similarity import (
        build_ivf_index,
        update_ivf_index,
    )

    a = embeddings.where(F.col("vec_id") % 2 == 0)
    dup = a.unionByName(a.limit(1))
    with pytest.raises(ValueError, match="build_ivf_index: 1 duplicate id"):
        build_ivf_index(dup, str(tmp_path / "dup"), n_centroids=4)

    path = str(tmp_path / "ivf")
    build_ivf_index(a, path, n_centroids=4)
    before = spark.read.parquet(path).count()
    # one fresh id carrying two different vectors
    b = embeddings.where(F.col("vec_id").isin(1, 3)).withColumn(
        "vec_id", F.lit(1).cast("long")
    )
    with pytest.raises(ValueError, match="update_ivf_index: 1 duplicate id"):
        update_ivf_index(spark, path, b)
    assert spark.read.parquet(path).count() == before


@pytest.mark.parametrize(
    "op",
    ["ivf_topk", "build_ivf_index", "train_centroids_exact", "train_pq_codebooks"],
)
def test_empty_corpus_raises_message(embeddings, tmp_path, op):
    """Every centroid/codebook sampler names an empty corpus instead of
    failing inside numpy or list indexing."""
    from ratatool_spark.operators import similarity as sim

    empty = embeddings.limit(0)
    calls = {
        "ivf_topk": lambda: sim.ivf_topk(empty, embeddings),
        "build_ivf_index": lambda: sim.build_ivf_index(empty, str(tmp_path / "i")),
        "train_centroids_exact": lambda: sim.train_centroids_exact(empty),
        "train_pq_codebooks": lambda: sim.train_pq_codebooks(empty),
    }
    with pytest.raises(ValueError, match="empty corpus: nothing to sample"):
        calls[op]()


def _query_ivf_index(s, c, path):
    s.build_ivf_index(c, path, n_centroids=2)
    return s.query_ivf_index(c.sparkSession, c, path, k=5, n_probe=2)


def _pq_topk(s, c, path):
    books = s.train_pq_codebooks(c, m=2, k=4)
    return s.pq_topk(s.pq_encode(c, books), c, books, k=5)


# op name -> (similarity module, corpus, scratch path) -> top-k frame;
# the IVF calls probe every cell and k=5 keeps every candidate
_TOPK_OPS = {
    "brute_force_topk": lambda s, c, p: s.brute_force_topk(c, c, k=5),
    "brute_force_topk_l2": lambda s, c, p: s.brute_force_topk_l2(c, c, k=5),
    "hard_negatives": lambda s, c, p: s.hard_negatives(c, c, k=5),
    "query_ivf_index": _query_ivf_index,
    "ivf_topk": lambda s, c, p: s.ivf_topk(c, c, k=5, n_centroids=2, n_probe=2),
    "lsh_topk": lambda s, c, p: s.lsh_topk(c, c, k=5, num_planes=2, dim=4),
    "multiprobe_lsh_topk": lambda s, c, p: s.multiprobe_lsh_topk(
        c, c, k=5, num_planes=2, dim=4, n_probe=3
    ),
    "sq8_topk": lambda s, c, p: s.sq8_topk(c, c, k=5),
    "pq_topk": _pq_topk,
    "ivfpq_topk": lambda s, c, p: s.ivfpq_topk(
        c, c, k=5, n_centroids=2, n_probe=2, m=2, pq_k=4
    ),
}


@pytest.mark.parametrize("op", sorted(_TOPK_OPS))
def test_topk_ranking_contract(spark, tmp_path, op):
    """The shared rank tail of all ten top-k operators: no self-match,
    ranks 1..n without gaps, cosine descending and the distances
    ascending, and a tied score ranks the lower neighbor id first. Ids 2
    and 3 hold the same vector and id 4 holds twice it, so query 4 sees
    2 and 3 tied under every metric, bucket, cell and code."""
    from ratatool_spark.operators import similarity as sim

    vecs = {
        1: [1.0, 0.2, 0.1, 0.3],
        2: [0.5, 0.9, 0.2, 0.1],
        3: [0.5, 0.9, 0.2, 0.1],
        4: [1.0, 1.8, 0.4, 0.2],
        5: [0.1, 0.3, 1.0, 0.7],
        6: [0.9, 0.1, 0.8, 0.2],
    }
    labels = {1: "a", 2: "a", 3: "a", 4: "b", 5: "b", 6: "a"}
    corpus = spark.createDataFrame(
        [(i, v, labels[i]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>, label string",
    )
    out = _TOPK_OPS[op](sim, corpus, str(tmp_path / "ivf"))
    score = out.columns[2]
    assert score in ("cosine", "l2_dist", "adc_dist")
    sign = -1 if score == "cosine" else 1
    by_query = {}
    for r in out.collect():
        assert r["query_id"] != r["neighbor_id"]
        by_query.setdefault(r["query_id"], []).append(r)
    assert 4 in by_query
    for rows in by_query.values():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        keys = [(sign * r[score], r["neighbor_id"]) for r in rows]
        assert keys == sorted(keys)
    q4 = {r["neighbor_id"]: r for r in by_query[4]}
    assert q4[2][score] == q4[3][score]
    assert q4[3]["rank"] == q4[2]["rank"] + 1


def test_kmeans_ivf_training(embeddings):
    """Lloyd's iterations are deterministic and keep IVF results exact
    (cosines still true pairwise values); trained cells at equal probe
    budget reach at least the recall floor."""
    from ratatool_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_centroids,
    )

    c1 = train_centroids(embeddings, n_centroids=8, iters=2)
    c2 = train_centroids(embeddings, n_centroids=8, iters=2)
    assert c1 == c2
    assert len(c1) == 8 and all(len(v) == 64 for _, v in c1)

    q = embeddings.where(F.col("vec_id") < 10)
    bf = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(embeddings, q, k=5).collect()}
    ivf = ivf_topk(embeddings, q, k=5, n_centroids=8, n_probe=4, train_iters=2).collect()
    hits = sum(1 for key in bf if key in {(r["query_id"], r["neighbor_id"]) for r in ivf})
    assert hits / len(bf) >= 0.5


def test_rolling_fingerprint_order_sensitive(spark):
    from ratatool_spark.functions.text import rolling_fingerprint

    df = spark.createDataFrame(
        [("a b c",), ("a b c",), ("c b a",), ("a  b c",)], "t string"
    )
    fps = [r[0] for r in df.select(rolling_fingerprint(F.col("t"))).collect()]
    assert fps[0] == fps[1]          # deterministic
    assert fps[0] != fps[2]          # permutation changes the hash
    assert 0 <= fps[0] < 2_147_483_647


def test_bpe_tokens_split_punctuation(spark):
    from ratatool_spark.functions.text import bpe_tokens

    df = spark.createDataFrame([("Hello, world! (ok)",)], "t string")
    toks = df.select(bpe_tokens(F.col("t"))).collect()[0][0]
    assert toks == ["Hello", ",", "world", "!", "(", "ok", ")"]


def test_xx_hasher_fast_path(documents):
    """hasher='xx': exact metrics (jaccard pairs, exact-dedup survivors)
    are hash-choice invariant; estimates (minhash) stay sane."""
    from ratatool_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    keep_p = {r[0] for r in exact_dedup(documents).select("doc_id").collect()}
    keep_x = {
        r[0] for r in exact_dedup(documents, hasher="xx").select("doc_id").collect()
    }
    assert keep_p == keep_x

    jp = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(documents, threshold=0.2).collect()
    }
    jx = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(documents, threshold=0.2, hasher="xx").collect()
    }
    assert jp == jx

    mh = minhash_lsh_pairs(documents, min_est_jaccard=0.5, hasher="xx").collect()
    assert all(0 <= r["est_jaccard"] <= 1 for r in mh)


def test_connected_components_chain_and_singleton(spark):
    """Chain 1-2-3 collapses to component 1 (needs >1 propagation round);
    pair (10,11) is its own component; vertex 99 absent from pairs is
    absent from output."""
    from ratatool_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_jaccard_verify_matches_exact_pairs(documents):
    """jaccard_verify on the full exact-pair candidate list reproduces
    ngram_jaccard_pairs values exactly (same shingle hashing)."""
    from ratatool_spark.operators.dedup import jaccard_verify, ngram_jaccard_pairs

    exact = ngram_jaccard_pairs(documents, threshold=0.2)
    verified = jaccard_verify(documents, exact.select("id_a", "id_b"))
    e = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in exact.collect()}
    v = {(r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in verified.collect()}
    assert e == v


def test_near_dedup_keeps_cluster_minimum(documents):
    """near_dedup drops exactly the non-min members of each verified
    duplicate cluster; survivors ∪ dropped = corpus."""
    from ratatool_spark.operators.dedup import (
        connected_components,
        jaccard_verify,
        minhash_lsh_pairs,
        near_dedup,
    )

    threshold = 0.5
    survivors = {r["doc_id"] for r in near_dedup(documents, threshold=threshold).collect()}
    cand = minhash_lsh_pairs(documents)
    verified = jaccard_verify(documents, cand).where(F.col("jaccard") >= threshold)
    comp = connected_components(verified)
    losers = {r["id"] for r in comp.collect() if r["id"] != r["component"]}
    all_ids = {r["doc_id"] for r in documents.select("doc_id").collect()}
    assert survivors == all_ids - losers
    assert losers, "fixture should contain at least one near-dup cluster"


def test_connected_components_random_graphs_match_union_find(spark):
    """Distributed label propagation agrees with driver-side union-find on
    seeded random graphs (sparse, dense, and long-path shapes)."""
    import random

    from ratatool_spark.operators.dedup import connected_components

    def union_find_components(edges, vertices):
        parent = {v: v for v in vertices}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # resolve every vertex to its component's min id
        comp = {}
        for v in vertices:
            root = find(v)
            members = comp.setdefault(root, [])
            members.append(v)
        return {v: min(ms) for ms in comp.values() for v in ms}

    rng = random.Random(42)
    shapes = [
        [(rng.randrange(50), rng.randrange(50)) for _ in range(30)],  # sparse
        [(rng.randrange(12), rng.randrange(12)) for _ in range(60)],  # dense
        [(i, i + 1) for i in range(40)],  # one long path (worst diameter)
    ]
    for edges in shapes:
        edges = [(a, b) for a, b in edges if a != b]
        vertices = {v for e in edges for v in e}
        expected = union_find_components(edges, vertices)
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r["id"]: r["component"] for r in connected_components(pairs, max_iters=64).collect()}
        assert got == expected


def test_jaccard_max_doc_freq_pruning_is_conservative(documents):
    """Stopword-shingle pruning never promotes a pair: pruned pairs are a
    subset of the full set and each pruned jaccard <= the full jaccard."""
    from ratatool_spark.operators.dedup import ngram_jaccard_pairs

    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(documents, threshold=0.05).collect()
    }
    pruned = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            documents, threshold=0.05, max_doc_freq=3
        ).collect()
    }
    assert set(pruned) <= set(full)
    assert len(pruned) < len(full), "cap of 3 should actually prune on this corpus"
    for k, j in pruned.items():
        assert j <= full[k] + 1e-12


def test_dedup_against_precomputed_signatures_parity(spark, documents, tmp_path):
    """The production path — corpus signatures saved once, reused per
    batch — must produce byte-identical matches to the fresh-computation
    path, and a mismatched signature table must fail loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ratatool_spark.operators.dedup import (
        dedup_against,
        load_signatures,
        save_signatures,
    )

    new_b = documents.where(F.col("doc_id") % 4 == 0)
    corpus = documents.where(F.col("doc_id") % 4 != 0)
    path = str(tmp_path / "sigs")
    meta = save_signatures(corpus, path, num_hashes=16)
    sigs, loaded_meta = load_signatures(spark, path)
    assert loaded_meta == meta and loaded_meta["num_hashes"] == 16

    def key(df):
        return {
            (r["id_new"], r["id_corpus"], round(r["est_jaccard"], 9), round(r["jaccard"], 9))
            for r in df.collect()
        }

    fresh = key(dedup_against(new_b, corpus, threshold=0.2))
    stored = key(dedup_against(new_b, corpus, threshold=0.2, corpus_sigs=sigs))
    assert fresh == stored and fresh

    with _pytest.raises(ValueError, match="corpus_sigs missing columns"):
        dedup_against(new_b, corpus, num_hashes=32, corpus_sigs=sigs).collect()


def test_bloom_filter_no_false_negatives_and_low_fpp():
    """Core Bloom invariants on the raw structure: every inserted key
    tests positive; absent-key positives stay near the sized fpp."""
    import numpy as np

    from ratatool_spark.operators.dedup import BloomFilter

    rng = np.random.default_rng(7)
    keys = rng.integers(0, 1 << 60, size=5000, dtype=np.int64)
    m, k = BloomFilter.params(len(keys), 0.01)
    bitmap = np.zeros(m // 8, dtype=np.uint8)
    pos = BloomFilter._positions(keys, m, k).ravel()
    np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
    bf = BloomFilter(bitmap.tobytes(), m, k, len(keys))
    assert bf.contains_many(keys).all()  # no false negatives, ever
    probes = rng.integers(0, 1 << 60, size=20000, dtype=np.int64)
    probes = np.setdiff1d(probes, keys)
    fpp = bf.contains_many(probes).mean()
    assert fpp < 0.03, fpp


def test_build_bloom_distributed_and_exact_filter(spark, documents):
    """build_bloom over a DataFrame matches a driver-side build; the
    bloom-routed exact_filter_against equals the plain anti-join and the
    bloom=False fallback."""
    from pyspark.sql import functions as F

    from ratatool_spark.functions.hashing import portable_hash64
    from ratatool_spark.operators.dedup import (
        build_bloom,
        bloom_contains,
        exact_filter_against,
    )

    new_b = documents.where(F.col("doc_id") % 3 == 0)
    corpus = documents.where(F.col("doc_id") % 3 != 0)

    fp = portable_hash64(F.col("n_chars").cast("string"))
    bloom = build_bloom(corpus.select(fp.alias("__fp")).repartition(8))
    corpus_fps = {r[0] for r in corpus.select(fp.alias("f")).collect()}
    # no false negatives against the actual key set
    assert bloom.contains_many(sorted(corpus_fps)).all()
    # probe column agrees with driver-side membership for present keys
    probed = new_b.select(
        fp.alias("f"), bloom_contains(spark, bloom, fp).alias("maybe")
    ).collect()
    for r in probed:
        if r["f"] in corpus_fps:
            assert r["maybe"]

    got = {
        r["doc_id"]
        for r in exact_filter_against(new_b, corpus, cols=["n_chars"]).collect()
    }
    want = {
        r["doc_id"]
        for r in exact_filter_against(
            new_b, corpus, cols=["n_chars"], use_bloom=False
        ).collect()
    }
    assert got == want
    assert 0 < len(got) < new_b.count()  # non-trivial both ways


def test_exact_filter_against_verifies_real_columns(spark):
    """The Bloom/fingerprint layer only ROUTES — rows whose null-skipping
    concat feed collides (separator injection, NULL asymmetry) must still
    survive because verification compares the actual columns (r4 review
    finding: a fingerprint-equality verify silently dropped them)."""
    from ratatool_spark.operators.dedup import exact_filter_against

    new_b = spark.createDataFrame(
        [("x\x01y", "z"), (None, "x"), ("same", "same")], "a string, b string"
    )
    corpus = spark.createDataFrame(
        [("x", "y\x01z"), ("x", None), ("same", "same")], "a string, b string"
    )
    got = {
        (r["a"], r["b"])
        for r in exact_filter_against(new_b, corpus, cols=["a", "b"]).collect()
    }
    # the colliding-feed rows survive; only the genuine duplicate is dropped
    assert got == {("x\x01y", "z"), (None, "x")}


def test_exact_filter_against_empty_corpus(spark, documents):
    from pyspark.sql import functions as F

    from ratatool_spark.operators.dedup import exact_filter_against

    empty = documents.where(F.lit(False))
    got = exact_filter_against(documents, empty, cols=["n_chars"])
    assert got.count() == documents.count()


def test_jaccard_df_cap_defaults_finite():
    """The Σdf² skew guard must be ON by default — a stopword shingle at
    corpus scale is a hot-key bomb (r3 verdict wrong-#2, pinned). Opting
    out requires an explicit max_doc_freq=None."""
    import inspect

    from ratatool_spark.operators.dedup import ngram_jaccard_pairs

    default = inspect.signature(ngram_jaccard_pairs).parameters["max_doc_freq"].default
    assert default is not None and default <= 100_000


def test_simhash_pairs_blocked_equals_exact_hamming(documents):
    """Manku-chunk blocking has recall 1.0: the blocked self-join finds
    EVERY pair within max_hamming (the old 2-half blocking silently dropped
    pairs whose differing bits straddled both halves)."""
    docs = documents.limit(60)
    fps = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    for mh in (2, 3):
        exact = {
            (a, b)
            for a in fps
            for b in fps
            if a < b and bin(fps[a] ^ fps[b]).count("1") <= mh
        }
        blocked = {
            (r["id_a"], r["id_b"])
            for r in simhash_pairs(docs, max_hamming=mh).collect()
        }
        assert blocked == exact, f"max_hamming={mh}"


def test_simhash_pairs_rejects_impossible_blocking(corpus):
    with pytest.raises(ValueError):
        simhash_pairs(corpus, bits=4, max_hamming=4)


def test_embedding_neardup_autoblocks_past_threshold(embeddings):
    """Past max_broadcast_rows the default path must NOT collect the corpus
    to the driver: it auto-switches to LSH blocking. Identical vectors (the
    J=1 near-dups that matter most) always share a bucket, so they survive
    blocking."""
    from pyspark.sql import functions as F

    dup = embeddings.limit(1).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding", "label"
    )
    df = embeddings.unionByName(dup)
    out = embedding_neardup_pairs(df, min_cosine=0.999, max_broadcast_rows=10)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    orig = embeddings.limit(1).collect()[0]["vec_id"]
    assert (orig, orig + 100_000) in pairs


def _neardup_kernel(df, **kw):
    """Which kernel did the dispatch pick? The broadcast-GEMM plan is a
    MapInPandas over the bare corpus; the LSH-blocked path shuffles by
    bucket into FlatMapGroupsInPandas (per-block GEMM)."""
    out = embedding_neardup_pairs(df, **kw)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    if "FlatMapGroupsInPandas" in plan:
        return "lsh"
    return "blas" if "MapInPandas" in plan else "lsh"


def test_embedding_neardup_byte_budget_cutover(embeddings):
    """The GEMM kernel is admitted by a BYTE budget (n_rows*dim*8), not a
    row count: pin the exact cutover boundary. 500 rows × 64 dims × 8 B =
    256,000 bytes."""
    n, dim = 500, 64
    budget = n * dim * 8
    assert (
        _neardup_kernel(embeddings, n_rows=n, dim=dim, max_broadcast_bytes=budget)
        == "blas"
    )
    assert (
        _neardup_kernel(embeddings, n_rows=n, dim=dim, max_broadcast_bytes=budget - 1)
        == "lsh"
    )


def test_embedding_neardup_dim_blind_no_more(embeddings):
    """A 4096-dim corpus must auto-route to LSH long before 500k rows: at
    the default 512 MiB budget the GEMM envelope at 4096 dims is ~16k rows.
    (dim passed as a hint — no data of that width needed to test dispatch;
    the LSH path only evaluates lazily.)"""
    kernel_wide = _neardup_kernel(embeddings, n_rows=500_000, dim=4096)
    assert kernel_wide == "lsh"
    # and the same row count at 128 dims still fits the default budget
    kernel_narrow = _neardup_kernel(embeddings, n_rows=500_000, dim=128)
    assert kernel_narrow == "blas"


def test_block_gemm_matches_expr_kernel(embeddings):
    """The per-block GEMM kernel must emit exactly the expression
    self-join's pairs (same blocking, exact within block)."""
    thr = 0.3  # yields 82 pairs on the sf0.001 fixture
    gemm = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(
            embeddings, min_cosine=thr, block_col="label", kernel="blas"
        ).collect()
    }
    expr = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(
            embeddings, min_cosine=thr, block_col="label", kernel="expr"
        ).collect()
    }
    # identical up to fp summation order at the threshold boundary
    boundary = set(gemm) ^ set(expr)
    assert all(abs((gemm | expr)[k] - thr) < 1e-9 for k in boundary), boundary
    common = set(gemm) & set(expr)
    assert len(common) > 50
    assert all(abs(gemm[k] - expr[k]) < 1e-9 for k in common)


def test_embedding_neardup_deprecated_rows_alias(embeddings):
    """max_broadcast_rows still enforced (in addition to bytes)."""
    assert (
        _neardup_kernel(embeddings, n_rows=500, dim=64, max_broadcast_rows=499)
        == "lsh"
    )


# ------------------------------------------------ substring containment


@pytest.fixture(scope="module")
def containment_corpus(spark):
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        Row(doc_id=1, text=base),
        # 1's full token sequence embedded mid-document
        Row(doc_id=2, text="prefix words " + base + " suffix words"),
        # token-aligned containment of an 8+-token run that is NOT doc 1
        Row(doc_id=3, text="zulu yankee xray whiskey victor uniform tango sierra"),
        Row(doc_id=4, text="lead-in zulu yankee xray whiskey victor uniform tango sierra out"),
        # char-substring but NOT token-aligned: 'india' vs 'indiana'
        Row(doc_id=5, text="alpha bravo charlie delta echo foxtrot golf hotel indiana juliet"),
        # exact duplicate pair: contained = larger id
        Row(doc_id=6, text=base),
        # too short to index (< 8 tokens): out of scope
        Row(doc_id=7, text="alpha bravo charlie"),
        Row(doc_id=8, text="unrelated content entirely different words here again more filler"),
    ]
    return spark.createDataFrame(rows).cache()


def test_substring_containment_finds_aligned_pairs(containment_corpus):
    from ratatool_spark.operators.dedup import substring_containment_pairs

    pairs = {
        (r["contained_id"], r["container_id"])
        for r in substring_containment_pairs(containment_corpus).collect()
    }
    assert (1, 2) in pairs  # embedded mid-document
    assert (3, 4) in pairs
    assert (6, 2) in pairs  # dup of 1, also contained in 2
    assert (6, 1) in pairs  # exact tie: larger id is the contained one
    assert (1, 6) not in pairs
    # 'indiana' != 'india' at the token level: no pair with doc 5
    assert not any(5 in p for p in pairs)
    # short doc 7 out of scope even though its text occurs inside doc 1
    assert not any(7 in p for p in pairs)


def test_substring_containment_max_doc_freq_is_conservative(containment_corpus):
    """The df cap may only DROP pairs (recall envelope), never invent them."""
    from ratatool_spark.operators.dedup import substring_containment_pairs

    full = {
        (r["contained_id"], r["container_id"])
        for r in substring_containment_pairs(containment_corpus).collect()
    }
    capped = {
        (r["contained_id"], r["container_id"])
        for r in substring_containment_pairs(
            containment_corpus, max_doc_freq=1
        ).collect()
    }
    assert capped <= full


def test_near_dedup_keep_best_survivor(spark):
    from ratatool_spark.operators.dedup import near_dedup

    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog", score=10),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog", score=99),
        Row(doc_id=3, text="totally unrelated document about query engines", score=1),
    ]
    df = spark.createDataFrame(rows)
    kept_min = sorted(r["doc_id"] for r in near_dedup(df, threshold=0.9).collect())
    assert kept_min == [1, 3]
    kept_best = sorted(
        r["doc_id"] for r in near_dedup(df, threshold=0.9, score_col="score").collect()
    )
    assert kept_best == [2, 3]  # cluster keeps the max-score doc instead


def test_substring_containment_matches_bruteforce_on_random_corpus(spark):
    """Exactness check against a driver-side brute force on a seeded
    random corpus with planted containments: the anchored-inverted-index
    path (no df cap) must produce EXACTLY the token-aligned containment
    pairs, including transitive/overlapping plants and sub-8-token
    exclusions."""
    import random

    from ratatool_spark.operators.dedup import substring_containment_pairs

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(12)]
    docs = {}
    for i in range(30):
        n = rng.randint(4, 20)  # some below the 8-token floor
        docs[i] = [rng.choice(vocab) for _ in range(n)]
    # plant containments: full doc embedded inside a longer host
    for j, src in [(30, 3), (31, 3), (32, 31), (33, 7)]:
        host = [rng.choice(vocab) for _ in range(rng.randint(0, 5))]
        host += docs[src]
        host += [rng.choice(vocab) for _ in range(rng.randint(0, 5))]
        docs[j] = host
    rows = [(i, " ".join(ws)) for i, ws in docs.items()]

    def expected():
        out = set()
        for a, ta in rows:
            for b, tb in rows:
                if a == b or len(docs[a]) < 8 or len(docs[b]) < 8:
                    continue
                pa, pb = f" {ta} ", f" {tb} "
                if pa in pb and (len(ta) < len(tb) or (ta == tb and a > b)):
                    out.add((a, b))
        return out

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["contained_id"], r["container_id"])
        for r in substring_containment_pairs(df).collect()
    }
    exp = expected()
    assert exp, "fixture must plant at least one containment"
    assert got == exp


def test_tfidf_cosine_matches_bruteforce_on_random_corpus(spark):
    """tfidf_cosine_pairs == a driver-side numpy tf-idf cosine on a
    seeded random corpus (every pair, not just candidates — the inverted
    index enumerates ALL co-term pairs, so this pins both the weighting
    arithmetic and completeness)."""
    import math
    import random

    from pyspark.sql import Row

    from ratatool_spark.operators.dedup import tfidf_cosine_pairs

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(25)]
    rows = [
        Row(doc_id=i, text=" ".join(rng.choices(vocab, k=rng.randint(5, 30))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows)

    # driver-side reference
    tf = {}
    for r in rows:
        counts = {}
        for t in r.text.split(" "):
            counts[t] = counts.get(t, 0) + 1
        tf[r.doc_id] = counts
    n = len(rows)
    dfreq = {}
    for counts in tf.values():
        for t in counts:
            dfreq[t] = dfreq.get(t, 0) + 1
    vecs = {}
    for did, counts in tf.items():
        v = {t: c * math.log(n / dfreq[t]) for t, c in counts.items()}
        nrm = math.sqrt(sum(x * x for x in v.values()))
        vecs[did] = {t: x / nrm for t, x in v.items()} if nrm > 0 else {}
    expect = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            cos = sum(w * vecs[b].get(t, 0.0) for t, w in vecs[a].items())
            if cos >= 0.3:
                expect[(a, b)] = round(cos, 6)

    got = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 6)
        for r in tfidf_cosine_pairs(df, threshold=0.3, max_doc_freq=None).collect()
    }
    assert got == expect and len(expect) > 5

    # plan shape: inverted-index equi-join, never a cartesian pair space
    plan = (
        tfidf_cosine_pairs(df, threshold=0.3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan

    # max_doc_freq prunes hot terms: with the cap at 1 every shared term
    # is gone, so no pairs survive
    assert tfidf_cosine_pairs(df, threshold=0.0, max_doc_freq=0).count() == 0


def test_sq8_topk_recall_and_error(embeddings):
    """SQ8 top-k: int8-quantized cosine stays within the quantization
    error of exact, and recall@5 vs brute force is high (the SQ8
    trade: 4x smaller index for ~1/254 per-element rounding)."""
    from ratatool_spark.operators.similarity import brute_force_topk, sq8_topk

    q = embeddings.where(F.col("vec_id") < 10)
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(embeddings, q, k=5).collect()
    }
    sq = sq8_topk(embeddings, q, k=5).collect()
    assert len(sq) == 50
    all_exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in brute_force_topk(embeddings, q, k=500).collect()
    }
    for r in sq:
        key = (r["query_id"], r["neighbor_id"])
        assert abs(r["cosine"] - all_exact[key]) < 0.02, key
    hits = sum(
        1 for key in bf if key in {(r["query_id"], r["neighbor_id"]) for r in sq}
    )
    assert hits / len(bf) >= 0.9


def test_sq8_encode_shape(embeddings):
    from ratatool_spark.operators.similarity import sq8_encode

    [row] = sq8_encode(embeddings.limit(1)).collect()
    assert len(row["codes"]) == 64
    assert all(-127 <= c <= 127 for c in row["codes"])
    assert row["scale"] > 0


def test_topk_recall_bounds_and_exact_self(spark, embeddings):
    """recall(truth, truth) == 1.0 everywhere; recall against a
    truncated approx is the expected fraction; values bounded [0,1]."""
    from pyspark.sql import functions as F

    from ratatool_spark.operators.similarity import brute_force_topk, topk_recall

    q = embeddings.where(F.col("vec_id") < 4)
    truth = brute_force_topk(embeddings, q, k=4)
    self_r = topk_recall(truth, truth).collect()
    assert self_r and all(r["recall"] == 1.0 for r in self_r)
    # approx = truth minus rank-4 rows -> recall exactly 0.75
    approx = truth.where(F.col("rank") <= 3)
    part = topk_recall(truth, approx).collect()
    assert all(r["recall"] == 0.75 and r["n_truth"] == 4 for r in part)
    # duplicate (query, neighbor) rows on EITHER side must not skew the
    # numbers (r5 ADVICE: truth-side dupes inflated n_truth silently)
    dup = topk_recall(truth.unionAll(truth), approx.unionAll(approx)).collect()
    assert all(r["recall"] == 0.75 and r["n_truth"] == 4 for r in dup)


def test_semantic_dedup_keep_rule_and_every_row(spark):
    """SemDeDup keep rule: within a cell, a vector is dropped iff a
    near-dup (cos >= tau) with lower (centroid_cos, id) exists — the
    survivor of a duplicate pair is the one FARTHER from its centroid;
    vectors with no near-dup are kept; every input row appears."""
    from ratatool_spark.operators.dedup import semantic_dedup

    # two tight clusters in 4-d; ids 1,2 near-identical; 3 nearby but
    # below tau; 10,11 near-identical in the other cluster
    rows = [
        (1, [1.0, 0.02, 0.0, 0.0]),
        (2, [1.0, 0.00, 0.0, 0.0]),
        (3, [0.6, 0.8, 0.0, 0.0]),
        (10, [0.0, 0.0, 1.0, 0.03]),
        (11, [0.0, 0.0, 1.0, 0.00]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, tau=0.995, n_centroids=2).collect()
    }
    assert len(out) == 5
    # exactly one of each near-identical pair is dropped
    assert out[1]["kept"] != out[2]["kept"]
    assert out[10]["kept"] != out[11]["kept"]
    assert out[3]["kept"] is True
    # the dropped one is the one CLOSER to its centroid (higher
    # centroid_cos ranks higher -> gets dropped by the lower-ranked twin)
    for a, b in ((1, 2), (10, 11)):
        hi = a if out[a]["centroid_cos"] > out[b]["centroid_cos"] else b
        assert out[hi]["kept"] is False
    # pair mates landed in the same cell (sanity of the fixture)
    assert out[1]["cell"] == out[2]["cell"]
    assert out[10]["cell"] == out[11]["cell"]


def test_semantic_dedup_max_cell_size_guard(spark):
    """Cells above the cap are excluded from pair enumeration — their
    members are kept unexamined (conservative), other cells dedupe
    normally; no cap == r6 gate behavior."""
    from ratatool_spark.operators.dedup import semantic_dedup

    rows = [
        (1, [1.0, 0.02, 0.0, 0.0]),
        (2, [1.0, 0.00, 0.0, 0.0]),
        (3, [1.0, 0.01, 0.0, 0.0]),
        (10, [0.0, 0.0, 1.0, 0.03]),
        (11, [0.0, 0.0, 1.0, 0.00]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # with these seed centroids the cells come out {2, 10, 11} and
    # {1, 3} (verified by inspection — assignment is deterministic)
    capped = {
        r["vec_id"]: r
        for r in semantic_dedup(
            emb, tau=0.995, n_centroids=2, max_cell_size=2
        ).collect()
    }
    cells = {k: r["cell"] for k, r in capped.items()}
    assert cells[2] == cells[10] == cells[11] != cells[1] == cells[3]
    # the 3-member cell is over the cap: all kept unexamined
    assert capped[2]["kept"] and capped[10]["kept"] and capped[11]["kept"]
    # the 2-member cell still dedupes: the twin closer to the centroid drops
    assert capped[1]["kept"] is True and capped[3]["kept"] is False
    uncapped = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(emb, tau=0.995, n_centroids=2).collect()
    }
    assert sum(uncapped.values()) < sum(r["kept"] for r in capped.values())


def test_pq_adc_recall_on_clustered_vectors(spark):
    """PQ on data WITH neighbor structure: 8 well-separated clusters of
    near-identical unit vectors; trained codebooks reconstruct cluster
    members, so ADC top-k recovers each query's true (cosine) neighbors.
    Also pins: codes are within [0, k), encoding is deterministic, and a
    non-divisible m raises."""
    import math
    import random

    import pytest as _pytest

    from ratatool_spark.operators.similarity import (
        brute_force_topk,
        pq_encode,
        pq_topk,
        topk_recall,
        train_pq_codebooks,
    )

    rng = random.Random(7)
    dim, n_clusters, per = 16, 8, 8
    bases = []
    for c in range(n_clusters):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        bases.append([x / n for x in v])
    rows = []
    for c, base in enumerate(bases):
        for i in range(per):
            v = [x + rng.gauss(0, 0.01) for x in base]
            n = math.sqrt(sum(x * x for x in v))
            rows.append((c * per + i, [x / n for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    books = train_pq_codebooks(emb, m=4, k=16, train_iters=2, seed=3)
    codes = pq_encode(emb, books)
    got = codes.collect()
    assert all(0 <= c < 16 for r in got for c in r["codes"])
    again = {r["vec_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    assert all(again[r["vec_id"]] == r["codes"] for r in got)

    q = emb.where(F.col("vec_id") % per == 0)  # one query per cluster
    truth = brute_force_topk(emb, q, k=per - 1)
    approx = pq_topk(codes, q, books, k=per - 1)
    r = topk_recall(truth, approx).agg(F.avg("recall")).collect()[0][0]
    assert r >= 0.9  # clusters are far apart; quantization keeps them

    with _pytest.raises(ValueError, match="divisible"):
        train_pq_codebooks(emb, m=5, k=4)


def _pq_encode_expr(df, codebooks, vec_col="embedding", id_col="vec_id"):
    """The plan-literal expression twin of ``pq_encode``: codebooks as
    one constant-folded literal per subspace, argmin-squared-L2 over
    ``_sq_l2`` folds (ties to the smaller index) — the form any SQL
    engine replays fold-for-fold."""
    import json

    from ratatool_spark.operators.similarity import _sq_l2

    sub = len(codebooks[0][0])
    code_cols = []
    for j, book in enumerate(codebooks):
        s = F.slice(F.col(vec_col), j * sub + 1, sub)
        lut = F.from_json(
            F.lit(json.dumps([[float(x) for x in cent] for cent in book])),
            "array<array<double>>",
        )
        scored = F.array(
            *[
                F.struct(
                    _sq_l2(s, F.element_at(lut, c + 1)).alias("d"),
                    F.lit(c).alias("c"),
                )
                for c in range(len(book))
            ]
        )
        code_cols.append(F.array_min(scored)["c"])
    return df.select(F.col(id_col), F.array(*code_cols).alias("codes"))


def test_pq_encode_kernel_matches_expression_twin(embeddings):
    """The GEMM encode kernel and the plan-literal expression twin give
    identical codes on real embeddings (argmin can differ only on exact
    distance ties)."""
    from ratatool_spark.operators.similarity import pq_encode, train_pq_codebooks

    books = train_pq_codebooks(embeddings, m=8, k=16, seed=13)
    kern = {r["vec_id"]: list(r["codes"])
            for r in pq_encode(embeddings, books).collect()}
    expr = {r["vec_id"]: list(r["codes"])
            for r in _pq_encode_expr(embeddings, books).collect()}
    assert kern == expr and len(kern) > 0


def test_ivfpq_subset_of_pq_and_timing_shape(embeddings):
    """IVF-PQ results are PQ-ADC results restricted to probed cells:
    every (query, neighbor) it returns carries the SAME adc_dist as the
    full PQ scan, and full-probe IVF-PQ (n_probe = n_centroids) equals
    plain PQ top-k exactly."""
    from ratatool_spark.operators.similarity import (
        ivfpq_topk,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(embeddings, m=8, k=16, seed=13)
    codes = pq_encode(embeddings, books)
    q = embeddings.where(F.col("vec_id") < 5)
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in pq_topk(codes, q, books, k=500).collect()
    }
    part = ivfpq_topk(embeddings, q, k=3, n_centroids=8, n_probe=3).collect()
    assert part
    for r in part:
        assert r["adc_dist"] == full[(r["query_id"], r["neighbor_id"])]
    allprobe = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivfpq_topk(
            embeddings, q, k=3, n_centroids=8, n_probe=8
        ).collect()
    }
    exact_pq = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in pq_topk(codes, q, books, k=3).collect()
    }
    assert allprobe == exact_pq


def test_kmeans_fixed_point_partition_order_independent(embeddings):
    """The fixed-point trainer's claim: identical centroids regardless of
    how the corpus is partitioned (integer accumulation commutes), and the
    update actually moves centroids off their seeds."""
    from ratatool_spark.operators.similarity import (
        _seed_centroids,
        train_centroids_exact,
    )

    a = train_centroids_exact(
        embeddings.repartition(7), n_centroids=4, iters=2
    )
    b = train_centroids_exact(
        embeddings.repartition(3, "vec_id"), n_centroids=4, iters=2
    )
    assert a == b  # bit-for-bit, not approximately
    assert len(a) == 4 and all(len(v) == 64 for _, v in a)
    seeds = _seed_centroids(embeddings, 4, "embedding", "vec_id", 13)
    assert [v for _, v in a] != [v for _, v in seeds]


def test_kmeans_fixed_point_tracks_float_trainer(embeddings):
    """Quantized updates stay within the fixed-point grid of the float
    trainer's centroids after one iteration (they diverge on later
    iterations only if an assignment flips at a cell boundary)."""
    from ratatool_spark.operators.similarity import (
        train_centroids,
        train_centroids_exact,
    )

    fx = train_centroids_exact(embeddings, n_centroids=4, iters=1)
    fl = train_centroids(embeddings, n_centroids=4, iters=1)
    for (_, ve), (_, vf) in zip(fx, fl):
        for x, y in zip(ve, vf):
            assert abs(x - y) <= 1e-6 + 1e-9


def test_hard_negatives_excludes_same_label(embeddings):
    from ratatool_spark.operators.similarity import (
        brute_force_topk,
        hard_negatives,
    )

    q = embeddings.where(F.col("vec_id") < 8)
    hn = hard_negatives(embeddings, q, k=4).collect()
    labels = {r["vec_id"]: r["label"] for r in embeddings.select("vec_id", "label").collect()}
    assert hn
    for r in hn:
        assert labels[r["query_id"]] != labels[r["neighbor_id"]]
        assert r["rank"] <= 4
    # equals brute-force ranking restricted to cross-label pairs
    bf = brute_force_topk(embeddings, q, k=len(labels)).collect()
    expect = {}
    for r in sorted(bf, key=lambda r: (r["query_id"], r["rank"])):
        if labels[r["query_id"]] != labels[r["neighbor_id"]]:
            lst = expect.setdefault(r["query_id"], [])
            if len(lst) < 4:
                lst.append(r["neighbor_id"])
    got = {}
    for r in sorted(hn, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert got == expect


def test_winnow_fingerprints_guarantee_and_shape(spark):
    """The winnowing guarantee: any shared run of k+window-1 words yields
    at least one shared fingerprint; and every fingerprint is a true
    window minimum at a valid gram position."""
    from ratatool_spark.functions.hashing import portable_hash64
    from ratatool_spark.functions.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 words = k+w-1 for k=3,w=4
    df = spark.createDataFrame(
        [
            (1, f"one two {shared} three four"),
            (2, f"nine eight seven {shared} six"),
            (3, "completely different text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    rows = df.select(
        "doc_id",
        F.explode(winnow_fingerprints(F.col("text"), 3, 4)).alias("f"),
    ).select("doc_id", "f.pos", "f.fp").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 6-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # verify positions/minima against a python replay for doc 1
    text1 = f"one two {shared} three four"
    toks = text1.split(" ")
    grams = [" ".join(toks[i:i+3]) for i in range(len(toks) - 2)]
    import hashlib
    def ph64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    hs = [ph64(g) for g in grams]
    expect = set()
    for s in range(len(hs) - 3):
        win = hs[s:s+4]
        m = min(win)
        expect.add((s + 1 + win.index(m), m))
    got = {(r["pos"], r["fp"]) for r in rows if r["doc_id"] == 1}
    assert got == expect


def test_winnow_candidate_pairs_finds_plagiarism(spark):
    from ratatool_spark.operators.dedup import winnow_candidate_pairs

    boiler = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, f"intro words {boiler} outro one"),
            (2, f"other beginning {boiler} differing tail"),
            (3, "no overlap content entirely separate idea stream here now"),
        ],
        "doc_id long, text string",
    )
    got = winnow_candidate_pairs(df, k=3, window=4, min_shared=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(1, 2)}
    assert got[0]["n_shared"] >= 2


def test_pair_recall_by_band(spark):
    from ratatool_spark.operators.dedup import pair_recall_by_band

    t = spark.createDataFrame(
        [(1, 2, 0.95), (3, 4, 0.55), (5, 6, 0.52), (7, 8, 0.15),
         (1, 2, 0.95), (9, 10, 1.0)],  # duplicate truth row + sim == 1.0
        "id_a long, id_b long, jaccard double",
    )
    c = spark.createDataFrame(
        [(1, 2), (5, 6), (9, 10), (9, 10), (11, 12)],  # dup cand + non-truth
        "id_a long, id_b long",
    )
    got = {r["band_lo"]: (r["n_truth"], r["n_hit"], r["recall"])
           for r in pair_recall_by_band(t, c).collect()}
    # dedup on both sides; sim==1.0 clamps into the top band
    assert got == {0.1: (1, 0, 0.0), 0.5: (2, 1, 0.5), 0.9: (2, 2, 1.0)}
    import pytest as _pt
    with _pt.raises(ValueError, match="n_bands"):
        pair_recall_by_band(t, c, n_bands=0)


def test_pair_recall_expected_theory_column(spark):
    import math

    from ratatool_spark.operators.dedup import pair_recall_by_band

    t = spark.createDataFrame([(1, 2, 0.95), (3, 4, 0.55)],
                              "id_a long, id_b long, jaccard double")
    c = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = {r["band_lo"]: r["expected_recall"]
           for r in pair_recall_by_band(t, c, lsh_params=(4, 4)).collect()}
    for lo, e in got.items():
        mid = lo + 0.05
        assert e == round(1 - (1 - mid**4) ** 4, 6)


def test_minhash_cross_pairs_finds_planted_copies(corpus):
    """Exact copies across corpora ALWAYS collide (all bands match,
    est_jaccard 1.0); min_est_jaccard filters."""
    from ratatool_spark.operators.dedup import minhash_lsh_cross_pairs

    bench = corpus.limit(3).select(
        (F.col("doc_id") + 5000).alias("doc_id"), "text"
    )
    out = minhash_lsh_cross_pairs(corpus, bench).collect()
    found = {(r["left_id"], r["right_id"]): r["est_jaccard"] for r in out}
    planted = {(r["doc_id"], r["doc_id"] + 5000) for r in corpus.limit(3).collect()}
    for key in planted:
        assert found.get(key) == 1.0, key
    strict = minhash_lsh_cross_pairs(corpus, bench, min_est_jaccard=0.99)
    assert {(r["left_id"], r["right_id"]) for r in strict.collect()} >= planted


def test_minhash_index_build_update_query_parity(spark, corpus, tmp_path):
    """build(A) + update(B) queried == direct cross_pairs over A∪B; a
    duplicate id fails the append via the fused guard."""
    import pytest as _pt

    from ratatool_spark.operators.dedup import (
        build_minhash_index,
        minhash_lsh_cross_pairs,
        query_minhash_index,
        update_minhash_index,
    )

    path = str(tmp_path / "idx")
    a = corpus.where(F.col("doc_id") <= 2)
    b = corpus.where(F.col("doc_id") > 2)
    build_minhash_index(a, path)
    stats = update_minhash_index(spark, path, b)
    assert stats["n_added"] == 3
    queries = corpus.limit(2).select(
        (F.col("doc_id") + 7000).alias("doc_id"), "text"
    )
    via_index = {
        (r["left_id"], r["right_id"]): r["est_jaccard"]
        for r in query_minhash_index(spark, queries, path).collect()
    }
    direct = {
        (r["left_id"], r["right_id"]): r["est_jaccard"]
        for r in minhash_lsh_cross_pairs(queries, corpus).collect()
    }
    assert via_index == direct and via_index
    with _pt.raises(Exception, match="already indexed"):
        update_minhash_index(spark, path, a.limit(1))


def test_minhash_index_update_rejects_intra_batch_duplicate_ids(
    spark, corpus, tmp_path
):
    """Two DISTINCT docs sharing an id inside one update batch must fail
    fast — minhash_signatures groups shingles by id, so letting them
    through would silently index one bogus combined-shingle signature."""
    import pytest as _pt

    from ratatool_spark.operators.dedup import (
        build_minhash_index,
        update_minhash_index,
    )

    path = str(tmp_path / "idx_dupbatch")
    build_minhash_index(corpus.where(F.col("doc_id") <= 2), path)
    clashing = spark.createDataFrame(
        [
            Row(doc_id=99, text="first document body"),
            Row(doc_id=99, text="second, entirely different body"),
        ]
    )
    with _pt.raises(ValueError, match="duplicate id"):
        update_minhash_index(spark, path, clashing)


@pytest.mark.parametrize("builder", ["build_minhash_index", "save_signatures"])
def test_signature_table_builders_reject_duplicate_ids(spark, tmp_path, builder):
    """Both signature-table writers refuse two DISTINCT docs sharing an id
    (grouping by id would store one merged signature for them), naming
    the operator, before anything is written."""
    import os

    from ratatool_spark.operators import dedup

    path = str(tmp_path / builder)
    clashing = spark.createDataFrame(
        [
            Row(doc_id=7, text="first document body"),
            Row(doc_id=7, text="second, entirely different body"),
            Row(doc_id=8, text="an unrelated third document"),
        ]
    )
    with pytest.raises(ValueError, match=f"{builder}: 1 duplicate id"):
        getattr(dedup, builder)(clashing, path)
    assert not os.path.exists(path)


def test_minhash_self_pairs_equal_cross_pairs_of_corpus_with_itself(documents):
    """The self-join (``id_a < id_b`` inside the join) and the cross join
    of a corpus with itself, restricted to ``left_id < right_id``, emit
    the same pairs with bit-identical ``est_jaccard``."""
    from ratatool_spark.operators.dedup import minhash_lsh_cross_pairs

    self_pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(documents).collect()
    }
    cross = {
        (r["left_id"], r["right_id"]): r["est_jaccard"]
        for r in minhash_lsh_cross_pairs(documents, documents)
        .where(F.col("left_id") < F.col("right_id"))
        .collect()
    }
    assert self_pairs == cross and self_pairs


def test_dedup_against_candidates_equal_cross_pairs(documents):
    """dedup_against's unverified candidates are minhash_lsh_cross_pairs
    of the new batch against the corpus, columns renamed."""
    from ratatool_spark.operators.dedup import (
        dedup_against,
        minhash_lsh_cross_pairs,
    )

    new_b = documents.where(F.col("doc_id") % 4 == 0)
    corpus_b = documents.where(F.col("doc_id") % 4 != 0)
    got = {
        (r["id_new"], r["id_corpus"]): r["est_jaccard"]
        for r in dedup_against(new_b, corpus_b, verify=False).collect()
    }
    want = {
        (r["left_id"], r["right_id"]): r["est_jaccard"]
        for r in minhash_lsh_cross_pairs(new_b, corpus_b).collect()
    }
    assert got == want and got


def test_saved_signatures_equal_minhash_index_rows(spark, documents, tmp_path):
    """save_signatures and build_minhash_index write the same signature
    table for one corpus; each keeps its own sidecar."""
    from ratatool_spark.operators.dedup import build_minhash_index, save_signatures

    sig_path, idx_path = str(tmp_path / "sigs"), str(tmp_path / "idx")
    save_signatures(documents, sig_path)
    build_minhash_index(documents, idx_path)
    saved = spark.read.parquet(sig_path)
    index = spark.read.parquet(idx_path)
    assert saved.dtypes == index.dtypes
    rows = saved.collect()
    assert sorted(rows) == sorted(index.collect()) and rows
    assert (tmp_path / "sigs" / "_signatures.json").exists()
    assert (tmp_path / "idx" / "_minhash.json").exists()


def test_lsh_bucket_pandas_matches_expression_on_zero_vectors(spark):
    """The Arrow-batched hyperplane bucketing must use the same strict
    proj > 0 bit rule as similarity.lsh_bucket: an all-zero vector
    projects to exactly 0 on every plane and lands in bucket 0 on BOTH
    paths."""
    from ratatool_spark.operators.dedup import _lsh_bucket_pandas
    from ratatool_spark.operators.similarity import lsh_bucket

    dim, planes, seed = 8, 6, 7
    rows = [
        Row(vec_id=1, embedding=[0.0] * dim),
        Row(vec_id=2, embedding=[float(i + 1) for i in range(dim)]),
        Row(vec_id=3, embedding=[-1.5] * dim),
    ]
    df = spark.createDataFrame(rows)
    expr = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id",
            lsh_bucket(
                df, "embedding", num_planes=planes, seed=seed, dim=dim
            ).alias("b"),
        ).collect()
    }
    fast = {
        r["id"]: r["__rt_blk"]
        for r in _lsh_bucket_pandas(
            df, "embedding", "vec_id", num_planes=planes, seed=seed, dim=dim
        ).collect()
    }
    assert fast == expr
    assert fast[1] == 0  # all-zero vector: no strict-positive projections


def test_rouge_ngram_pairs_clipping(spark):
    """Clipped-count semantics: a bigram repeated 3x in one doc and 1x
    in the other contributes min(3,1)=1 to the overlap (unclipped
    counting would give 3); F1 denominators are occurrence totals."""
    from ratatool_spark.operators.dedup import rouge_ngram_pairs

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            # "the cat" once here vs once above; shares "the cat" +
            # "cat sat" exactly
            (2, "the cat sat quietly down"),
            # "red dog" 3x here — pairs with doc 4's single occurrence
            (3, "red dog red dog red dog"),
            (4, "a red dog barked"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        (r["id_a"], r["id_b"]): r["rouge_f"]
        for r in rouge_ngram_pairs(docs, threshold=0.0).collect()
    }
    # doc1: 5 bigrams, doc2: 4; shared: "the cat", "cat sat" -> clip 2
    assert abs(out[(1, 2)] - (2 * 2) / (5 + 4)) < 1e-9
    # doc3 bigrams: [red dog, dog red, red dog, dog red, red dog] ->
    # "red dog" x3; doc4: [a red, red dog, dog barked] -> clip = min(3,1)
    assert abs(out[(3, 4)] - (2 * 1) / (5 + 3)) < 1e-9


def test_rouge_ngram_pairs_matches_bruteforce_random(spark):
    """Property: the inverted-index clipped-overlap pipeline equals a
    per-pair brute-force ROUGE-2 F1 on a randomized mini-corpus
    (seeded). Pins the posting/combos algebra end to end."""
    import itertools
    import random
    from collections import Counter

    from ratatool_spark.operators.dedup import rouge_ngram_pairs

    rng = random.Random(77)
    vocab = ["red", "dog", "cat", "sat", "runs", "the", "a"]
    docs = [
        (i, " ".join(rng.choice(vocab)
                     for _ in range(rng.randrange(2, 12))))
        for i in range(14)
    ]

    def bigrams(t):
        w = t.split()
        return Counter(
            [" ".join(w[j:j + 2]) for j in range(len(w) - 1)] or [w[0]]
        )

    expect = {}
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        ca, cb = bigrams(ta), bigrams(tb)
        clip = sum(min(ca[g], cb[g]) for g in ca.keys() & cb.keys())
        f1 = 2 * clip / (sum(ca.values()) + sum(cb.values()))
        if f1 > 0:
            expect[(ia, ib)] = f1
    got = {
        (r["id_a"], r["id_b"]): r["rouge_f"]
        for r in rouge_ngram_pairs(
            spark.createDataFrame(docs, "doc_id bigint, text string"),
            threshold=1e-9,
        ).collect()
    }
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-9, k


def _expr_pairs(pair_source, counted):
    """Reference pair enumerator: the interpreted nested-``transform``
    form of ``dedup._pairs_kernel``. Every i<j pair of each posting
    list becomes one (id_a, id_b, m) row, m = min(c_i, c_j) for (id, c)
    struct lists, else 1."""
    from pyspark.sql import functions as F

    ids = F.col("ids")

    def pair(x, y):
        if counted:
            return F.struct(x["id"].alias("id_a"), y["id"].alias("id_b"),
                            F.least(x["c"], y["c"]).alias("m"))
        return F.struct(x.alias("id_a"), y.alias("id_b"),
                        F.lit(1).cast("long").alias("m"))

    combos = F.flatten(F.transform(
        ids,
        lambda x, i: F.transform(F.slice(ids, i + 2, F.size(ids)),
                                 lambda y: pair(x, y)),
    ))
    return pair_source.select(F.explode(combos).alias("p")).select(
        "p.id_a", "p.id_b", "p.m")


def _kernel_and_reference(monkeypatch, build):
    """Rows of ``build()`` as shipped, and with the numpy pair kernel
    swapped for :func:`_expr_pairs`, each sorted (by repr: ids may be
    NULL). Pair sums are integers summed order-independently, so the
    two must be bit-identical."""
    from ratatool_spark.operators import dedup

    def rows():
        return sorted(map(tuple, build().collect()), key=repr)

    fast = rows()
    with monkeypatch.context() as m:
        m.setattr(dedup, "_pairs_kernel", _expr_pairs)
        ref = rows()
    return fast, ref


def test_rouge_kernel_matches_expr(spark, monkeypatch):
    """The numpy pair-enumeration kernel (triu_indices gather + in-task
    partial aggregation) matches the nested-transform reference bit for
    bit — integer clip sums are order-independent, so the double F1s
    match exactly. Also covers non-integer ids (the kernel gathers
    object arrays) and the max_doc_freq prune."""
    import random

    from ratatool_spark.operators.dedup import rouge_ngram_pairs

    rng = random.Random(11)
    vocab = ["red", "dog", "cat", "sat", "runs", "the", "a", "on"]
    rows = [
        (f"d{i:02d}", " ".join(rng.choice(vocab)
                               for _ in range(rng.randrange(2, 20))))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    for kwargs in ({"threshold": 0.0}, {"threshold": 0.0, "max_doc_freq": 8}):
        fast, ref = _kernel_and_reference(
            monkeypatch, lambda: rouge_ngram_pairs(docs, **kwargs))
        assert fast == ref
        assert len(fast) > 0


def test_jaccard_kernel_matches_expr(spark, monkeypatch):
    """Jaccard pairs: numpy kernel ≡ nested-transform reference (pair
    counts are integers summed order-independently, so the double
    Jaccards match exactly), with long ids and the max_doc_freq prune."""
    import random

    from ratatool_spark.operators.dedup import ngram_jaccard_pairs

    rng = random.Random(12)
    vocab = ["red", "dog", "cat", "sat", "runs", "the", "a", "on"]
    rows = [
        (i, " ".join(rng.choice(vocab)
                     for _ in range(rng.randrange(4, 24))))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for kwargs in ({"threshold": 0.0}, {"threshold": 0.0, "max_doc_freq": 8}):
        fast, ref = _kernel_and_reference(
            monkeypatch, lambda: ngram_jaccard_pairs(docs, **kwargs))
        assert fast == ref
        assert len(fast) > 0


def test_winnow_kernel_matches_expr(spark, monkeypatch):
    """Winnow candidate pairs: numpy kernel ≡ nested-transform
    reference, including string ids (object-array gathers) and the
    max_fp_freq prune."""
    import random

    from ratatool_spark.operators.dedup import winnow_candidate_pairs

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    boiler = "the quick brown fox jumps over the lazy dog"
    rows = [
        (
            f"d{i:02d}",
            (boiler + " " if i % 3 == 0 else "")
            + " ".join(rng.choice(vocab) for _ in range(rng.randrange(8, 30))),
        )
        for i in range(24)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    for kwargs in ({"min_shared": 1}, {"min_shared": 1, "max_fp_freq": 6}):
        fast, ref = _kernel_and_reference(
            monkeypatch, lambda: winnow_candidate_pairs(docs, **kwargs))
        assert fast == ref
        assert len(fast) > 0


def test_pairs_kernel_null_ids_match_expr(spark, monkeypatch):
    """NULL doc ids reach rouge postings (struct(id, c) is non-null even
    when id is) and must survive the kernel's pandas partial aggregation
    exactly as Spark's null-safe groupBy keeps them (dropna=False).
    Downstream the sizes equi-join drops null-id pairs, so the shared
    pair primitive itself is pinned here, plus the end-to-end agreement
    with the reference."""
    from ratatool_spark.operators.dedup import (
        _posting_pairs,
        rouge_ngram_pairs,
    )

    src = spark.createDataFrame(
        [
            ([{"id": None, "c": 2}, {"id": "a", "c": 1},
              {"id": "b", "c": 3}],),
            ([{"id": None, "c": 5}, {"id": "a", "c": 4}],),
        ],
        "ids array<struct<id string, c long>>",
    )
    fast, ref = _kernel_and_reference(
        monkeypatch, lambda: _posting_pairs(src, None, counted=True))
    # null ids participate with clip = min(c_i, c_j); the (None, a) pair
    # aggregates ACROSS lists (1 + 4)
    assert fast == ref
    assert set(fast) == {(None, "a", 5), (None, "b", 2), ("a", "b", 1)}

    docs = spark.createDataFrame(
        [
            ("a", "the red dog sat on the red dog mat"),
            ("b", "the red dog sat on a blue mat"),
            (None, "the red dog sat on the mat again"),
        ],
        "doc_id string, text string",
    )
    fast, ref = _kernel_and_reference(
        monkeypatch, lambda: rouge_ngram_pairs(docs, threshold=0.0))
    assert fast == ref and len(fast) > 0


def test_triu_blocks_cover_all_pairs():
    """_triu_blocks streams the same i<j multiset as np.triu_indices for
    every (length, budget) shape: multi-row blocks, single-row j-splits
    (one row's pairs > budget), and the trivial small case."""
    import numpy as np

    from ratatool_spark.operators.dedup import _triu_blocks

    for length, budget in [(2, 1), (5, 3), (10, 4), (10, 100), (37, 7),
                           (10, 2), (6, 1)]:
        got = []
        for iu, ju in _triu_blocks(length, budget):
            assert len(iu) == len(ju)
            # no block exceeds the budget unless a single j-run was
            # already split to the budget
            assert len(iu) <= budget
            got.extend(zip(iu.tolist(), ju.tolist()))
        iu, ju = np.triu_indices(length, 1)
        want = list(zip(iu.tolist(), ju.tolist()))
        assert sorted(got) == sorted(want)
        assert len(got) == len(want)  # no duplicates


def test_cos_scored_entries_bit_identical_to_composition(spark):
    """The bound/constant-folded centroid scorer (r11: row norm bound
    once, centroid norms Python-precomputed, one from_json constant)
    must produce cosines BIT-identical to the naive per-centroid
    cosine_sim(col, F.lit(cvec)) composition it replaced — the argmax
    tie-breaks and the oracle replays both hang off exact equality."""
    import random

    from pyspark.sql import functions as F

    from ratatool_spark.functions.vectors import cosine_sim
    from ratatool_spark.operators.similarity import _cos_scored_entries

    rng = random.Random(7)
    dim, k = 16, 5
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(50)]
    cents = [(c, [rng.uniform(-1, 1) for _ in range(dim)]) for c in range(k)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    naive = F.array(
        *[
            F.struct(
                cosine_sim(F.col("embedding"), F.lit(cv)).alias("c"),
                F.lit(cid).alias("cell"),
            )
            for cid, cv in cents
        ]
    )
    opt = _cos_scored_entries(
        "embedding",
        cents,
        lambda c, cid: F.struct(c.alias("c"), F.lit(cid).alias("cell")),
    )
    out = df.select("vec_id", naive.alias("a"), opt.alias("b")).collect()
    for r in out:
        for sa, sb in zip(r["a"], r["b"]):
            assert sa["cell"] == sb["cell"]
            # bit-identity, not approx: struct sorts tie-break on these
            assert sa["c"] == sb["c"] and str(sa["c"]) == str(sb["c"])
