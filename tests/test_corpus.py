"""Corpus-curation operators (operators/corpus.py + the PII columns in
functions/text.py): repetition metrics, mixture resampling, contamination,
redaction. Hand-computable fixtures pin exact values; the sf-table oracle
parity lives in the driver queries (corpus_*, text_pii_redact)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ratatool_spark.functions.text import pii_counts, redact_pii
from ratatool_spark.operators.corpus import (
    contamination,
    mixture_sample,
    repetition_metrics,
)


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_repetition_exact_values(spark):
    # "a b a b a": bigrams = [a b, b a, a b, b a] → top 2/4, dup 4/4
    # "x y z":     bigrams = [x y, y z]           → top 1/2, dup 0
    df = _docs(spark, [(1, "a b a b a"), (2, "x y z")])
    got = {r["doc_id"]: r for r in repetition_metrics(df, n=2).collect()}
    assert got[1]["n_ngrams"] == 4
    assert got[1]["top_ngram_frac"] == pytest.approx(0.5)
    assert got[1]["dup_ngram_frac"] == pytest.approx(1.0)
    assert got[2]["n_ngrams"] == 2
    assert got[2]["top_ngram_frac"] == pytest.approx(0.5)
    assert got[2]["dup_ngram_frac"] == 0.0


def test_repetition_short_doc_still_emits(spark):
    df = _docs(spark, [(1, "solo")])
    rows = repetition_metrics(df, n=3).collect()
    assert len(rows) == 1 and rows[0]["n_ngrams"] == 1


def test_mixture_hits_target_ratios(spark, documents):
    shares = {"src0": 0.5, "src1": 0.25, "src2": 0.25}
    out = mixture_sample(documents, shares, seed=3)
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(got) <= set(shares)
    n0 = got["src0"]
    # dice is uniform; each kept count concentrates near rate*n. 2:1:1
    # ratios within a generous tolerance at fixture size.
    assert got["src1"] == pytest.approx(n0 / 2, rel=0.5)
    assert got["src2"] == pytest.approx(n0 / 2, rel=0.5)


def test_mixture_is_deterministic_and_subset(spark, documents):
    shares = {"src0": 0.5, "src3": 0.5}
    a = sorted(r["doc_id"] for r in mixture_sample(documents, shares, seed=9)
               .select("doc_id").collect())
    b = sorted(r["doc_id"] for r in mixture_sample(documents, shares, seed=9)
               .select("doc_id").collect())
    assert a == b and len(a) > 0
    all_ids = {r["doc_id"] for r in documents.select("doc_id").collect()}
    assert set(a) <= all_ids


def test_mixture_full_keep_source(spark):
    # one source has the binding deficit → kept in full (rate exactly 1)
    df = _docs(spark, [(i, "t") for i in range(40)]).withColumn(
        "source", F.when(F.col("doc_id") < 10, "rare").otherwise("common")
    )
    out = mixture_sample(df, {"rare": 0.5, "common": 0.5},
                         dice_cols=("doc_id",), seed=1)
    kept = out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    got = {r["source"]: r["n"] for r in kept}
    assert got["rare"] == 10  # K = 10/0.5 binds on the rare source


def test_mixture_empty_shares_raises(spark, documents):
    with pytest.raises(ValueError):
        mixture_sample(documents, {})


def test_contamination_bounds_and_self_hit(spark):
    df = _docs(spark, [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma epsilon"),
        (3, "zeta eta theta iota"),
    ])
    bench = df.where(F.col("doc_id") == 1)
    got = {r["doc_id"]: r for r in contamination(df, bench, n=3).collect()}
    assert got[1]["contamination"] == pytest.approx(1.0)  # self
    # doc2 shares shingle "alpha beta gamma" only → 1/2
    assert got[2]["n_shingles"] == 2
    assert got[2]["n_contaminated"] == 1
    assert got[3]["contamination"] == 0.0


def test_pii_redact_and_counts(spark):
    df = _docs(spark, [
        (1, "mail bob@x.org or alice.smith@mail.example.com now"),
        (2, "server 192.168.0.1 then call 555-0100"),
        (3, "clean text no pii"),
    ])
    n_email, n_ip, n_phone = pii_counts(F.col("text"))
    out = {r["doc_id"]: r for r in df.select(
        "doc_id", n_email.alias("e"), n_ip.alias("i"), n_phone.alias("p"),
        redact_pii(F.col("text")).alias("clean")).collect()}
    assert (out[1]["e"], out[1]["i"], out[1]["p"]) == (2, 0, 0)
    assert out[1]["clean"] == "mail [EMAIL] or [EMAIL] now"
    assert (out[2]["e"], out[2]["i"], out[2]["p"]) == (0, 1, 1)
    assert out[2]["clean"] == "server [IP] then call [PHONE]"
    assert out[3]["clean"] == "clean text no pii"


# ---------------------------------------------------------- incremental dedup


def test_dedup_against_finds_cross_side_dup(spark):
    from ratatool_spark.operators.dedup import dedup_against, filter_against

    corpus = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"
            " while birds sing in the tall green trees above the quiet"
            " meadow path"),
        (2, "completely unrelated corpus document about spark physical plans"
            " and shuffle exchanges"),
    ])
    new = _docs(spark, [
        # near-identical to corpus doc 1 (one word changed, J ≈ 0.78)
        (10, "the quick brown fox jumps over the lazy cat near the river bank"
             " while birds sing in the tall green trees above the quiet"
             " meadow path"),
        (11, "fresh novel content with no counterpart in the existing corpus"
             " at all"),
    ])
    # 8 bands of 2 rows: collision prob at J=0.78 is 1-(1-J²)⁸ ≈ 0.999,
    # and with the fixed portable hasher the outcome is deterministic.
    hits = dedup_against(new, corpus, bands=8, threshold=0.5).collect()
    assert {(r["id_new"], r["id_corpus"]) for r in hits} == {(10, 1)}
    assert all(0.5 <= r["jaccard"] <= 1.0 for r in hits)

    kept = {r["doc_id"] for r in filter_against(new, corpus, bands=8,
                                                threshold=0.5)
            .select("doc_id").collect()}
    assert kept == {11}


def test_dedup_against_id_overlap_is_safe(spark):
    from ratatool_spark.operators.dedup import dedup_against

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = _docs(spark, [(1, text)])
    new = _docs(spark, [(1, text)])  # same id on both sides
    hits = dedup_against(new, corpus, threshold=0.9).collect()
    assert len(hits) == 1
    assert (hits[0]["id_new"], hits[0]["id_corpus"]) == (1, 1)
    assert hits[0]["jaccard"] == pytest.approx(1.0)


def test_minhash_lsh_pairs_unchanged_after_band_refactor(spark, documents):
    from ratatool_spark.operators.dedup import minhash_lsh_pairs

    got = minhash_lsh_pairs(documents, num_hashes=16, bands=4).count()
    assert got > 0  # fixture contains near-dups; exact parity is driver-gated


# ----------------------------------------------------- splits / shuffle order


def test_assign_splits_disjoint_exhaustive_stable(spark, documents):
    from ratatool_spark.operators.corpus import assign_splits

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = assign_splits(documents, w, seed=11)
    n = documents.count()
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == n          # exhaustive: every row assigned
    assert set(counts) <= set(w)              # only named splits
    assert counts["train"] > counts["val"]    # roughly proportional
    # stable: same seed → identical assignment
    again = assign_splits(documents, w, seed=11)
    assert out.select("doc_id", "split").exceptAll(
        again.select("doc_id", "split")).count() == 0
    # different seed → different assignment (overwhelmingly)
    other = assign_splits(documents, w, seed=12)
    assert out.select("doc_id", "split").exceptAll(
        other.select("doc_id", "split")).count() > 0


def test_assign_splits_weights_normalize(spark):
    from ratatool_spark.operators.corpus import assign_splits

    df = _docs(spark, [(i, "t") for i in range(100)])
    a = assign_splits(df, {"x": 1.0, "y": 1.0}, seed=2)
    b = assign_splits(df, {"x": 50.0, "y": 50.0}, seed=2)
    assert a.select("doc_id", "split").exceptAll(
        b.select("doc_id", "split")).count() == 0


def test_deterministic_shuffle_rank_is_dense_permutation(spark, documents):
    from ratatool_spark.operators.corpus import deterministic_shuffle

    out = deterministic_shuffle(documents, seed=5, rank_col="pos")
    n = documents.count()
    rows = out.select("pos", "doc_id").collect()
    assert sorted(r["pos"] for r in rows) == list(range(1, n + 1))
    # reproducible: same seed, same permutation
    again = deterministic_shuffle(documents, seed=5, rank_col="pos")
    assert out.select("pos", "doc_id").exceptAll(
        again.select("pos", "doc_id")).count() == 0


def test_cli_dedup_against(spark, tmp_path):
    from ratatool_spark.cli import main

    corpus_rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"
            " while birds sing in the tall green trees above the quiet"
            " meadow path"),
    ]
    new_rows = [
        (10, "the quick brown fox jumps over the lazy cat near the river bank"
             " while birds sing in the tall green trees above the quiet"
             " meadow path"),
        (11, "fresh novel content with no counterpart in the existing corpus"
             " at all"),
    ]
    cdir, ndir, odir = (str(tmp_path / x) for x in ("c", "n", "o"))
    _docs(spark, corpus_rows).write.parquet(cdir)
    _docs(spark, new_rows).write.parquet(ndir)
    rc = main(["dedupAgainst", "--input", ndir, "--corpus", cdir,
               "--output", odir, "--threshold", "0.5"])
    assert rc == 0
    kept = {r["doc_id"] for r in spark.read.parquet(odir).collect()}
    assert kept == {11}


def test_bpe_pair_counts_exact(spark):
    from ratatool_spark.operators.corpus import bpe_pair_counts

    # "aba ab" ×2 docs: distinct words {aba:2, ab:2} (freq over corpus)
    # aba → ab, ba ; ab → ab  ⇒ ab: 2+2=4... weighted: aba freq2 → ab:2,ba:2; ab freq2 → ab:2
    df = _docs(spark, [(1, "aba ab"), (2, "aba ab")])
    got = {r["pair"]: r["cnt"] for r in bpe_pair_counts(df).collect()}
    assert got == {"ab": 4, "ba": 2}


def test_bpe_pair_counts_single_char_words_ignored(spark):
    from ratatool_spark.operators.corpus import bpe_pair_counts

    df = _docs(spark, [(1, "a b c xy")])
    got = {r["pair"]: r["cnt"] for r in bpe_pair_counts(df).collect()}
    assert got == {"xy": 1}


def test_bpe_learn_merges_hand_computed(spark):
    from ratatool_spark.operators.corpus import bpe_learn

    # words: abab ×2, ab ×1. round1 pairs: (a,b)=2·2+1=5, (b,a)=2 → merge (a,b)
    # round2 symbols: abab=[ab,ab], ab=[ab] → (ab,ab)=2 → merge (ab,ab)
    df = _docs(spark, [(1, "abab abab ab")])
    merges = bpe_learn(df, n_merges=2)
    assert merges == [("a", "b"), ("ab", "ab")]


def test_bpe_learn_greedy_left_to_right(spark):
    from ratatool_spark.operators.corpus import bpe_learn

    # "aaaa": round1 (a,a)=3 → merge; greedy fold gives [aa, aa], so
    # round2's top pair is (aa, aa)
    df = _docs(spark, [(1, "aaaa aaaa")])
    merges = bpe_learn(df, n_merges=2)
    assert merges == [("a", "a"), ("aa", "aa")]


def test_bpe_learn_stops_when_exhausted(spark):
    from ratatool_spark.operators.corpus import bpe_learn

    df = _docs(spark, [(1, "ab")])
    merges = bpe_learn(df, n_merges=10)
    # ab → [ab] after one merge; nothing pairable remains → early stop
    assert merges == [("a", "b")]


def test_sliding_windows_exact(spark):
    import datetime as dt

    from pyspark.sql import Row as R

    from ratatool_spark.operators.corpus import sliding_windows

    rows = [R(u=1, t=dt.datetime(2024, 1, 1, h), v=chr(ord("a") + h))
            for h in range(5)]           # a b c d e
    rows += [R(u=2, t=dt.datetime(2024, 1, 1), v="x")]  # too short → dropped
    df = spark.createDataFrame(rows)
    got = {(r["u"], r["win_idx"]): r["w"] for r in
           sliding_windows(df, "u", "t", "v", size=3, stride=2,
                           out_col="w").collect()}
    assert got == {(1, 0): "a b c", (1, 1): "c d e"}


def test_sliding_windows_stride_one_counts(spark, documents):
    from pyspark.sql import functions as F

    from ratatool_spark.operators.corpus import sliding_windows

    # token windows per doc: explode tokens with an order index first
    toks = documents.select(
        "doc_id", F.posexplode(F.split(F.trim("text"), " ")).alias("i", "tok")
    )
    w = sliding_windows(toks, "doc_id", "i", "tok", size=10, stride=1,
                        out_col="w")
    one = w.where(F.col("doc_id") == 0).count()
    n_toks = toks.where(F.col("doc_id") == 0).count()
    assert one == max(n_toks - 9, 0)

    with __import__("pytest").raises(ValueError):
        sliding_windows(toks, "doc_id", "i", "tok", size=0)


def test_repetition_null_text_not_dropped(spark):
    from pyspark.sql import Row as R

    from ratatool_spark.operators.corpus import repetition_metrics

    df = spark.createDataFrame([R(doc_id=1, text="a b"), R(doc_id=2, text=None)])
    got = {r["doc_id"] for r in repetition_metrics(df, n=2).collect()}
    assert got == {1, 2}


def test_mixture_token_weighted_ratios(spark, documents):
    from ratatool_spark.functions.text import token_count
    from ratatool_spark.operators.corpus import mixture_sample

    shares = {"src0": 0.5, "src1": 0.5}
    out = mixture_sample(documents, shares, seed=2,
                         weight_col=token_count(F.col("text")))
    toks = {r["source"]: r["t"] for r in
            out.groupBy("source")
               .agg(F.sum(token_count(F.col("text"))).alias("t")).collect()}
    assert set(toks) <= set(shares)
    # equal target shares → kept token masses roughly equal
    a, b = toks.get("src0", 0), toks.get("src1", 0)
    assert a > 0 and b > 0
    assert abs(a - b) / max(a, b) < 0.5


def test_corpus_report_fixture(spark):
    """Hand-computed data card: volumes, decimal-exact mean quality,
    language spread, and the deterministic dominant-language tie-break
    (equal counts -> lexicographically larger language wins, matching the
    SQL twin's ORDER BY docs DESC, lang DESC)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from ratatool_spark.functions.text import lang_id, quality_score, token_count
    from ratatool_spark.operators.corpus import corpus_report

    rows = [
        Row(doc_id=1, source="a", text="the quick brown fox and the lazy dog"),
        Row(doc_id=2, source="a", text="el perro y el gato en la casa"),
        Row(doc_id=3, source="b", text="one two three four five six"),
    ]
    df = spark.createDataFrame(rows)
    got = {r["source"]: r.asDict() for r in corpus_report(df).collect()}

    per_doc = df.select(
        "source",
        token_count(F.col("text")).alias("nt"),
        F.round(quality_score(F.col("text")), 6).alias("q"),
        lang_id(F.col("text")).alias("lang"),
    ).collect()
    for src in ("a", "b"):
        docs = [r for r in per_doc if r["source"] == src]
        assert got[src]["n_docs"] == len(docs)
        assert got[src]["n_tokens"] == sum(r["nt"] for r in docs)
        assert abs(got[src]["mean_quality"] - sum(r["q"] for r in docs) / len(docs)) < 1e-9
        assert got[src]["n_langs"] == len({r["lang"] for r in docs})
    # source a has one doc per language -> tie; larger language name wins
    langs_a = sorted({r["lang"] for r in per_doc if r["source"] == "a"})
    assert got["a"]["top_lang"] == langs_a[-1]


def test_bpe_segment_paths_agree_and_reproduce_learner(spark):
    """The JVM-expression path, the pandas-UDF path, and the driver-side
    reference kernel all produce identical segmentations; encoding the
    training corpus with learned merges reproduces what the learner's
    fold state would be (same greedy left-to-right semantics)."""
    from pyspark.sql import Row

    from ratatool_spark.operators.corpus import (
        bpe_apply_merges,
        bpe_learn,
        bpe_segment,
    )

    rows = [
        Row(doc_id=1, text="low lower lowest low low"),
        Row(doc_id=2, text="new newer newest new"),
        Row(doc_id=3, text="widest wide wider  low"),  # double space edge
    ]
    df = spark.createDataFrame(rows)
    merges = bpe_learn(df, n_merges=6)
    assert len(merges) == 6

    expr = {
        r["doc_id"]: (r["bpe_syms"], r["n_bpe_tokens"])
        for r in bpe_segment(df, merges, expr_threshold=16).collect()
    }
    udf = {
        r["doc_id"]: (r["bpe_syms"], r["n_bpe_tokens"])
        for r in bpe_segment(df, merges, expr_threshold=0).collect()
    }
    assert expr == udf

    for r in rows:
        want = []
        for w in r.text.strip().split(" "):
            want.extend(bpe_apply_merges(w, merges))
        assert expr[r.doc_id][0] == want
        assert expr[r.doc_id][1] == len(want)

    # the top merge must be a real frequent pair ('lo' or 'ne' family)
    assert all(len(a) >= 1 and len(b) >= 1 for a, b in merges)


def test_bpe_segment_paths_agree_on_random_whitespace_corpus(spark):
    """Path equality on a seeded random corpus with adversarial
    whitespace: double spaces, leading/trailing spaces, tabs/newlines
    embedded in tokens (which the space-only tokenizer must NOT split),
    and null text — for BPE and WordPiece replay alike, plus WordPiece
    longest-match inference against its per-word reference."""
    import random

    from pyspark.sql import Row

    from ratatool_spark.operators.corpus import bpe_learn, bpe_segment
    from ratatool_spark.operators.wordpiece import (
        wordpiece_learn,
        wordpiece_match_segment,
        wordpiece_match_word,
        wordpiece_segment,
        wordpiece_vocab,
    )

    rng = random.Random(99)
    vocab = ["ab", "abc", "aab", "b\tc", "x\ny", "zz", "a", ""]
    rows = []
    for i in range(25):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 9))]
        text = " ".join(words)
        if rng.random() < 0.3:
            text = " " + text + "  "
        rows.append(Row(doc_id=i, text=text))
    rows.append(Row(doc_id=100, text=None))
    df = spark.createDataFrame(rows)
    texts = df.where(df.text.isNotNull())

    for learn, segment, col in (
        (bpe_learn, bpe_segment, "bpe_syms"),
        (wordpiece_learn, wordpiece_segment, "wp_syms"),
    ):
        merges = learn(texts, n_merges=4)
        expr = {
            r["doc_id"]: r[col]
            for r in segment(df, merges, expr_threshold=16).collect()
        }
        udf = {
            r["doc_id"]: r[col]
            for r in segment(df, merges, expr_threshold=0).collect()
        }
        assert expr == udf
        assert expr[100] is None  # null propagates on both paths

    # drop every piece holding a tab so tab-bearing words fall back to [UNK]
    wp_vocab = [v for v in wordpiece_vocab(texts, merges) if "\t" not in v]
    got = {
        r["doc_id"]: r["wp_syms"]
        for r in wordpiece_match_segment(df, wp_vocab).collect()
    }
    assert got[100] is None
    for r in rows[:-1]:
        want = []
        for w in r.text.strip(" ").split(" "):
            want.extend(wordpiece_match_word(w, set(wp_vocab)))
        assert got[r.doc_id] == want
    assert any("[UNK]" in syms for syms in got.values() if syms)


def test_unigram_logprob_score_matches_reference(spark):
    """Hand-computed Lidstone unigram log-probs; OOV tokens get smoothing
    mass; batch scored under a frozen reference distribution matches the
    driver-side model; whitespace-only docs drop out (no tokens)."""
    import math

    from pyspark.sql import Row

    from ratatool_spark.operators.corpus import (
        build_token_freqs,
        unigram_logprob_score,
    )

    corpus = spark.createDataFrame(
        [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="a c")]
    )
    freqs = build_token_freqs(corpus)
    got_freqs = {r["token"]: r["cnt"] for r in freqs.collect()}
    assert got_freqs == {"a": 3, "b": 1, "c": 1}

    s = 0.5
    total, v = 5, 3
    denom = total + s * (v + 1)

    def lp(cnt):
        return math.log((cnt + s) / denom)

    batch = spark.createDataFrame(
        [
            Row(doc_id=10, text="a b"),
            Row(doc_id=11, text="zzz a"),  # OOV token
            Row(doc_id=12, text="   "),  # no tokens -> n_tokens 0, NULL score
        ]
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_logprob"])
        for r in unigram_logprob_score(batch, freq_df=freqs).collect()
    }
    assert set(got) == {10, 11, 12}  # every input row appears
    assert got[12] == (0, None)
    assert got[10][0] == 2

    import pytest as _pt

    with _pt.raises(ValueError, match="smoothing"):
        unigram_logprob_score(batch, freq_df=freqs, smoothing=0)
    assert abs(got[10][1] - (lp(3) + lp(1)) / 2) < 1e-12
    assert abs(got[11][1] - (lp(0) + lp(3)) / 2) < 1e-12
    # self-scoring path (no freq_df): clean doc outranks gibberish
    mixed = corpus.unionByName(
        spark.createDataFrame([Row(doc_id=9, text="qq ww ee rr")])
    )
    scores = {
        r["doc_id"]: r["mean_logprob"]
        for r in unigram_logprob_score(mixed).collect()
    }
    assert scores[1] > scores[9]


def test_remove_duplicate_lines_c4_rule(spark):
    """Corpus-level line dedup: a boilerplate line repeated across docs is
    removed everywhere; unique lines survive in original order; a fully
    boilerplate doc comes back empty (but still present); short lines are
    never counted."""
    from pyspark.sql import Row

    from ratatool_spark.operators.corpus import remove_duplicate_lines

    boiler = "accept all cookies to continue"
    rows = [
        Row(doc_id=1, text=f"{boiler}\nunique first line\n.\nunique second line"),
        Row(doc_id=2, text=f"real content here\n{boiler}"),
        Row(doc_id=3, text=boiler),
        Row(doc_id=4, text="totally unique document"),
        Row(doc_id=5, text="."),  # short line: kept, never counted
    ]
    out = {
        r["doc_id"]: (r["text"], r["n_lines_removed"])
        for r in remove_duplicate_lines(
            spark.createDataFrame(rows), min_line_chars=2
        ).collect()
    }
    assert out[1] == ("unique first line\n.\nunique second line", 1)
    assert out[2] == ("real content here", 1)
    assert out[3] == ("", 1)  # fully boilerplate, still present
    assert out[4] == ("totally unique document", 0)
    assert out[5] == (".", 0)
    # max_occurrences=3 tolerates the 3-fold boilerplate
    out3 = {
        r["doc_id"]: r["n_lines_removed"]
        for r in remove_duplicate_lines(
            spark.createDataFrame(rows), min_line_chars=2, max_occurrences=3
        ).collect()
    }
    assert all(v == 0 for v in out3.values())


def test_remove_duplicate_lines_document_scope(spark):
    """Gopher intra-document rule: a line repeated within ONE doc is
    dropped there (all occurrences), while the same line appearing once
    each in many docs is untouched."""
    from pyspark.sql import Row

    from ratatool_spark.operators.corpus import remove_duplicate_lines

    rows = [
        Row(doc_id=1, text="spam line\ncontent\nspam line"),  # intra-doc dup
        Row(doc_id=2, text="shared line\nalpha"),
        Row(doc_id=3, text="shared line\nbeta"),  # cross-doc only: kept
    ]
    out = {
        r["doc_id"]: (r["text"], r["n_lines_removed"])
        for r in remove_duplicate_lines(
            spark.createDataFrame(rows), scope="document"
        ).collect()
    }
    assert out[1] == ("content", 2)
    assert out[2] == ("shared line\nalpha", 0)
    assert out[3] == ("shared line\nbeta", 0)

    import pytest as _pt

    with _pt.raises(ValueError, match="scope"):
        remove_duplicate_lines(spark.createDataFrame(rows), scope="global")


def test_remove_duplicate_lines_edge_contracts(spark):
    """Review-pinned contracts: regex-metachar separators are literal,
    NULL text stays NULL, single-char lines are safe by DEFAULT, and
    duplicate ids are rejected."""
    from pyspark.sql import Row

    from ratatool_spark.operators.corpus import remove_duplicate_lines

    # literal '|' separator (regex alternation if unescaped)
    rows = [Row(doc_id=1, text="keep me|dup line"), Row(doc_id=2, text="dup line|solo")]
    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_lines(
            spark.createDataFrame(rows), sep="|"
        ).collect()
    }
    assert out == {1: "keep me", 2: "solo"}

    # NULL text preserved as NULL; '.' lines safe with the default floor
    rows2 = [Row(doc_id=1, text=None), Row(doc_id=2, text="."), Row(doc_id=3, text=".")]
    out2 = {
        r["doc_id"]: (r["text"], r["n_lines_removed"])
        for r in remove_duplicate_lines(spark.createDataFrame(rows2)).collect()
    }
    assert out2[1] == (None, 0)
    assert out2[2] == (".", 0) and out2[3] == (".", 0)

    import pytest as _pt

    # the duplicate-id guard is FUSED into the reassembly aggregate (no
    # eager pre-scan), so it fires at action time as a raise_error
    dup = spark.createDataFrame(
        [Row(doc_id=1, text="aaa\nbbb"), Row(doc_id=1, text="ccc\nddd")]
    )
    with _pt.raises(Exception, match="not unique"):
        remove_duplicate_lines(dup).collect()


def test_cap_per_group_uniform_and_stable(spark):
    """cap_per_group: every group capped at N, kept set independent of
    partitioning (pure hash function of the row), WindowGroupLimit plan."""
    from pyspark.sql import functions as F

    from ratatool_spark.operators.corpus import cap_per_group

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = cap_per_group(docs, group_col="source", max_rows=3, seed=9)
    per = out.groupBy("source").count().collect()
    assert per and all(r["count"] <= 3 for r in per)
    # groups smaller than the cap are kept whole
    sizes = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    kept = {r["source"]: r["count"] for r in per}
    for s, n in sizes.items():
        assert kept.get(s, 0) == min(n, 3), s
    # partitioning-independence: same kept ids after a repartition
    ids1 = {r["doc_id"] for r in out.select("doc_id").collect()}
    ids2 = {
        r["doc_id"]
        for r in cap_per_group(
            docs.repartition(7), group_col="source", max_rows=3, seed=9
        ).select("doc_id").collect()
    }
    assert ids1 == ids2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_luhn_and_extended_pii(spark):
    """luhn_valid accepts known-good PANs, rejects off-by-one; extended
    redaction covers SSN and both card shapes; the Luhn-verified count is
    a subset of the shaped count."""
    from ratatool_spark.functions.text import (
        luhn_valid,
        pii_counts_extended,
        redact_pii_extended,
    )

    rows = [
        Row(i=1, t="pay 4539-1488-0343-6467 now"),      # valid (test PAN)
        Row(i=2, t="pay 4539-1488-0343-6468 now"),      # checksum broken
        Row(i=3, t="raw 4111111111111111 and ssn 078-05-1120"),  # both
        Row(i=4, t="order id 1234567890123456"),        # card-shaped, invalid
        Row(i=5, t="no pii at all"),
    ]
    df = spark.createDataFrame(rows)
    n_ssn, n_card, n_ok = pii_counts_extended(F.col("t"))
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            n_ssn.alias("s"),
            n_card.alias("c"),
            n_ok.alias("ok"),
            redact_pii_extended(F.col("t")).alias("r"),
        ).collect()
    }
    assert (got[1]["c"], got[1]["ok"]) == (1, 1)
    assert (got[2]["c"], got[2]["ok"]) == (1, 0)
    assert (got[3]["s"], got[3]["c"], got[3]["ok"]) == (1, 1, 1)
    assert (got[4]["c"], got[4]["ok"]) == (1, 0)
    assert got[3]["r"] == "raw [CARD] and ssn [SSN]"
    assert got[5]["r"] == "no pii at all"
    # direct luhn on loose strings, including length bounds
    probe = spark.createDataFrame(
        [Row(s="49927398716"), Row(s="4992739871698"), Row(s="79927398713x")]
    ).select("s", luhn_valid(F.col("s")).alias("v")).collect()
    vals = {r["s"]: r["v"] for r in probe}
    assert vals["49927398716"] is False   # valid checksum but 11 digits
    assert vals["4992739871698"] is False  # 13 digits, checksum 87 != 0 mod 10
    assert vals["79927398713x"] is False  # non-digits stripped -> 11 digits
    # digit-FREE input must return false, not raise: under ANSI mode the
    # unguarded fold cast '' to int and threw (r5 ADVICE finding)
    nodigit = spark.createDataFrame(
        [Row(s="no digits at all"), Row(s=""), Row(s=None)]
    ).select(luhn_valid(F.col("s")).alias("v")).collect()
    assert [r["v"] for r in nodigit] == [False, False, None]


def test_remove_duplicate_spans_semantics(spark):
    """Duplicated >= L-token spans: overlapping violator grams merge
    into ONE maximal span; all occurrences are removed; sub-L docs,
    NULL, and empty text pass through under the every-row +
    null-preservation contract; document scope only counts
    within-doc repeats."""
    from ratatool_spark.operators.corpus import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "x y z a b c d q r"),  # shares the 4-token span a b c d
            (3, "unique tokens only here"),
            (4, None),
            (5, ""),
            (6, "p q"),  # sub-L: no gram, untouched
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            docs, span_tokens=3, max_occurrences=1
        ).collect()
    }
    assert len(out) == 6
    # the 4-token repeat (two overlapping trigrams) merged to ONE span
    assert out[1]["text"] == "e f g" and out[1]["n_tokens_removed"] == 4
    assert out[2]["text"] == "x y z q r" and out[2]["n_tokens_removed"] == 4
    assert out[3]["text"] == "unique tokens only here"
    assert out[4]["text"] is None and out[4]["n_tokens_removed"] == 0
    assert out[5]["text"] == "" and out[5]["n_tokens_removed"] == 0
    assert out[6]["text"] == "p q"

    # document scope: cross-doc repetition untouched, intra-doc removed
    docs2 = spark.createDataFrame(
        [
            (1, "m n o m n o m n o"),  # trigram "m n o" 3x within doc
            (2, "m n o z z2 z3"),  # one occurrence: survives
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            docs2, span_tokens=3, max_occurrences=1, scope="document"
        ).collect()
    }
    # every position of doc 1 is covered by a repeated trigram start
    assert got[1]["text"] == "" and got[1]["n_tokens_removed"] == 9
    assert got[2]["text"] == "m n o z z2 z3" and got[2]["n_tokens_removed"] == 0


def test_remove_duplicate_spans_duplicate_id_raises(spark):
    from ratatool_spark.operators.corpus import remove_duplicate_spans

    dup = spark.createDataFrame(
        [(1, "a b c"), (1, "d e f")], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="not unique"):
        remove_duplicate_spans(dup, span_tokens=2).collect()


def test_chunk_documents_exact(spark):
    # 10 tokens, size 4, overlap 1 (stride 3): starts 1,4,7 → full cover
    from ratatool_spark.operators.corpus import chunk_documents

    df = _docs(spark, [(1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")])
    got = sorted(
        (r["chunk_idx"], r["chunk"], r["n_chunk_tokens"])
        for r in chunk_documents(df, chunk_size=4, overlap=1).collect()
    )
    assert got == [
        (0, "t1 t2 t3 t4", 4),
        (1, "t4 t5 t6 t7", 4),
        (2, "t7 t8 t9 t10", 4),
    ]


def test_chunk_documents_partial_tail_and_short_doc(spark):
    from ratatool_spark.operators.corpus import chunk_documents

    # 5 tokens, size 4, overlap 2 (stride 2): starts 1,3 → tail len 3
    # 2 tokens (< size): single partial chunk
    # empty/whitespace text: dropped
    df = _docs(spark, [(1, "a b c d e"), (2, "x y"), (3, "   ")])
    got = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk"], r["n_chunk_tokens"])
        for r in chunk_documents(df, chunk_size=4, overlap=2).collect()
    }
    assert got == {
        (1, 0): ("a b c d", 4),
        (1, 1): ("c d e", 3),
        (2, 0): ("x y", 2),
    }


def test_chunk_documents_covers_every_token(spark, documents):
    # every document's token count == sum of chunk sizes minus the overlap
    # paid once per chunk boundary (no token lost, no token double-missed)
    from ratatool_spark.operators.corpus import chunk_documents

    size, ov = 16, 4
    chunks = chunk_documents(documents, chunk_size=size, overlap=ov)
    per_doc = chunks.groupBy("doc_id").agg(
        F.sum("n_chunk_tokens").alias("tok_sum"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.max("n_chunk_tokens").alias("max_len"),
    )
    base = documents.where(F.length(F.trim("text")) > 0).select(
        "doc_id", F.size(F.split(F.trim("text"), " ")).alias("n_tokens")
    )
    joined = base.join(per_doc, "doc_id").collect()
    assert len(joined) == base.count()
    for r in joined:
        assert r["max_len"] <= size
        assert r["tok_sum"] == r["n_tokens"] + ov * (r["n_chunks"] - 1)


def test_chunk_documents_validation(spark):
    from ratatool_spark.operators.corpus import chunk_documents

    df = _docs(spark, [(1, "a b")])
    for size, ov in [(0, 0), (4, -1), (4, 4), (4, 5)]:
        with pytest.raises(ValueError):
            chunk_documents(df, chunk_size=size, overlap=ov)


def test_vocab_coverage_exact(spark):
    from ratatool_spark.operators.corpus import vocab_coverage

    df = _docs(spark, [(1, "a b a zz"), (2, "zz qq"), (3, "a a a")])
    vocab = spark.createDataFrame([Row(token="a"), Row(token="b")])
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_rate"])
        for r in vocab_coverage(df, vocab).collect()
    }
    assert got == {1: (4, 1, 0.25), 2: (2, 2, 1.0), 3: (3, 0, 0.0)}


def test_vocab_coverage_duplicate_vocab_rows_no_fanout(spark):
    # vocab table with duplicate tokens must not double-count matches
    from ratatool_spark.operators.corpus import vocab_coverage

    df = _docs(spark, [(1, "a a b")])
    vocab = spark.createDataFrame([Row(token="a"), Row(token="a")])
    [r] = vocab_coverage(df, vocab).collect()
    assert (r["n_tokens"], r["n_oov"]) == (3, 1)


def test_gopher_quality_flags_exact(spark):
    from ratatool_spark.operators.corpus import gopher_quality_flags

    good = " ".join(["the", "be", "to", "of"] * 15)          # 60 words
    bullety = "- one two\n- three four\n* five six"          # all bullets
    symbolic = " ".join(["ab#c"] * 40)                       # all symbols
    df = _docs(spark, [(1, good), (2, bullety), (3, symbolic)])
    got = {
        r["doc_id"]: r
        for r in gopher_quality_flags(df, min_words=50).collect()
    }
    g = got[1]
    assert g["n_words"] == 60
    assert g["mean_word_len"] == 2.25  # (3+2+2+2)·15 / 60
    assert g["n_stop_hits"] == 4
    assert g["symbol_to_word_ratio"] == 0.0
    assert not g["passes_gopher"]  # mean word length < 3
    b = got[2]
    assert b["bullet_line_ratio"] == 1.0 and not b["passes_gopher"]
    s = got[3]
    assert s["symbol_to_word_ratio"] == 1.0 and not s["passes_gopher"]


def test_gopher_quality_flags_pass_case(spark):
    from ratatool_spark.operators.corpus import gopher_quality_flags

    text = " ".join(["the", "and", "word", "also", "more"] * 12)
    [r] = gopher_quality_flags(_docs(spark, [(1, text)]), min_words=50).collect()
    assert r["n_words"] == 60
    assert r["passes_gopher"], dict(r.asDict())


def test_gopher_quality_flags_empty_doc_fails(spark):
    from ratatool_spark.operators.corpus import gopher_quality_flags

    [r] = gopher_quality_flags(_docs(spark, [(1, "   ")])).collect()
    assert r["n_words"] == 0
    assert r["mean_word_len"] is None
    assert r["passes_gopher"] is False


def test_temperature_mixture_rates_and_extremes(spark):
    from ratatool_spark.operators.corpus import temperature_mixture

    rows = [(i, "big") for i in range(400)] + [
        (i + 1000, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # alpha=1: natural mixture — everything kept
    assert temperature_mixture(df, alpha=1.0).count() == 500
    # alpha=0.5: smallest source kept whole, big downsampled ~sqrt(100/400)=0.5
    kept = temperature_mixture(df, alpha=0.5, seed=3)
    by_src = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src["small"] == 100
    assert 150 <= by_src["big"] <= 250  # E=200, binomial spread
    # deterministic
    a = sorted(r["doc_id"] for r in kept.collect())
    b = sorted(r["doc_id"] for r in temperature_mixture(df, alpha=0.5, seed=3).collect())
    assert a == b
    import pytest as _pt

    with _pt.raises(ValueError):
        temperature_mixture(df, alpha=1.5)


def test_perplexity_buckets_equal_population_and_order(spark, documents):
    from ratatool_spark.operators.corpus import perplexity_buckets

    out = perplexity_buckets(documents, n_buckets=4).collect()
    n = len(out)
    assert n == documents.count()
    sizes = {}
    for r in out:
        sizes[r["bucket"]] = sizes.get(r["bucket"], 0) + 1
    assert set(sizes) == {0, 1, 2, 3}
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # rank is a dense permutation and ordered by score desc
    ranks = sorted(r["rank"] for r in out)
    assert ranks == list(range(1, n + 1))
    by_rank = sorted(out, key=lambda r: r["rank"])
    scores = [r["mean_logprob"] for r in by_rank if r["mean_logprob"] is not None]
    assert scores == sorted(scores, reverse=True)
    # head bucket scores >= tail bucket scores
    head = [r["mean_logprob"] for r in out if r["bucket"] == 0]
    tail = [r["mean_logprob"] for r in out if r["bucket"] == 3 and r["mean_logprob"] is not None]
    if head and tail:
        assert min(head) >= max(tail)


def test_perplexity_buckets_validation(spark, documents):
    from ratatool_spark.operators.corpus import perplexity_buckets

    with pytest.raises(ValueError):
        perplexity_buckets(documents, n_buckets=0)


def test_c4_page_filter_rules(spark):
    from ratatool_spark.operators.corpus import c4_page_filter

    docs = spark.createDataFrame(
        [
            # 2 good lines (>=5 words, terminal punct) -> kept
            (0, 'one two three four five ok.\nsix seven eight nine ten done?'),
            # short line + unterminated line -> nothing kept
            (1, 'too short.\nfive words but no terminal punct here'),
            # lorem ipsum page flag
            (2, 'one two three four five ok.\nlorem ipsum dolor sit amet.'),
            # brace page flag (line itself dropped, flag sticks)
            (3, 'one two three four five ok.\nsix seven eight nine ten done?\nvar x = { 1 };'),
            # badword is token-exact: "badword1x" does NOT match
            (4, 'one two three badword1x five ok.\nsix seven eight nine ten done?'),
            (5, 'one two three badword1 five ok.\nsix seven eight nine ten done?'),
            (6, None),  # NULL text
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in c4_page_filter(
            docs, min_kept_lines=2, badwords=("badword1",)
        ).collect()
    }
    assert rows[0].keep and rows[0].n_kept_lines == 2
    assert rows[0].clean_text.count("\n") == 1
    assert not rows[1].keep and rows[1].n_kept_lines == 0
    assert rows[2].has_lorem_ipsum and not rows[2].keep
    assert rows[3].has_brace and not rows[3].keep
    assert rows[3].n_kept_lines == 2  # brace line dropped by line rule
    assert not rows[4].has_badword and rows[4].keep
    assert rows[5].has_badword and not rows[5].keep
    assert not rows[6].keep and rows[6].n_kept_lines == 0


def test_c4_page_filter_quote_terminal_and_min_words(spark):
    from ratatool_spark.operators.corpus import c4_page_filter

    docs = spark.createDataFrame(
        [(0, 'he said "one two three four five."\nsix seven eight nine ten done?')],
        "doc_id long, text string",
    )
    r = c4_page_filter(docs, min_kept_lines=2).collect()[0]
    assert r.n_kept_lines == 2 and r.keep


def test_normalize_text_rules(spark):
    import unicodedata

    from ratatool_spark.operators.corpus import normalize_text

    decomposed = "café"
    docs = spark.createDataFrame(
        [
            (0, decomposed + "  x"),     # NFC + squash
            (1, "a\x07b\x00c"),          # control strip
            (2, " already clean"),        # trim only
            (3, "already clean"),         # unchanged
            (4, None),                    # NULL rides through, not changed
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in normalize_text(docs).collect()}
    assert rows[0].text == unicodedata.normalize("NFC", decomposed) + " x"
    assert rows[0].text.startswith("caf\xe9") and rows[0].changed
    assert rows[1].text == "abc" and rows[1].changed
    assert rows[2].text == "already clean" and rows[2].changed
    assert rows[3].text == "already clean" and not rows[3].changed
    assert rows[4].text is None and not rows[4].changed


def test_normalize_text_pure_expression_when_no_form(spark):
    from ratatool_spark.operators.corpus import normalize_text

    docs = spark.createDataFrame([(0, "a  b")], "doc_id long, text string")
    out = normalize_text(docs, form=None)
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert out.collect()[0].text == "a b"
    with pytest.raises(ValueError, match="normalization form"):
        normalize_text(docs, form="NFX")


def test_bpe_learn_ignores_empty_tokens(spark):
    """Double/trailing spaces must not materialize ('','') merge pairs
    (Spark's sequence(1,0) descends, so an empty word would otherwise
    yield ['',''] symbol arrays)."""
    from ratatool_spark.operators.corpus import bpe_learn

    df = spark.createDataFrame(
        [("ab  ab ",), ("ab   ab",)], "text string"
    )
    merges = bpe_learn(df, n_merges=1)
    assert merges == [("a", "b")]


def test_bpe_learn_batched_matches_driver_replay(spark, documents):
    """The batched learner must equal the pure-Python replay of the same
    schedule: per round, rank pairs (score DESC, lhs, rhs), admit up to
    batch symbol-disjoint pairs greedily, apply them all, repeat. Run for
    both objectives — BPE (count, plain concatenation) and WordPiece
    (cnt_ab / (cnt_a * cnt_b) over ##-marked symbols, marker-folding
    merge output)."""
    import operator
    from collections import defaultdict

    from ratatool_spark.operators.corpus import (
        _select_compatible_merges,
        bpe_learn,
    )
    from ratatool_spark.operators.wordpiece import _wp_merged, wordpiece_learn

    n_merges, batch, pool = 20, 8, 64
    words = defaultdict(int)
    for r in documents.select("text").collect():
        for w in (r["text"] or "").strip().split(" "):
            if w:
                words[w] += 1

    def count(cab, sc, a, b):
        return cab

    def likelihood(cab, sc, a, b):
        return float(cab) / (float(sc[a]) * float(sc[b]))

    def marked(w):
        return [("##" if i else "") + c for i, c in enumerate(w)]

    for learn, split, score, merged in (
        (bpe_learn, list, count, operator.add),
        (wordpiece_learn, marked, likelihood, _wp_merged),
    ):
        got = learn(documents, n_merges=n_merges, batch=batch, pool=pool)
        state = [(split(w), f) for w, f in words.items()]
        exp = []
        for _ in range(-(-n_merges // batch)):
            pc = defaultdict(int)
            sc = defaultdict(int)
            for syms, f in state:
                for s in syms:
                    sc[s] += f
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += f
            cands = sorted(
                pc, key=lambda p: (-score(pc[p], sc, *p), p)
            )[:pool]
            chosen = _select_compatible_merges(cands, batch, merged)
            if not chosen:
                break
            exp.extend(chosen)
            rset = {(a, b) for a, b in chosen}
            nxt = []
            for syms, f in state:
                acc = []
                for s in syms:
                    if acc and (acc[-1], s) in rset:
                        acc[-1] = merged(acc[-1], s)
                    else:
                        acc.append(s)
                nxt.append((acc, f))
            state = nxt
        assert got == exp[:n_merges]
        assert len(got) == n_merges


def test_bpe_learn_batch1_is_strict_greedy(spark, documents):
    """batch=1 must stay the strict-greedy trainer bit-for-bit."""
    from ratatool_spark.operators.corpus import bpe_learn

    assert bpe_learn(documents, n_merges=4) == bpe_learn(
        documents, n_merges=4, batch=1
    )


def test_select_compatible_merges_rules():
    from ratatool_spark.operators.corpus import _select_compatible_merges

    cands = [("t", "h"), ("h", "e"), ("i", "n"), ("t", "i"), ("e", "r")]
    # 'h' used by (t,h); 't' used; admitted: (t,h), (i,n), (e,r)
    assert _select_compatible_merges(cands, 5) == [
        ("t", "h"), ("i", "n"), ("e", "r")
    ]
    # prefix property: cap 2 = first 2 of cap 5
    assert _select_compatible_merges(cands, 2) == [("t", "h"), ("i", "n")]
    # concatenation collision: ('a','b') makes 'ab'; ('ab','c') blocked,
    # and a pair whose OUTPUT equals a used symbol is blocked too
    assert _select_compatible_merges(
        [("a", "b"), ("ab", "c"), ("x", "y")], 5
    ) == [("a", "b"), ("x", "y")]


def test_bpe_tokenizer_save_load_roundtrip(spark, documents, tmp_path):
    """The persisted tokenizer artifact must reproduce the exact merge
    list, and encoding with the loaded model must equal encoding with
    the in-memory one."""
    from ratatool_spark.operators.corpus import (
        bpe_learn,
        bpe_segment,
        load_bpe_tokenizer,
        save_bpe_tokenizer,
    )

    merges = bpe_learn(documents, n_merges=12, batch=8, pool=64, rounds=2)
    path = str(tmp_path / "tok.json")
    save_bpe_tokenizer(spark, path, merges)
    loaded = load_bpe_tokenizer(spark, path)
    assert loaded == merges
    a = bpe_segment(documents.limit(20), merges).select("doc_id", "bpe_syms")
    b = bpe_segment(documents.limit(20), loaded).select("doc_id", "bpe_syms")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_byte_alphabet_bijective_roundtrip(spark):
    """GPT-2 byte alphabet: 256 distinct visible chars; encode/decode
    round-trips 1-, 2-, 3- and 4-byte UTF-8 (umlauts, CJK, emoji)."""
    from pyspark.sql import functions as F

    from ratatool_spark.operators.corpus import (
        _BYTE_MAP,
        byte_decode_expr,
        byte_encode_expr,
    )

    assert len(_BYTE_MAP) == 256
    assert len(set(_BYTE_MAP.values())) == 256
    assert _BYTE_MAP[ord("a")] == "a"  # printables map to themselves
    assert _BYTE_MAP[0x20] != " "      # space gets a stand-in
    texts = ["hello", "naïve café", "日本語テスト", "mixed 🚀 Grüße", ""]
    df = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in texts])).alias("t")
    )
    got = df.select(
        "t", byte_decode_expr(byte_encode_expr(F.col("t"))).alias("rt")
    ).collect()
    for r in got:
        assert r["rt"] == r["t"]
    # every encoded char is in the alphabet (no raw control chars leak)
    enc = df.select(byte_encode_expr(F.col("t")).alias("e")).collect()
    alphabet = set(_BYTE_MAP.values())
    for r in enc:
        assert set(r["e"]) <= alphabet


def test_bpe_byte_level_learn_segment_matches_char_level_on_ascii(spark):
    """On pure-ASCII corpora the byte alphabet is the identity over the
    printable range, so byte-level training must learn the SAME merges
    as character-level training."""
    from ratatool_spark.operators.corpus import bpe_learn

    docs = spark.createDataFrame(
        [("low lower lowest low low newer newest",),
         ("wide wider widest low newer",)],
        "text string",
    )
    ch = bpe_learn(docs, n_merges=6, batch=2, pool=16, rounds=3)
    by = bpe_learn(docs, n_merges=6, batch=2, pool=16, rounds=3,
                   byte_level=True)
    assert ch == by


def test_bpe_byte_level_multibyte_merges_and_roundtrip(spark):
    """Non-ASCII corpus: byte-level merges operate on mapped BYTES (a
    2-byte umlaut is two symbols that can merge back), and segmenting +
    decoding reproduces the space-stripped text on BOTH physical
    paths."""
    from pyspark.sql import functions as F

    from ratatool_spark.operators.corpus import (
        bpe_learn,
        bpe_segment,
        byte_decode_expr,
    )

    docs = spark.createDataFrame(
        [("über über über straße straße 日本 日本",)], "text string"
    )
    merges = bpe_learn(docs, n_merges=8, batch=4, pool=32, rounds=2,
                       byte_level=True)
    assert merges  # learned something
    # ü's two UTF-8 bytes (Ã, ¼ in the latin-1 view) merge back together
    assert ("Ã", "¼") in merges or any("Ã¼" in a + b for a, b in merges)
    for thr in (0, 99):  # kernel path and expression path
        seg = bpe_segment(docs, merges, byte_level=True, expr_threshold=thr)
        got = seg.select(
            byte_decode_expr(F.concat_ws("", "bpe_syms")).alias("d")
        ).first()["d"]
        assert got == "überüberüberstraßestraße日本日本"


def test_bpe_byte_level_never_oov(spark):
    """The point of byte level: text from a DIFFERENT script than the
    training corpus still segments (into byte symbols) — nothing is
    OOV — and still decodes exactly."""
    from pyspark.sql import functions as F

    from ratatool_spark.operators.corpus import (
        bpe_learn,
        bpe_segment,
        byte_decode_expr,
    )

    train = spark.createDataFrame([("plain ascii text only here",)],
                                  "text string")
    merges = bpe_learn(train, n_merges=4, batch=2, pool=16, rounds=2,
                       byte_level=True)
    alien_text = "Ωμέγα кириллица 한국어 🚀"
    alien = spark.createDataFrame([(alien_text,)], "text string")
    seg = bpe_segment(alien, merges, byte_level=True, expr_threshold=0)
    row = seg.select(
        "n_bpe_tokens",
        byte_decode_expr(F.concat_ws("", "bpe_syms")).alias("d"),
    ).first()
    assert row["n_bpe_tokens"] > 0
    assert row["d"] == alien_text.replace(" ", "")


def test_bpe_tokenizer_artifact_records_alphabet_mode(spark, tmp_path):
    from ratatool_spark.operators.corpus import (
        bpe_learn,
        load_bpe_tokenizer,
        save_bpe_tokenizer,
    )

    docs = spark.createDataFrame([("über über hello hello",)], "text string")
    merges = bpe_learn(docs, n_merges=4, batch=2, pool=16, rounds=2,
                       byte_level=True)
    p = str(tmp_path / "tok.json")
    save_bpe_tokenizer(spark, p, merges, byte_level=True)
    assert load_bpe_tokenizer(spark, p, expect_byte_level=True) == merges
    assert load_bpe_tokenizer(spark, p) == merges  # unchecked load works
    import pytest as _pt

    with _pt.raises(ValueError, match="alphabet mismatch"):
        load_bpe_tokenizer(spark, p, expect_byte_level=False)
    # legacy artifacts without the flag read as char-level
    p2 = str(tmp_path / "tok2.json")
    save_bpe_tokenizer(spark, p2, merges)
    assert load_bpe_tokenizer(spark, p2, expect_byte_level=False) == merges


def _sb_ref(train_docs, score_docs, alpha=0.4, floor=1e-9):
    """Independent stupid-backoff reference: pure-python counts +
    cascade, for cross-checking the DataFrame implementation."""
    import math
    from collections import Counter

    c3, c2, c1 = Counter(), Counter(), Counter()
    for t in train_docs:
        ws = [w for w in t.strip().split(" ") if w]
        for i, w in enumerate(ws):
            c1[w] += 1
            if i >= 1:
                c2[(ws[i - 1], w)] += 1
            if i >= 2:
                c3[(ws[i - 2], ws[i - 1], w)] += 1
    tot = sum(c1.values())
    out = []
    for t in score_docs:
        ws = [w for w in t.strip().split(" ") if w]
        lps = []
        for i, w in enumerate(ws):
            s1 = c1[w] / tot if c1[w] else floor
            if i >= 2:
                tri, ctx = c3[(ws[i - 2], ws[i - 1], w)], c2[(ws[i - 2], ws[i - 1])]
                if tri:
                    lps.append(math.log(tri / ctx))
                elif c2[(ws[i - 1], w)]:
                    lps.append(math.log(alpha * c2[(ws[i - 1], w)] / c1[ws[i - 1]]))
                else:
                    lps.append(math.log(alpha * alpha * s1))
            elif i == 1:
                if c2[(ws[0], w)]:
                    lps.append(math.log(c2[(ws[0], w)] / c1[ws[0]]))
                else:
                    lps.append(math.log(alpha * s1))
            else:
                lps.append(math.log(s1))
        out.append((len(lps), sum(lps) / len(lps) if lps else None))
    return out


def test_ngram_lm_self_score_matches_reference(spark):
    """Self-scored stupid-backoff trigram scores equal an independent
    pure-python implementation, including document starts and the
    empty-document every-row guarantee."""
    from ratatool_spark.operators.corpus import ngram_lm_score

    texts = ["a b a b c", "a b", "c c a b a", "   ", "b a b"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_logscore"])
        for r in ngram_lm_score(df).collect()
    }
    ref = _sb_ref([t for t in texts], [t for t in texts])
    assert set(got) == set(range(5))
    for i, (n, lp) in enumerate(ref):
        assert got[i][0] == n
        if lp is None:
            assert got[i][1] is None
        else:
            assert abs(got[i][1] - lp) < 1e-9, (i, got[i][1], lp)


def test_ngram_lm_frozen_oov_floor(spark):
    """Frozen-model scoring: tokens the reference never saw fall to the
    OOV floor through the full alpha cascade."""
    from ratatool_spark.operators.corpus import (
        ngram_lm_counts,
        ngram_lm_score,
    )

    train = spark.createDataFrame(
        [(0, "a b c a b c")], "doc_id long, text string"
    )
    lm = ngram_lm_counts(train)
    q = spark.createDataFrame(
        [(1, "a b z"), (2, "z")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["mean_logscore"])
        for r in ngram_lm_score(q, lm_df=lm, oov_floor=1e-6).collect()
    }
    ref = _sb_ref(["a b c a b c"], ["a b z", "z"], floor=1e-6)
    for i, key in enumerate([1, 2]):
        assert got[key][0] == ref[i][0]
        assert abs(got[key][1] - ref[i][1]) < 1e-9


def test_ngram_lm_counts_orders(spark):
    """The count table carries all three orders with the right keys."""
    from ratatool_spark.operators.corpus import ngram_lm_counts

    df = spark.createDataFrame([(0, "x y x y")], "doc_id long, text string")
    rows = {
        (r["n"], r["w1"], r["w2"], r["w3"]): r["cnt"]
        for r in ngram_lm_counts(df).collect()
    }
    assert rows[(1, None, None, "x")] == 2
    assert rows[(2, None, "x", "y")] == 2
    assert rows[(2, None, "y", "x")] == 1
    assert rows[(3, "x", "y", "x")] == 1
    assert rows[(3, "y", "x", "y")] == 1


def test_kn_lm_distributions_sum_to_one(spark):
    """Interpolated KN invariant: for any observed context, the
    conditional distribution sums to exactly 1 over the (V+1)-point
    support (vocabulary + one unseen slot carrying the uniform mass) —
    this pins the discount mass-redistribution algebra at every order.
    Isolated per-token: log p(w|a,b) = 3*s("a b w") - 2*s("a b")."""
    import math

    from pyspark.sql import functions as F

    from ratatool_spark.operators.corpus import kn_lm_model, kn_lm_score

    docs = spark.createDataFrame(
        [
            (1, "a b c a b d"),
            (2, "a b c c"),
            (3, "x y a b"),
            (4, "b c a b c a b"),
        ],
        "doc_id int, text string",
    )
    m = kn_lm_model(docs).localCheckpoint()
    # support = FULL vocabulary (every distinct token) + one unseen
    # slot — unic alone misses words that never follow another token
    vocab = {
        w
        for r in docs.select(F.split("text", " ").alias("ts")).collect()
        for w in r["ts"]
        if w
    }
    support = sorted(vocab) + ["UNSEENZ"]

    def scores(texts):
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id int, text string"
        )
        out = kn_lm_score(df, m, oov_floor=0.0)
        return {
            r["doc_id"]: (r["n_tokens"], r["mean_logscore"])
            for r in out.collect()
        }

    for ctx in ("a b", "c a", "y a"):  # attested trigram+bigram contexts
        got = scores([f"{ctx} {w}" for w in support] + [ctx])
        base_n, base_s = got[len(support)]
        total = 0.0
        for i in range(len(support)):
            n, s = got[i]
            total += math.exp(n * s - base_n * base_s)
        assert abs(total - 1.0) < 1e-9, (ctx, total)


def test_kn_lm_frozen_oov_finite_and_floor(spark):
    """Frozen-model scoring of fully-unseen text stays finite via the
    continuation-unigram uniform mass; with oov_floor it is bounded
    below even when D1 would be 0."""
    from ratatool_spark.operators.corpus import kn_lm_model, kn_lm_score

    train = spark.createDataFrame(
        [(0, "p q r p q s"), (1, "q r p p")], "doc_id int, text string"
    )
    m = kn_lm_model(train)
    q = spark.createDataFrame([(7, "zz yy xx")], "doc_id int, text string")
    r = kn_lm_score(q, m, oov_floor=1e-9).collect()[0]
    assert r["n_tokens"] == 3
    assert r["mean_logscore"] is not None
    import math

    assert math.isfinite(r["mean_logscore"])
    assert r["mean_logscore"] >= math.log(1e-9) - 1e-12


def test_kn_lm_discounts_from_count_of_counts(spark):
    """Modified-KN (Chen & Goodman 1999) three-discount estimates from
    each order's (continuation) count-of-counts: Y = n1/(n1+2n2),
    D_i = i − (i+1)·Y·n_{i+1}/n_i clamped into [0, i]; empty buckets
    fall back to the previous discount."""
    from pyspark.sql import functions as F

    from ratatool_spark.operators.corpus import kn_lm_model

    docs = spark.createDataFrame(
        [(0, "a b c a b c")], "doc_id int, text string"
    )
    m = kn_lm_model(docs)
    c = {r["w3"]: r["v1"] for r in m.where(F.col("kind") == "const").collect()}
    # tri counts: abc:2, bca:1, cab:1 -> n1=2 n2=1 n3=n4=0
    # Y = 2/4 = .5; D31 = 1 - 2*.5*(1/2) = .5;
    # D32 = 2 - 3*.5*(0/1) = 2.0; D33 (n3=0) falls back to D32
    assert c["D31"] == 0.5
    assert c["D32"] == 2.0 and c["D33"] == 2.0
    for i, names in enumerate(
        (("D11", "D21", "D31"), ("D12", "D22", "D32"),
         ("D13", "D23", "D33")), start=1
    ):
        for nm in names:
            assert 0.0 <= c[nm] <= float(i), (nm, c[nm])
    assert c["V"] == 3.0
    # W1 buckets partition the continuation-unigram types
    uni_types = m.where(F.col("kind") == "unic").count()
    assert c["W11"] + c["W12"] + c["W13"] == float(uni_types)


def test_doremi_weights_upweight_hard_domains(spark):
    """DoReMi EG: the domain with higher excess loss ends with the
    larger weight; weights sum to 1; smoothing floors every domain."""
    from ratatool_spark.operators.corpus import doremi_weights

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 1.2), ("b", 5.0), ("b", 5.5), ("c", 1.1)],
        "source string, loss double",
    )
    rows = {r["source"]: r for r in
            doremi_weights(df, "loss", rounds=5).collect()}
    assert abs(sum(r["weight"] for r in rows.values()) - 1.0) < 1e-12
    assert rows["b"]["weight"] > rows["a"]["weight"]
    assert rows["b"]["excess"] > 0 and rows["a"]["excess"] == 0.0
    # smoothing floor: c/k with c=0.1, k=3
    assert min(r["weight"] for r in rows.values()) >= 0.1 / 3 - 1e-12


def test_doremi_weights_uniform_when_no_excess(spark):
    """All domains at/below the corpus mean -> exp(0) everywhere ->
    uniform weights."""
    from ratatool_spark.operators.corpus import doremi_weights

    df = spark.createDataFrame(
        [("a", 2.0), ("b", 2.0), ("c", 2.0)], "source string, loss double"
    )
    rows = doremi_weights(df, "loss", rounds=3).collect()
    for r in rows:
        assert abs(r["weight"] - 1.0 / 3) < 1e-12


def test_doremi_weights_null_domain_is_a_group(spark):
    """A NULL source domain is a legal groupBy key — the driver-side
    domain sort must not TypeError comparing None with str (r10
    ADVICE); the NULL group gets a weight like any other."""
    from ratatool_spark.operators.corpus import doremi_weights

    df = spark.createDataFrame(
        [("a", 1.0), (None, 9.0), ("b", 1.2), (None, 8.0)],
        "source string, loss double",
    )
    rows = {r["source"]: r["weight"]
            for r in doremi_weights(df, "loss", rounds=4).collect()}
    assert set(rows) == {"a", "b", None}
    assert abs(sum(rows.values()) - 1.0) < 1e-12
    assert rows[None] > rows["a"]  # the hard (high-loss) domain


def test_unimax_budgets_allocation(spark):
    """Water-filling edges: tail languages cap at max_epochs, the head
    splits the remainder; budget >= total capacity caps everyone;
    budget below the smallest capacity*k splits uniformly."""
    from pyspark.sql import functions as F

    from ratatool_spark.operators.corpus import unimax_budgets

    df = spark.createDataFrame(
        [("en", 1000), ("de", 200), ("fr", 100)], "lang string, n bigint"
    ).withColumn("n_chars", F.col("n"))

    # 1-epoch cap, budget below en's capacity: fr+de capped, en gets
    # the remainder as a partial epoch
    out = {r["lang"]: r for r in
           unimax_budgets(df, budget=1000, max_epochs=1).collect()}
    assert out["fr"]["capped"] and out["fr"]["budget_chars"] == 100.0
    assert out["fr"]["epochs"] == 1.0
    assert out["de"]["capped"] and out["de"]["budget_chars"] == 200.0
    assert not out["en"]["capped"]
    assert out["en"]["budget_chars"] == 700.0  # 1000 - 300
    assert abs(out["en"]["epochs"] - 0.7) < 1e-9

    # budget >= total capacity: everyone capped, leftover unspent
    out2 = {r["lang"]: r for r in
            unimax_budgets(df, budget=10_000, max_epochs=2).collect()}
    assert all(r["capped"] for r in out2.values())
    assert sum(r["budget_chars"] for r in out2.values()) == 2600.0

    # budget too small for any cap: pure uniform split
    out3 = {r["lang"]: r for r in
            unimax_budgets(df, budget=150, max_epochs=2).collect()}
    assert not any(r["capped"] for r in out3.values())
    assert all(r["budget_chars"] == 50.0 for r in out3.values())
