"""WordPiece training + segmentation (operators/wordpiece): likelihood
objective, BERT continuation markers, replay/longest-match duality,
artifact round-trip."""

import pytest
from pyspark.sql import functions as F

from ratatool_spark.operators.wordpiece import (
    _wp_merged,
    load_wordpiece_tokenizer,
    save_wordpiece_tokenizer,
    wordpiece_apply_merges,
    wordpiece_learn,
    wordpiece_match_segment,
    wordpiece_match_word,
    wordpiece_segment,
    wordpiece_vocab,
)


def test_merged_strips_continuation_marker():
    assert _wp_merged("l", "##o") == "lo"
    assert _wp_merged("lo", "##w") == "low"
    assert _wp_merged("##e", "##r") == "##er"
    assert _wp_merged("a", "b") == "ab"  # no marker: plain concat


def test_apply_merges_marks_and_folds():
    assert wordpiece_apply_merges("low", []) == ["l", "##o", "##w"]
    m = [("l", "##o"), ("lo", "##w")]
    assert wordpiece_apply_merges("low", m) == ["low"]
    assert wordpiece_apply_merges("lower", m + [("##e", "##r")]) == [
        "low", "##er"]
    assert wordpiece_apply_merges("", m) == []


def test_objective_prefers_exclusive_pairs(spark):
    """The likelihood score picks a rare-but-exclusive pair over a
    frequent pair of promiscuous symbols — the defining difference from
    BPE's count objective."""
    # 'xq' occurs 3x and x/q occur nowhere else (score 3/(3*3)=0.333);
    # 'aa' occurs 12x but 'a'/'##a' are everywhere (score much lower)
    docs = spark.createDataFrame(
        [("d%d" % i, "aaaa aaaa xq") for i in range(3)],
        "doc_id string, text string",
    )
    merges = wordpiece_learn(docs, n_merges=1)
    assert merges == [("x", "##q")]


def test_segment_paths_agree_and_match_kernel(spark, documents):
    docs = documents.limit(40)
    merges = wordpiece_learn(docs, n_merges=12, batch=6, pool=24)
    expr = wordpiece_segment(docs, merges, expr_threshold=64)
    kern = wordpiece_segment(docs, merges, expr_threshold=0)
    a = {r["doc_id"]: tuple(r["wp_syms"]) for r in expr.collect()}
    b = {r["doc_id"]: tuple(r["wp_syms"]) for r in kern.collect()}
    assert a == b
    # spot-check one doc against the driver twin
    row = docs.select("doc_id", "text").first()
    want = []
    for w in row["text"].strip(" ").split(" "):
        if w:
            want.extend(wordpiece_apply_merges(w, merges))
    assert list(a[row["doc_id"]]) == want


def test_match_word_bert_examples():
    vocab = {"un", "##aff", "##able", "hug", "##s", "h"}
    assert wordpiece_match_word("unaffable", vocab) == [
        "un", "##aff", "##able"]
    assert wordpiece_match_word("hugs", vocab) == ["hug", "##s"]
    # greedy longest-first, not shortest: 'hug' beats 'h'
    assert wordpiece_match_word("hug", vocab) == ["hug"]
    # all-or-nothing UNK (no partial fallback)
    assert wordpiece_match_word("hugz", vocab) == ["[UNK]"]
    assert wordpiece_match_word("x" * 200, vocab, max_chars=100) == ["[UNK]"]
    assert wordpiece_match_word("", vocab) == []


def test_match_segment_and_vocab(spark):
    docs = spark.createDataFrame(
        [("d1", "low lower"), ("d2", "low zzz")],
        "doc_id string, text string",
    )
    merges = wordpiece_learn(docs, n_merges=4, batch=2, pool=16)
    vocab = wordpiece_vocab(docs, merges)
    # alphabet + every merge output, no duplicates
    assert len(vocab) == len(set(vocab))
    for a, b in merges:
        assert _wp_merged(a, b) in vocab
    got = {
        r["doc_id"]: r["wp_syms"]
        for r in wordpiece_match_segment(docs, vocab).collect()
    }
    # every trained-corpus word re-segments without UNK (its chars are
    # all in the alphabet)
    assert all("[UNK]" not in syms for syms in got.values())
    flat = [s for syms in got.values() for s in syms]
    assert all(s in set(vocab) for s in flat)
    # an unknown CHARACTER forces UNK
    other = spark.createDataFrame([("d3", "Ω")], "doc_id string, text string")
    assert wordpiece_match_segment(other, vocab).first()["wp_syms"] == [
        "[UNK]"]


def test_artifact_roundtrip_and_algo_guard(spark, tmp_path):
    merges = [("l", "##o"), ("lo", "##w")]
    p = str(tmp_path / "wp.json")
    save_wordpiece_tokenizer(spark, p, merges, vocab=["l", "##o", "lo"])
    got, vocab = load_wordpiece_tokenizer(spark, p)
    assert got == merges and vocab == ["l", "##o", "lo"]
    # a BPE artifact must be refused, not silently misapplied
    from ratatool_spark.operators.corpus import save_bpe_tokenizer

    p2 = str(tmp_path / "bpe.json")
    save_bpe_tokenizer(spark, p2, merges)
    with pytest.raises(ValueError, match="not a v1 wordpiece"):
        load_wordpiece_tokenizer(spark, p2)
    # ...and a WordPiece artifact refused by the BPE loader, in either
    # alphabet mode (replayed as BPE it would encode "low" as l/o/w)
    from ratatool_spark.operators.corpus import load_bpe_tokenizer

    for expect in (None, False, True):
        with pytest.raises(ValueError, match="not a bpe artifact"):
            load_bpe_tokenizer(spark, p, expect_byte_level=expect)
    assert load_bpe_tokenizer(spark, p2) == merges


def test_batched_admission_uses_wp_output(spark):
    """Disjointness must track the WordPiece OUTPUT (marker stripped):
    after admitting (l, ##o) -> 'lo', a candidate pair producing 'lo'
    again (or consuming it) is blocked within the same batch."""
    from ratatool_spark.operators.corpus import _select_compatible_merges

    cands = [("l", "##o"), ("lo", "##w"), ("x", "##y")]
    got = _select_compatible_merges(cands, 3, merged=_wp_merged)
    # ('lo', '##w') consumes the first merge's output symbol: blocked
    assert got == [("l", "##o"), ("x", "##y")]
