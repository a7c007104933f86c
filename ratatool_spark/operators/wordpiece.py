"""WordPiece tokenizer training and segmentation (Schuster & Nakajima
2012; the BERT tokenizer), distributed.

Completes the tokenizer-training family next to BPE (``corpus.bpe_learn``)
and the unigram LM (``operators/unigram``): WordPiece is BPE's sibling
with a LIKELIHOOD merge objective — each round merges the adjacent
symbol pair maximizing ``score = count(ab) / (count(a) * count(b))``
(the mutual-information-style gain of fusing the pair under a unigram
LM) instead of raw pair count. Symbols carry BERT's continuation
marker: a word's first symbol is plain, every later one is
``##``-prefixed, so ``e`` and ``##e`` are distinct learnable units and
merged non-initial pieces stay ``##``-marked (the merge output of
``(l, ##r)`` is ``l`` + ``r`` — the marker never duplicates inside a
token).

Scale shape — WordPiece has no trainer of its own: it runs the
subword-tokenizer core of ``operators/corpus`` that BPE runs, with three
hooks. ``_marked_symbols`` splits words for ``_word_table`` (the
DISTINCT-word frequency table — pair statistics scale with |vocabulary|,
not corpus bytes, the 100 TB property); :func:`_likelihood` ranks pairs
for ``_learn_merges`` (the core's pair count plus one symbol-count
aggregation; the ranking join is aggregate-sized); ``_wp_merged`` names
the merge output for the batch admission rule
(``_select_compatible_merges``), the fused ``_fold_expr`` pass and the
driver replay ``_replay``. Zero Python UDFs in training.

Two segmentation surfaces:

* :func:`wordpiece_segment` — MERGE REPLAY: applies the learned merge
  list in training order (the core's ``_segment``, same fold), so
  re-encoding the training corpus reproduces the trainer's final symbol
  state exactly; fully SQL-replayable (the oracle gate's contract).
* :func:`wordpiece_match_segment` — the canonical BERT INFERENCE:
  greedy longest-match-first against a frozen vocabulary with
  ``[UNK]`` fallback (Arrow-batched kernel; the per-word result is
  cached per batch, so work scales with distinct words).

Reference parity: ratatool has no tokenizer training; the algorithm
follows the published WordPiece description (Schuster & Nakajima 2012,
§"wordpiece model"; Wu et al. 2016 §4.1) and BERT's released
tokenization.py longest-match inference."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ratatool_spark.operators.corpus import (
    _learn_merges,
    _pair_counts,
    _replay,
    _segment,
    _word_table,
    _word_udf,
)


def _wp_merged(l: str, r: str) -> str:  # noqa: E741
    """The output symbol of merging (l, r): the right side's
    continuation marker folds away (it marks position, not content)."""
    return l + (r[2:] if r.startswith("##") else r)


def _marked_symbols(w: Column) -> Column:
    """A word as BERT-marked symbols: first char plain, the rest
    ``##``-prefixed."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(w), F.lit(1))),
        lambda i: F.when(i == 1, w.substr(i, F.lit(1))).otherwise(
            F.concat(F.lit("##"), w.substr(i, F.lit(1)))
        ),
    )


def _likelihood(wf: DataFrame) -> DataFrame:
    """WordPiece's merge objective over a word table: the core's pair
    counts joined to both symbols' counts → (``a``, ``b``, ``score``),
    ``score = cnt / (cnt_a · cnt_b)`` in double precision (the exact
    expression the oracle replays)."""
    sc = (
        wf.select("__freq", F.explode("__sym").alias("s"))
        .groupBy("s")
        .agg(F.sum("__freq").alias("cnt_sym"))
    )
    ca = sc.select(F.col("s").alias("a"), F.col("cnt_sym").alias("cnt_a"))
    cb = sc.select(F.col("s").alias("b"), F.col("cnt_sym").alias("cnt_b"))
    return (
        _pair_counts(wf)
        .join(ca, "a")
        .join(cb, "b")
        .select(
            "a", "b",
            (
                F.col("cnt").cast("double")
                / (F.col("cnt_a").cast("double")
                   * F.col("cnt_b").cast("double"))
            ).alias("score"),
        )
    )


def wordpiece_learn(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    batch: int = 1,
    pool: int = 128,
    rounds: int | None = None,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` WordPiece merges — the BPE training loop
    (``corpus._learn_merges``, including the batched disjoint-admission
    throughput path) with the likelihood objective: candidates rank by
    ``cnt_pair / (cnt_a · cnt_b)`` DESC (double-precision — the exact
    expression the oracle replays), ties by (a, b) ascending. Returns
    the ordered merge list over BERT-marked symbols (apply with
    :func:`wordpiece_segment`; derive each merge's output token with
    ``_wp_merged``)."""
    return _learn_merges(
        _word_table(df, text_col, _marked_symbols),
        n_merges, batch, pool, rounds, _likelihood, _wp_merged,
    )


def wordpiece_vocab(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
) -> list[str]:
    """The inference vocabulary a trained merge list induces: the
    corpus's marked single-character alphabet plus every merge's output
    token, deduplicated, deterministic order (the frozen-vocab input
    for :func:`wordpiece_match_segment`). The alphabet scan is one
    distinct over exploded marked chars — vocabulary-scale."""
    alpha = [
        r["s"]
        for r in _word_table(df, text_col, _marked_symbols)
        .select(F.explode("__sym").alias("s"))
        .distinct()
        .orderBy("s")
        .collect()
    ]
    seen = set(alpha)
    out = list(alpha)
    for a, b in merges:
        m = _wp_merged(a, b)
        if m not in seen:
            seen.add(m)
            out.append(m)
    return out


def wordpiece_segment(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    expr_threshold: int = 16,
) -> DataFrame:
    """Merge-replay segmentation: apply the learned WordPiece merge list
    in training order, greedy left-to-right per word — adds ``wp_syms``
    (##-marked subword array) and ``n_wp_tokens``. Re-encoding the
    training corpus reproduces the trainer's final state (same fold).
    Dual path like ``corpus.bpe_segment`` (the tokenizer core's
    ``corpus._segment``): chained JVM folds for short lists, an
    Arrow-batched kernel with a per-batch word cache beyond
    ``expr_threshold``."""
    return _segment(
        df, text_col, "wp", merges, expr_threshold, _marked_symbols,
        wordpiece_apply_merges, _wp_merged,
    )


def wordpiece_apply_merges(
    word: str, merges: Sequence[tuple[str, str]]
) -> list[str]:
    """Driver-side twin of the replay fold (the reference the Spark
    paths are tested against; the kernel of the UDF path)."""
    marked = [("##" if i else "") + c for i, c in enumerate(word)]
    return _replay(marked, merges, _wp_merged)


def wordpiece_match_word(
    word: str, vocab: set[str], unk: str = "[UNK]", max_chars: int = 100
) -> list[str]:
    """BERT's greedy longest-match-first inference for ONE word: take
    the longest vocabulary prefix (``##``-marked after the first
    piece); if no prefix matches — or the word exceeds ``max_chars`` —
    the WHOLE word is ``unk`` (the published algorithm's all-or-nothing
    rule, not a partial fallback)."""
    if not word:
        return []
    if len(word) > max_chars:
        return [unk]
    out: list[str] = []
    i = 0
    while i < len(word):
        j = len(word)
        piece = None
        while j > i:
            cand = ("##" if i > 0 else "") + word[i:j]
            if cand in vocab:
                piece = cand
                break
            j -= 1
        if piece is None:
            return [unk]
        out.append(piece)
        i = j
    return out


def wordpiece_match_segment(
    df: DataFrame,
    vocab: Sequence[str],
    text_col: str = "text",
    unk: str = "[UNK]",
    max_chars: int = 100,
) -> DataFrame:
    """Greedy longest-match WordPiece inference over a corpus against a
    FROZEN vocabulary (the BERT tokenizer's runtime path): adds
    ``wp_syms`` + ``n_wp_tokens``. Arrow-batched kernel; the vocab set
    ships once per executor via the closure, per-word results cache per
    batch (work scales with distinct words, not tokens)."""
    vset = set(vocab)
    syms = _word_udf(lambda w: wordpiece_match_word(w, vset, unk, max_chars))
    out = df.withColumn("wp_syms", syms(F.col(text_col)))
    return out.withColumn("n_wp_tokens", F.size("wp_syms"))


def save_wordpiece_tokenizer(
    spark, path: str, merges: Sequence[tuple[str, str]],
    vocab: Sequence[str] | None = None,
) -> None:
    """Persist a trained WordPiece model (ordered merges + optional
    frozen inference vocab) as one self-describing JSON artifact."""
    import json

    from ratatool_spark.sources.shards import _write_text

    _write_text(
        spark,
        path,
        json.dumps({
            "version": 1,
            "algo": "wordpiece",
            "merges": [[a, b] for a, b in merges],
            "vocab": list(vocab) if vocab is not None else None,
        }),
    )


def load_wordpiece_tokenizer(
    spark, path: str
) -> tuple[list[tuple[str, str]], list[str] | None]:
    """Load a persisted WordPiece model → (merges, vocab-or-None).
    Refuses artifacts of other algorithms (a BPE merge list applied as
    WordPiece would silently drop continuation markers)."""
    import json

    from ratatool_spark.sources.shards import _read_text

    meta = json.loads(_read_text(spark, path))
    if meta.get("algo") != "wordpiece" or meta.get("version") != 1:
        raise ValueError(
            f"not a v1 wordpiece artifact: algo={meta.get('algo')!r} "
            f"version={meta.get('version')!r}"
        )
    return [(a, b) for a, b in meta["merges"]], meta.get("vocab")
