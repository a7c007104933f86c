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

Scale shape — identical to the batched BPE trainer: the corpus first
collapses to its DISTINCT-word frequency table (pair statistics scale
with |vocabulary|, not corpus bytes — the 100 TB property), each round
is TWO keyed aggregations (pair counts + symbol counts; the ranking
join is aggregate-sized), and up to ``batch`` pairwise symbol-disjoint
merges apply in ONE fused JVM-side fold pass
(``corpus._select_compatible_merges``'s admission rule, extended with
the WordPiece merge output). Zero Python UDFs in training.

Two segmentation surfaces:

* :func:`wordpiece_segment` — MERGE REPLAY: applies the learned merge
  list in training order (same fold), so re-encoding the training
  corpus reproduces the trainer's final symbol state exactly; fully
  SQL-replayable (the oracle gate's contract).
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

from ratatool_spark.functions.text import tokens
from ratatool_spark.operators.corpus import _select_compatible_merges


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


def _wp_fold_expr(sym: Column, rules: Sequence[tuple[str, str]]) -> Column:
    """One greedy left-to-right pass applying a set of symbol-disjoint
    WordPiece merges as a single ``aggregate`` fold — the BPE fold
    (``corpus._merge_fold_multi_expr``) with the WordPiece merge
    output (:func:`_wp_merged`) instead of plain concatenation."""
    if not rules:
        return sym
    empty = F.array().cast("array<string>")

    def step(acc: Column, s: Column) -> Column:
        last = F.element_at(acc, -1)
        out = F.concat(acc, F.array(s))
        for a, b in rules:
            hit = (F.size(acc) > 0) & (last == F.lit(a)) & (s == F.lit(b))
            out = F.when(
                hit,
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.lit(_wp_merged(a, b))),
                ),
            ).otherwise(out)
        return out

    return F.aggregate(sym, empty, step)


def _word_freq_syms(df: DataFrame, text_col: str) -> DataFrame:
    words = df.select(F.explode(tokens(F.col(text_col))).alias("__w")).where(
        F.length("__w") > 0
    )
    return (
        words.groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__freq"))
        .select("__freq", _marked_symbols(F.col("__w")).alias("__sym"))
        .localCheckpoint(eager=False)
    )


def _round_stats(wf: DataFrame) -> tuple[DataFrame, DataFrame]:
    z = F.arrays_zip(
        F.slice(
            F.col("__sym"), 1, F.greatest(F.size("__sym") - 1, F.lit(1))
        ).alias("a"),
        F.slice(
            F.col("__sym"), 2, F.greatest(F.size("__sym") - 1, F.lit(1))
        ).alias("b"),
    )
    pc = (
        wf.where(F.size("__sym") >= 2)
        .select("__freq", F.explode(z).alias("__p"))
        .where(F.col("__p.b").isNotNull())
        .groupBy(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
        .agg(F.sum("__freq").alias("cnt_pair"))
    )
    sc = (
        wf.select("__freq", F.explode("__sym").alias("s"))
        .groupBy("s")
        .agg(F.sum("__freq").alias("cnt_sym"))
    )
    return pc, sc


def _score_join(pc: DataFrame, sc: DataFrame) -> DataFrame:
    ca = sc.select(F.col("s").alias("a"), F.col("cnt_sym").alias("cnt_a"))
    cb = sc.select(F.col("s").alias("b"), F.col("cnt_sym").alias("cnt_b"))
    return (
        pc.join(ca, "a")
        .join(cb, "b")
        .select(
            "a", "b", "cnt_pair", "cnt_a", "cnt_b",
            (
                F.col("cnt_pair").cast("double")
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
    (``corpus.bpe_learn``, including the batched disjoint-admission
    throughput path) with the likelihood objective: candidates rank by
    ``cnt_pair / (cnt_a · cnt_b)`` DESC (double-precision — the exact
    expression the oracle replays), ties by (a, b) ascending. Returns
    the ordered merge list over BERT-marked symbols (apply with
    :func:`wordpiece_segment`; derive each merge's output token with
    ``_wp_merged``)."""
    wf = _word_freq_syms(df, text_col)
    if batch < 1:
        raise ValueError(f"batch must be >= 1, got {batch}")
    if batch > 1 and pool < batch:
        raise ValueError(f"pool ({pool}) must be >= batch ({batch})")
    merges: list[tuple[str, str]] = []
    if rounds is None:
        rounds = -(-n_merges // batch)
    for _ in range(rounds):
        pc, sc = _round_stats(wf)
        cand = (
            _score_join(pc, sc)
            .orderBy(F.col("score").desc(), F.col("a").asc(),
                     F.col("b").asc())
            .limit(1 if batch == 1 else pool)
            .collect()
        )
        if not cand:
            break
        chosen = _select_compatible_merges(
            [(r["a"], r["b"]) for r in cand],
            batch,
            merged=_wp_merged,
        )
        merges.extend(chosen)
        wf = wf.select(
            "__freq", _wp_fold_expr(F.col("__sym"), chosen).alias("__sym")
        ).localCheckpoint(eager=False)
    return merges[:n_merges]


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
        for r in _word_freq_syms(df, text_col)
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
    Dual path like ``corpus.bpe_segment``: chained JVM folds for short
    lists, an Arrow-batched kernel with a per-batch word cache
    beyond ``expr_threshold``."""
    toks = tokens(F.col(text_col))
    if len(merges) <= expr_threshold:
        empty_arr = F.array().cast("array<string>")
        marked = F.transform(
            toks,
            lambda w: F.when(F.length(w) == 0, empty_arr).otherwise(
                _marked_symbols(w)
            ),
        )
        sym = marked
        for rule in merges:
            sym = F.transform(sym, lambda ws: _wp_fold_expr(ws, [rule]))
        out = df.withColumn("wp_syms", F.flatten(sym))
        return out.withColumn("n_wp_tokens", F.size("wp_syms"))

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    merge_list = [tuple(m) for m in merges]

    def _encode(texts):
        cache: dict[str, list[str]] = {}

        def enc(text):
            if text is None:
                return None
            out: list[str] = []
            for w in text.strip(" ").split(" "):
                got = cache.get(w)
                if got is None:
                    got = cache[w] = wordpiece_apply_merges(w, merge_list)
                out.extend(got)
            return out

        return texts.map(enc)

    _encode.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    _encode = pandas_udf(T.ArrayType(T.StringType()))(_encode)
    out = df.withColumn("wp_syms", _encode(F.col(text_col)))
    return out.withColumn("n_wp_tokens", F.size("wp_syms"))


def wordpiece_apply_merges(
    word: str, merges: Sequence[tuple[str, str]]
) -> list[str]:
    """Driver-side twin of the replay fold (the reference the Spark
    paths are tested against; the kernel of the UDF path)."""
    if not word:
        return []
    syms = [word[0]] + ["##" + c for c in word[1:]]
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = _wp_merged(a, b)
            else:
                out.append(s)
        syms = out
    return syms


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
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    vset = set(vocab)

    def _encode(texts):
        cache: dict[str, list[str]] = {}

        def enc(text):
            if text is None:
                return None
            out: list[str] = []
            for w in text.strip(" ").split(" "):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = cache[w] = wordpiece_match_word(
                        w, vset, unk, max_chars)
                out.extend(got)
            return out

        return texts.map(enc)

    _encode.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    _encode = pandas_udf(T.ArrayType(T.StringType()))(_encode)
    out = df.withColumn("wp_syms", _encode(F.col(text_col)))
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
