"""Training-corpus curation operators: repetition metrics, source-mixture
resampling, benchmark-contamination checks.

These extend the reference's sampling family (BigSampler's deterministic
dice, `ratatool-sampling/README.md` reproducibility contract) to the
curation steps an LLM data pipeline runs between raw crawl and training
shards. All pure DataFrame ops — the shapes below are the 100 TB designs:

* ``repetition_metrics`` — Gopher-style repetition signals (fraction of
  the document covered by its most frequent word n-gram; fraction covered
  by n-grams occurring more than once). One explode + two hash
  aggregations; the shuffle key is (doc, gram) so partial aggregation
  (map-side combine) collapses each document's gram counts before the
  exchange.
* ``mixture_sample`` — resample to a target per-source mixture with the
  deterministic hash dice (same dice as ``operators.sampler``, so the
  kept set is reproducible in any engine). Per-source keep-rates are
  derived from a tiny groupBy(source) aggregate joined back via
  broadcast — **no driver collect**, the fact table never shuffles.
  Rates are scaled so the largest-deficit source is kept whole
  (rate_s = K·t_s/n_s with K = min_s n_s/t_s): the output achieves the
  exact target mixture in expectation at the maximum total volume.
* ``contamination`` — fraction of each document's word n-gram shingles
  that appear in a benchmark/eval set (train-test leakage detector,
  n-gram-overlap method). The benchmark shingle set is deduped and
  broadcast (eval suites are small by construction); the corpus side
  never shuffles.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ratatool_spark.functions.hashing import dice
from ratatool_spark.functions.text import tokens, word_ngrams, word_shingles


def repetition_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document n-gram repetition signals: ``n_ngrams`` (total n-gram
    occurrences), ``top_ngram_frac`` (share of the most frequent n-gram),
    ``dup_ngram_frac`` (share of occurrences whose n-gram repeats).

    High values of either fraction flag boilerplate / spam / degenerate
    text (the duplicate-line and top-n-gram filters of the Gopher and C4
    cleaning rules, restated over word n-grams). Documents shorter than
    one token still emit one (padded) n-gram, and NULL text is treated
    as empty, so every input row appears in the output — a downstream
    inner join on the metrics never silently drops documents."""
    g = word_ngrams(F.coalesce(F.col(text_col), F.lit("")), n)
    per = (
        df.select(F.col(id_col), F.explode(g).alias("__g"))
        .groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return per.groupBy(id_col).agg(
        F.sum("__c").alias("n_ngrams"),
        (F.max("__c") / F.sum("__c")).alias("top_ngram_frac"),
        (
            F.sum(F.when(F.col("__c") > 1, F.col("__c")).otherwise(F.lit(0)))
            / F.sum("__c")
        ).alias("dup_ngram_frac"),
    )


def mixture_sample(
    df: DataFrame,
    target_shares: dict[str, float],
    source_col: str = "source",
    dice_cols: Sequence[str | Column] = ("doc_id",),
    seed: int = 0,
    weight_col: str | Column | None = None,
) -> DataFrame:
    """Deterministically resample ``df`` toward a target per-source mixture.

    ``target_shares`` maps source value → desired share of the output
    (shares need not sum to 1 — only ratios matter). Sources absent from
    the map are dropped. Keep-rates are ``rate_s = K·t_s/n_s`` with
    ``K = min_s(n_s/t_s)``: every rate ≤ 1, at least one source is kept
    in full, and the expected output hits the target ratios at maximum
    volume. Selection uses the portable hash dice over ``dice_cols`` +
    ``seed`` (BigSampler's reproducible-dice contract), so the kept set
    is stable across runs/engines and independent of partitioning.

    ``weight_col`` switches the mixture's unit from documents to any
    additive weight — pass a token-count column (or expression, e.g.
    ``token_count(F.col("text"))``) to target TOKEN shares, which is what
    LLM data mixtures actually specify. Keep-rates then equalize expected
    kept weight per source; selection stays per-row (each row keeps all
    or none of its weight, unbiased in expectation).

    Plan shape: one tiny groupBy(source) count, a 1-row global min, and
    a broadcast join of the per-source rates back onto the fact table —
    the fact table itself never shuffles and is scanned once."""
    if not target_shares:
        raise ValueError("target_shares must be non-empty")
    tgt = F.create_map(
        *[F.lit(x) for kv in target_shares.items() for x in kv]
    )
    if weight_col is None:
        w = F.lit(1).cast("double")
    elif isinstance(weight_col, str):
        w = F.col(weight_col).cast("double")
    else:
        w = weight_col.cast("double")
    counts = (
        df.groupBy(source_col)
        .agg(F.sum(w).alias("__n"))
        .withColumn("__t", tgt[F.col(source_col)])
        .where(F.col("__t").isNotNull() & (F.col("__t") > 0))
    )
    kmin = counts.agg(F.min(F.col("__n") / F.col("__t")).alias("__k"))
    rates = counts.crossJoin(F.broadcast(kmin)).select(
        source_col,
        (F.col("__k") * F.col("__t") / F.col("__n")).alias("__rate"),
    )
    roll = dice(list(dice_cols), seed=seed)
    return (
        df.join(F.broadcast(rates), source_col, "inner")
        .where(roll < F.col("__rate"))
        .drop("__rate")
    )


def temperature_mixture(
    df: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
    dice_cols: Sequence[str | Column] = ("doc_id",),
    seed: int = 0,
    weight_col: str | Column | None = None,
) -> DataFrame:
    """Temperature-scaled source rebalancing — the multilingual-LM
    mixture rule (sample source s ∝ n_s^α): instead of a hand-written
    target dict (:func:`mixture_sample`), the targets come from the
    corpus itself, flattened by exponent α. Closed form: keep-rate_s =
    ``(n_min / n_s)^(1-α)`` — α=1 keeps the natural mixture (all rows),
    α→0 equalizes sources; the smallest source is always kept whole.

    Same reproducible-dice selection and same plan shape as
    ``mixture_sample``: one tiny groupBy(source) aggregate, a 1-row min,
    broadcast rates joined back — the fact table never shuffles.
    ``weight_col`` switches the unit from rows to tokens/bytes.

    α=0.5 routes through ``sqrt`` (IEEE-correctly-rounded, so rates are
    bit-identical in every engine); other α use ``pow`` (last-ulp
    variance across libm implementations — harmless for sampling, but
    the α=0.5 path is the cross-engine-exact one)."""
    if not (0.0 <= alpha <= 1.0):
        raise ValueError("alpha must be in [0, 1]")
    if weight_col is None:
        w = F.lit(1).cast("double")
    elif isinstance(weight_col, str):
        w = F.col(weight_col).cast("double")
    else:
        w = weight_col.cast("double")
    counts = df.groupBy(source_col).agg(F.sum(w).alias("__n"))
    nmin = counts.agg(F.min("__n").alias("__m"))
    ratio = F.col("__m") / F.col("__n")
    rate = (
        F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    )
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        source_col, rate.alias("__rate")
    )
    roll = dice(list(dice_cols), seed=seed)
    return (
        df.join(F.broadcast(rates), source_col, "inner")
        .where(roll < F.col("__rate"))
        .drop("__rate")
    )


def doremi_weights(
    df: DataFrame,
    loss_col: str,
    source_col: str = "source",
    eta: float = 1.0,
    smoothing: float = 0.1,
    rounds: int = 5,
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    domains whose documents score WORSE than the corpus overall get
    upweighted by exponentiated-gradient ascent on their excess loss —
    the Group-DRO update at the heart of the method, with the proxy/
    reference models replaced by any per-document loss column the
    pipeline already has (perplexity under a frozen LM is the natural
    choice; DoReMi's own reference loss plays the same role).

    Per round t: α_t ∝ α_{t−1} · exp(η · excess_s), then mixed with
    uniform: α ← (1−c)·α/Σα + c/|S| — DoReMi's smoothing term, which
    also guarantees every domain keeps non-zero weight. Excess_s =
    max(mean_s − mean_corpus, 0): clipped at zero exactly as DoReMi
    clips negative excess loss.

    Output: one row per domain — (source, n_docs, mean_loss, excess,
    weight) with weights summing to 1. Shape: ONE corpus aggregate
    (map-side combined), then the EG loop runs on the driver over the
    #domains-row table (domain-scale by definition — the same judgement
    call as the stratified allocation in ``sample_neyman``); the result
    is broadcast-sized and feeds :func:`mixture_sample` as
    ``target_shares``."""
    import math

    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if not (0.0 <= smoothing < 1.0):
        raise ValueError("smoothing must be in [0, 1)")
    # per-domain sums in DECIMAL(28,6): exact integers in both engines
    # (losses quantize at 6dp), so the means — one double division per
    # domain — are BIT-IDENTICAL cross-engine regardless of aggregation
    # order; a double AVG would drift by an ulp and flip 6dp rounding
    stats = (
        df.groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(
                F.round(F.col(loss_col).cast("double"), 6)
                .cast("decimal(28,6)")
            ).alias("__s"),
        )
        .collect()
    )
    if not stats:
        raise ValueError("empty input — no domains to weight")
    total_n = sum(r["__n"] for r in stats)
    # an all-NULL-loss domain sums to NULL — treat as 0 (the oracle
    # COALESCEs identically)
    corpus_mean = float(sum(r["__s"] or 0 for r in stats)) / float(total_n)
    # None-safe ordering: a NULL source domain is a legal group (it
    # sorts first) — a bare tuple sort would TypeError on None vs str
    # and crash the whole reweighting
    doms = sorted(
        ((r[source_col], int(r["__n"]),
          float(r["__s"] or 0) / float(r["__n"]))
         for r in stats),
        key=lambda t: (t[0] is not None, str(t[0])),
    )
    k = len(doms)
    exc = [max(m - corpus_mean, 0.0) for _, _, m in doms]
    w = [1.0 / k] * k
    for _ in range(rounds):
        w = [wi * math.exp(eta * e) for wi, e in zip(w, exc)]
        tot = sum(w)
        w = [
            (1.0 - smoothing) * wi / tot + smoothing / k for wi in w
        ]
    from ratatool_spark.functions.localrel import local_df

    return local_df(
        df.sparkSession,
        [
            (s, n, m, e, wi)
            for (s, n, m), e, wi in zip(doms, exc, w)
        ],
        f"{source_col} string, n_docs bigint, mean_loss double, "
        "excess double, weight double",
    )


def unimax_budgets(
    df: DataFrame,
    budget: int,
    max_epochs: int = 2,
    lang_col: str = "lang",
    size_col: str = "n_chars",
) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining"): spread a total character budget as
    uniformly as possible across languages, but never take more than
    ``max_epochs`` passes over any language's corpus — the
    water-filling allocation that fixes temperature sampling's
    head-language domination without epoching tail languages to death.

    Algorithm (the paper's greedy, in its sorted closed form): sort
    languages ascending by capacity cap_l = max_epochs * chars_l; walk
    the prefix while cap_i * (langs remaining) <= budget remaining —
    those languages are CAPPED (they contribute their whole capacity);
    every language after the threshold splits the remaining budget
    evenly. All threshold arithmetic is exact integer math (both
    engines agree bit-for-bit); only the final even split divides.

    Shape: ONE corpus aggregate (map-side combined) to language-scale
    rows, then the threshold walk runs on the driver over #languages
    tuples — the same altitude call as ``doremi_weights`` /
    ``sample_neyman``. Output: one row per language — (lang, n_docs,
    chars, cap_chars, capped, budget_chars, epochs) with
    budget_chars <= budget and epochs <= max_epochs."""
    if budget < 0:
        raise ValueError("budget must be >= 0")
    if max_epochs < 1:
        raise ValueError("max_epochs must be >= 1")
    stats = (
        df.groupBy(lang_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col(size_col).cast("bigint")).alias("__c"),
        )
        .collect()
    )
    if not stats:
        raise ValueError("empty input — no languages to budget")
    # ascending capacity, None-safe deterministic tie-break on the name
    doms = sorted(
        ((r[lang_col], int(r["__n"]), int(r["__c"] or 0))
         for r in stats),
        key=lambda t: (max_epochs * t[2], t[0] is not None, str(t[0])),
    )
    k = len(doms)
    caps = [max_epochs * c for _, _, c in doms]
    s_prev = 0
    m = 0  # threshold: doms[:m] are capped
    while m < k and caps[m] * (k - m) <= budget - s_prev:
        s_prev += caps[m]
        m += 1
    u = float(budget - s_prev) / float(k - m) if m < k else 0.0
    rows = []
    for i, (lang, n, c) in enumerate(doms):
        capped = i < m
        b = float(caps[i]) if capped else u
        rows.append((
            lang, n, c, caps[i], capped,
            round(b, 6),
            round(b / c, 6) if c else 0.0,
        ))
    from ratatool_spark.functions.localrel import local_df

    return local_df(
        df.sparkSession,
        rows,
        f"{lang_col} string, n_docs bigint, chars bigint, "
        "cap_chars bigint, capped boolean, budget_chars double, "
        "epochs double",
    )


def _bytes_to_unicode() -> dict[int, str]:
    """The GPT-2 byte↔unicode alphabet (Radford et al. 2019, public
    ``encoder.py``): every byte 0..255 gets a VISIBLE unicode character —
    printable latin bytes map to themselves, the rest to 256+n in order.
    Byte-level BPE trains over this alphabet so NO text is ever OOV: any
    string decomposes into known symbols, and multi-byte UTF-8
    characters become learnable byte sequences."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, [chr(c) for c in cs]))


_BYTE_MAP = _bytes_to_unicode()
# translate() pairs for the bytes whose mapped char differs from their
# latin-1 identity (the 68 control/space/etc bytes)
_BYTE_FROM = "".join(chr(b) for b in range(256) if _BYTE_MAP[b] != chr(b))
_BYTE_TO = "".join(_BYTE_MAP[b] for b in range(256) if _BYTE_MAP[b] != chr(b))


def byte_encode_expr(col: Column) -> Column:
    """Pure-expression byte-level alphabet mapping: UTF-8 encode →
    latin-1 decode (each BYTE becomes the unicode char U+00..FF —
    the 1:1 byte-to-char trick) → remap the 68 non-printable bytes to
    their 256+n stand-ins via ``translate``. Zero UDFs; the inverse is
    :func:`byte_decode_expr`."""
    return F.translate(
        F.decode(F.encode(col, "UTF-8"), "ISO-8859-1"), _BYTE_FROM, _BYTE_TO
    )


def byte_decode_expr(col: Column) -> Column:
    """Inverse of :func:`byte_encode_expr`: stand-ins back to latin-1
    chars, latin-1 encode (chars → raw bytes), UTF-8 decode."""
    return F.decode(
        F.encode(F.translate(col, _BYTE_TO, _BYTE_FROM), "ISO-8859-1"),
        "UTF-8",
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_k: int | None = None,
) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies — the inner loop of
    BPE tokenizer training (the statistic a merge step maximizes),
    distributed: the tokenizer core's distinct-word table
    (:func:`_word_table` — pair work scales with |vocabulary|, not corpus
    size) and its one frequency-weighted pair count (:func:`_pair_counts`).

    Output: (``pair``, ``cnt``), optionally top-``top_k`` by count with a
    deterministic (cnt desc, pair asc) tiebreak. Pure expressions —
    engine-portable, no UDFs."""
    out = _pair_counts(_word_table(df, text_col, _chars)).select(
        F.concat("a", "b").alias("pair"), "cnt"
    )
    if top_k is not None:
        out = out.orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(top_k)
    return out


def _select_compatible_merges(
    cands: list[tuple[str, str]], k: int, merged=operator.add
) -> list[tuple[str, str]]:
    """Greedy prefix of ``cands`` (already in cnt DESC, lhs, rhs order)
    of up to ``k`` pairwise-compatible merges: a pair is admitted iff
    neither symbol NOR its merge output has appeared in any admitted
    pair (or its output). Disjointness is what makes a BATCH of merges
    order-independent — applying one admitted merge can neither create
    nor destroy occurrences of another (their symbols never touch), so
    one fused left-to-right pass equals sequential per-merge passes in
    any order, and a SQL replay of the same selection + replaces agrees
    exactly. Greedy in rank order keeps the prefix property: the first
    j admitted under cap k are the admitted under cap j.

    ``merged`` maps (a, b) to the pair's output symbol — plain
    concatenation (BPE) by default; WordPiece folds the right side's
    continuation marker away (``operators/wordpiece._wp_merged``)."""
    used: set[str] = set()
    chosen: list[tuple[str, str]] = []
    for a, b in cands:
        m = merged(a, b)
        if a in used or b in used or m in used:
            continue
        chosen.append((a, b))
        used.update((a, b, m))
        if len(chosen) == k:
            break
    return chosen


# ---------------------------------------------------------------------------
# Subword-tokenizer core. BPE (Sennrich et al. 2016) and WordPiece
# (operators/wordpiece) are one algorithm: a distinct-word table of symbol
# arrays, a ranked adjacent-pair statistic, batched disjoint merges applied
# by one fold, and the same fold replayed to segment. They differ only in
# how a word splits into symbols (``split``), how a pair ranks
# (``ranked``) and what a merge outputs (``merged``).
# ---------------------------------------------------------------------------


def _chars(w: Column) -> Column:
    """A word as its characters (BPE's initial symbols)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(w), F.lit(1))),
        lambda i: w.substr(i, F.lit(1)),
    )


def _word_table(
    df: DataFrame, text_col: str, split, byte_level: bool = False
) -> DataFrame:
    """The corpus collapsed to its DISTINCT words → (``__freq``,
    ``__sym``): each word's count and its ``split`` symbol array. The
    standard BPE corpus compression — every later stage scales with
    |vocabulary|, not corpus bytes. ``byte_level`` maps each word onto
    the GPT-2 byte alphabet (:func:`byte_encode_expr`) first."""
    # drop empty tokens (double/leading spaces): they are not words, and
    # would add a '' symbol to the learner's statistics
    words = df.select(F.explode(tokens(F.col(text_col))).alias("__w")).where(
        F.length("__w") > 0
    )
    if byte_level:
        words = words.select(byte_encode_expr(F.col("__w")).alias("__w"))
    return (
        words.groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__freq"))
        .select("__freq", split(F.col("__w")).alias("__sym"))
    )


def _pair_counts(wf: DataFrame) -> DataFrame:
    """Adjacent symbol pairs of a word table, weighted by word frequency
    → (``a``, ``b``, ``cnt``): one explode and one keyed sum. A
    one-symbol word zips two empty slices and yields no pair."""
    n = F.size("__sym") - 1
    z = F.arrays_zip(
        F.slice(F.col("__sym"), 1, n).alias("a"),
        F.slice(F.col("__sym"), 2, n).alias("b"),
    )
    return (
        wf.select("__freq", F.explode(z).alias("__p"))
        .groupBy(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
        .agg(F.sum("__freq").alias("cnt"))
    )


def _learn_merges(
    wf: DataFrame,
    n_merges: int,
    batch: int,
    pool: int,
    rounds: int | None,
    ranked,
    merged=operator.add,
) -> list[tuple[str, str]]:
    """The one merge-learning loop. Per round, ``ranked(wf)`` scores the
    candidate pairs (``a``, ``b``, ``score``); the top-``pool`` by
    (score DESC, a, b) are collected (top-1 when ``batch`` is 1), up to
    ``batch`` symbol-disjoint ones are admitted
    (:func:`_select_compatible_merges`) and applied in one fused fold.
    The word table is ``localCheckpoint``-ed per round so the plan does
    not grow with iterations. Runs ``rounds`` rounds (default
    ``ceil(n_merges / batch)``) and truncates to ``n_merges``."""
    if batch < 1:
        raise ValueError(f"batch must be >= 1, got {batch}")
    if batch > 1 and pool < batch:
        raise ValueError(f"pool ({pool}) must be >= batch ({batch})")
    if rounds is None:
        rounds = -(-n_merges // batch)  # ceil: full-yield schedule
    wf = wf.localCheckpoint(eager=False)
    merges: list[tuple[str, str]] = []
    for _ in range(rounds):
        cand = (
            ranked(wf)
            .orderBy(F.col("score").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1 if batch == 1 else pool)
            .collect()
        )
        if not cand:
            break
        chosen = _select_compatible_merges(
            [(r["a"], r["b"]) for r in cand], batch, merged
        )
        merges.extend(chosen)
        # the SAME fold the segmenter replays, so re-encoding the training
        # corpus reproduces the learner's final symbol state
        wf = wf.select(
            "__freq", _fold_expr(F.col("__sym"), chosen, merged).alias("__sym")
        ).localCheckpoint(eager=False)
    return merges[:n_merges]


def _fold_expr(
    sym: Column, rules: Sequence[tuple[str, str]], merged=operator.add
) -> Column:
    """One greedy left-to-right pass applying a SET of symbol-disjoint
    merges as a single ``aggregate`` fold; ``merged(a, b)`` is the output
    symbol. Because no symbol (or merge output) is shared between rules,
    at most one rule can match at any position and the fused pass equals
    applying each rule in its own pass, in any order — which is what lets
    the learner apply a whole batch in one expression and the segmenter
    replay the learned list one merge at a time."""
    if not rules:
        return sym

    def step(acc: Column, s: Column) -> Column:
        last = F.element_at(acc, -1)
        out = None
        for a, b in rules:
            hit = (F.size(acc) > 0) & (last == F.lit(a)) & (s == F.lit(b))
            val = F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged(a, b)))
            )
            out = F.when(hit, val) if out is None else out.when(hit, val)
        return out.otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(sym, F.array().cast("array<string>"), step)


def _replay(
    syms: list[str], merges: Sequence[tuple[str, str]], merged=operator.add
) -> list[str]:
    """Driver-side twin of the fold: apply each merge in order, greedy
    left-to-right."""
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = merged(a, b)
            else:
                out.append(s)
        syms = out
    return syms


def _word_udf(encode_word):
    """Arrow-batched kernel: a text column → the concatenation of
    ``encode_word`` over its space-separated words, NULL staying NULL.
    Each distinct word of a batch is encoded once (work scales with
    distinct words, not tokens); ``encode_word`` ships once per executor
    via the closure."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    def _encode(texts):
        cache: dict[str, list[str]] = {}

        def enc(text):
            if text is None:
                return None
            out: list[str] = []
            # strip(' ') — SPACES ONLY, the exact twin of F.trim (which
            # strips 0x20 only); Python's default strip() would also eat
            # tabs/newlines and silently diverge from the expression path
            for w in text.strip(" ").split(" "):
                got = cache.get(w)
                if got is None:
                    got = cache[w] = encode_word(w)
                out.extend(got)
            return out

        return texts.map(enc)

    # real annotation objects (module-wide `from __future__ import
    # annotations` would stringify inline hints, which pyspark's
    # signature inspection cannot resolve for a local import)
    _encode.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(T.ArrayType(T.StringType()))(_encode)


def _segment(
    df: DataFrame,
    text_col: str,
    name: str,
    merges: Sequence[tuple[str, str]],
    expr_threshold: int,
    split,
    encode_word,
    merged=operator.add,
    byte_level: bool = False,
) -> DataFrame:
    """Replay a learned merge list over a corpus: adds ``{name}_syms``
    (per-document subword array, words segmented independently) and
    ``n_{name}_tokens``. Up to ``expr_threshold`` merges, each merge is
    one JVM-side :func:`_fold_expr` chained in the plan over ``split``
    symbols; beyond it the expression tree would grow too large, and the
    :func:`_word_udf` kernel runs ``encode_word(word, merges)`` instead.
    ``byte_level`` maps words onto the GPT-2 byte alphabet on both
    paths."""
    rules = [tuple(m) for m in merges]
    if len(rules) > expr_threshold:

        def enc(w: str) -> list[str]:
            if byte_level:
                w = "".join(_BYTE_MAP[b] for b in w.encode("utf-8"))
            return encode_word(w, rules)

        syms = _word_udf(enc)(F.col(text_col))
    else:
        toks = tokens(F.col(text_col))
        if byte_level:
            toks = F.transform(toks, byte_encode_expr)
        empty = F.array().cast("array<string>")
        # empty token (consecutive spaces) -> [], as in the kernel path
        sym = F.transform(
            toks, lambda w: F.when(F.length(w) == 0, empty).otherwise(split(w))
        )
        for rule in rules:
            sym = F.transform(sym, lambda ws: _fold_expr(ws, [rule], merged))
        syms = F.flatten(sym)
    out = df.withColumn(f"{name}_syms", syms)
    return out.withColumn(f"n_{name}_tokens", F.size(f"{name}_syms"))


def bpe_learn(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    batch: int = 1,
    pool: int = 128,
    rounds: int | None = None,
    byte_level: bool = False,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges over the corpus — the full iterative
    tokenizer-training loop, distributed like the IVF k-means trainer
    (``operators/similarity.train_centroids``): the tokenizer core's
    :func:`_learn_merges` over the character word table, ranking pairs by
    raw count (deterministic max-count/lexicographic tiebreak) and
    merging by plain concatenation. Per round, one keyed aggregation
    ranks adjacent symbol pairs, and a pure ``aggregate`` fold greedily
    merges the chosen pair(s) left-to-right inside every word's symbol
    array; the state is ``localCheckpoint``-ed per round — the same
    guard as ``connected_components``. Returns the merge list in order.

    ``batch`` > 1 is the batched-merge-selection throughput path for
    real vocabularies: strict BPE runs ONE Spark job (a corpus-wide
    pair-count aggregation + tiny collect) per merge — a 30k-merge
    vocab would be 30k sequential jobs. Instead each round collects the
    top-``pool`` candidate pairs once and admits up to ``batch`` of
    them that are pairwise symbol-disjoint
    (:func:`_select_compatible_merges`), applying the whole batch in
    one fused fold pass — O(n_merges / yield) jobs total. The trade is
    the standard batched-BPE approximation: merges 2..k of a round are
    ranked by PRE-round counts rather than counts refreshed after each
    preceding merge; disjointness keeps each admitted pair's own count
    exact, so only the cross-round interleaving differs from strict
    greedy. Runs exactly ``rounds`` rounds (default
    ``ceil(n_merges / batch)`` — a fixed, engine-replayable schedule;
    pass it explicitly when rounds under-fill, i.e. when the alphabet
    can't supply ``batch`` disjoint pairs per round) and truncates to
    ``n_merges``; ``batch=1`` is strict greedy BPE unchanged.

    ``byte_level=True`` trains over the GPT-2 byte alphabet
    (:func:`byte_encode_expr`) instead of raw unicode characters — the
    production-tokenizer mode (GPT-2/LLaMA family): every word is first
    mapped byte-for-byte onto visible stand-in characters, so multi-byte
    UTF-8 text becomes learnable byte sequences and nothing is OOV.
    Downstream is IDENTICAL machinery; learned merges are strings over
    the mapped alphabet (decode with :func:`byte_decode_expr`)."""
    return _learn_merges(
        _word_table(df, text_col, _chars, byte_level),
        n_merges,
        batch,
        pool,
        rounds,
        lambda wf: _pair_counts(wf).withColumnRenamed("cnt", "score"),
    )


def assign_splits(
    df: DataFrame,
    weights: dict[str, float],
    dice_cols: Sequence[str | Column] = ("doc_id",),
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split assignment: each row lands in
    exactly one named split with probability proportional to its weight,
    decided by the portable hash dice over ``dice_cols`` — so membership
    is stable across runs, engines, and repartitionings, and disjointness
    is by construction (one dice roll, contiguous intervals).

    Pure column expression (a CASE over cumulative weight boundaries) —
    no shuffle, no UDF; survives whole-stage codegen at any scale."""
    if not weights:
        raise ValueError("weights must be non-empty")
    total = float(sum(weights.values()))
    roll = dice(list(dice_cols), seed=seed)
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        acc += w / total
        cond = roll < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, expr)


def _global_rank(
    df: DataFrame,
    sort_cols: Sequence[Column],
    rank_col: str,
    with_total: bool = False,
):
    """Dense global 1-based rank over ``sort_cols`` WITHOUT a
    single-partition window: range-partition on the sort key, rank
    within each partition (parallel, keyed by partition id), add the
    exclusive prefix sum of partition counts (a #partitions-row table —
    prefix-summed on the driver via ``functions.ranks.partition_offsets``
    and broadcast back). The same pattern as ``deterministic_shuffle``'s
    rank mode, generalized to any sort key. Ties must be broken by the
    caller (include a unique id in ``sort_cols``) or ranks are
    nondeterministic."""
    from pyspark.sql import Window

    from ratatool_spark.cache import persist_tracked
    from ratatool_spark.functions.ranks import partition_offsets

    sort_cols = list(sort_cols)
    tagged = persist_tracked(
        df.repartitionByRange(*sort_cols)
        .sortWithinPartitions(*sort_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    local = tagged.withColumn(
        "__local",
        F.row_number().over(Window.partitionBy("__pid").orderBy(*sort_cols)),
    )
    # Exclusive prefix sum of the per-partition counts, computed on the
    # driver (functions/ranks.partition_offsets): the counts table is one
    # row per PARTITION — bounded at any data scale — and a window over
    # it would route through WindowExec's single-partition path. The
    # same collect yields the total row count for callers that need N.
    offs, total = partition_offsets(
        tagged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n")),
        with_total=True,
    )
    ranked = (
        local.join(F.broadcast(offs), "__pid")
        .withColumn(rank_col, (F.col("__local") + F.col("__off")).cast("long"))
        .drop("__pid", "__local", "__off")
    )
    return (ranked, total) if with_total else ranked


def perplexity_buckets(
    df: DataFrame,
    freq_df: DataFrame | None = None,
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. LREC'20): score every
    document under a (frozen) LM via :func:`unigram_logprob_score`, then
    split the corpus into ``n_buckets`` equal-population tiers by global
    score rank — bucket 0 = head (most probable), last = tail. CCNet
    trains on head/middle and drops tail; the bucket column makes that a
    filter.

    Output: every input row with (``n_tokens``, ``mean_logprob`` rounded
    6dp, ``rank``, ``bucket``). NULL scores (empty docs) rank last.

    100 TB shape: the global rank is DISTRIBUTED (range partition +
    per-partition rank + broadcast prefix offsets — ``_global_rank``),
    never a single-task ORDER BY window; bucket = ((rank-1)·n) div N is
    exact integer arithmetic, engine-portable."""
    scored = unigram_logprob_score(
        df, text_col, id_col, freq_df, smoothing
    ).withColumn("mean_logprob", F.round("mean_logprob", 6))
    return score_buckets(scored, n_buckets, "mean_logprob", id_col)


def score_buckets(
    scored: DataFrame,
    n_buckets: int,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Equal-population bucketing by global score rank — the tail of
    :func:`perplexity_buckets`, factored out so ANY scorer (unigram,
    stupid-backoff, Kneser–Ney) feeds the same CCNet-style tiering.
    Rank orders ``score_col`` DESC with ``id_col`` tiebreak (NULLs
    last); bucket = ((rank−1)·n) div N — exact integer arithmetic,
    engine-portable; the rank itself is DISTRIBUTED (``_global_rank``)."""
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    # N rides the rank's own offsets collect (_global_rank with_total) —
    # no separate count() pass over the scored lineage
    ranked, n = _global_rank(
        scored,
        [F.col(score_col).desc_nulls_last(), F.col(id_col)],
        "rank",
        with_total=True,
    )
    n = n or 1  # empty input: no rows to bucket, avoid DIV 0
    return ranked.withColumn(
        "bucket",
        F.expr(f"CAST(((rank - 1) * {n_buckets}) DIV {n} AS INT)"),
    )


def deterministic_shuffle(
    df: DataFrame,
    dice_cols: Sequence[str | Column] = ("doc_id",),
    seed: int = 0,
    rank_col: str | None = None,
) -> DataFrame:
    """Reproducible corpus-order randomization (training-order shuffle):
    orders rows by the portable hash of ``dice_cols`` + ``seed``. The
    permutation is a pure function of keys and seed — identical on every
    run, engine, and cluster size.

    With ``rank_col`` set, a dense global position is materialized
    WITHOUT a single-partition window: range-partition by the hash, rank
    within each partition (parallel window keyed by partition id), then
    add the exclusive prefix sum of partition counts — the tiny
    (#partitions-row) offset table is prefix-summed on the driver
    (``functions.ranks.partition_offsets``) and broadcast back. Same
    pattern as ``operators.packing``'s per-group prefix sums; every
    data-scale stage is distributed."""
    h = dice(list(dice_cols), seed=seed)
    if rank_col is None:
        return df.orderBy(h.asc())

    from pyspark.sql import Window

    from ratatool_spark.cache import persist_tracked
    from ratatool_spark.functions.ranks import partition_offsets

    # persisted: __pid feeds both the local ranks and the offset table —
    # two independent evaluations could range-partition differently and
    # disagree on partition ids, corrupting the global rank. Tracked in
    # the shared registry (cache.unpersist_intermediates releases it).
    tagged = persist_tracked(
        df.withColumn("__h", h)
        .repartitionByRange(F.col("__h"))
        .sortWithinPartitions("__h")
        .withColumn("__pid", F.spark_partition_id())
    )
    local = tagged.withColumn(
        "__local",
        F.row_number().over(Window.partitionBy("__pid").orderBy("__h")),
    )
    # Exclusive prefix sum of the per-partition counts, computed on the
    # driver (functions/ranks.partition_offsets): the counts table is one
    # row per PARTITION — bounded at any data scale — and a window over
    # it would route through WindowExec's single-partition path.
    offs = partition_offsets(
        tagged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        local.join(F.broadcast(offs), "__pid")
        .withColumn(rank_col, (F.col("__local") + F.col("__off")).cast("long"))
        .drop("__h", "__pid", "__local", "__off")
    )


def sliding_windows(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    size: int,
    stride: int = 1,
    out_col: str = "window",
) -> DataFrame:
    """Fixed-size sliding windows over each group's ordered values —
    context-window / next-token training-example construction (windows of
    ``size`` values, advancing by ``stride``; trailing partials dropped).

    Output: (group, ``win_idx``, ``out_col`` = space-joined window).
    One groupBy collects each group's ordered list (state bounded by the
    group's row count — the same per-key envelope as
    ``user_event_sequences``), then window starts come from an arithmetic
    ``sequence`` and each window is an array ``slice`` — pure expressions,
    parallel by group."""
    if size <= 0 or stride <= 0:
        raise ValueError("size and stride must be positive")
    seq = (
        df.groupBy(group_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(order_col), F.col(value_col)))
            ).alias("__z")
        )
        .select(
            group_col,
            F.transform("__z", lambda s: s[value_col]).alias("__l"),
        )
        .where(F.size("__l") >= size)
    )
    starts = F.sequence(
        F.lit(1), F.size("__l") - F.lit(size - 1), F.lit(stride)
    )
    return seq.select(
        group_col,
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.concat_ws(" ", F.slice("__l", s, size)),
            )
        ).alias("win_idx", out_col),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 256,
    overlap: int = 32,
    out_col: str = "chunk",
) -> DataFrame:
    """Split each document into fixed-token-count chunks with overlap —
    context-window construction for pretraining / RAG indexing. Unlike
    :func:`sliding_windows` (grouped rows, partials dropped), this is
    per-document and KEEPS the trailing partial chunk, so every token of
    every document lands in at least one chunk.

    Chunk starts are ``1, 1+stride, …`` (stride = chunk_size − overlap)
    up to ``max(1, n_tokens − overlap)``: the last chunk may be shorter
    than ``chunk_size`` but never consists solely of tokens the previous
    chunk already covered. Documents with no tokens are dropped.

    Output: (id, ``chunk_idx`` 0-based, ``out_col``, ``n_chunk_tokens``).

    100 TB shape: a pure narrow plan — tokenize, an arithmetic
    ``sequence`` of starts, ``slice`` + explode per document. Zero
    shuffles, zero Python; chunking rides whatever partitioning the scan
    produced and composes with a repartition-on-write shard sink."""
    if overlap < 0 or chunk_size <= 0 or overlap >= chunk_size:
        raise ValueError("need chunk_size > 0 and 0 <= overlap < chunk_size")
    stride = chunk_size - overlap

    # bind-once (functions/text.winnow_fingerprints): as an inline
    # expression, `toks` inside the per-start lambda is re-tokenized per
    # CHUNK (and twice more for the start sequence) — the lambda-bound
    # value is computed once per row
    def _chunks(w):
        starts = F.sequence(
            F.lit(1),
            F.greatest(F.lit(1), F.size(w) - F.lit(overlap)),
            F.lit(stride),
        )
        return F.transform(starts, lambda s: F.slice(w, s, chunk_size))

    return (
        df.where(F.length(F.trim(F.col(text_col))) > 0)
        .select(
            id_col,
            F.posexplode(
                F.element_at(
                    F.transform(
                        F.array(tokens(F.col(text_col))), _chunks
                    ),
                    1,
                )
            ).alias("chunk_idx", "__toks"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.concat_ws(" ", "__toks").alias(out_col),
            F.size("__toks").alias("n_chunk_tokens"),
        )
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    form: str | None = "NFC",
    strip_controls: bool = True,
    squash_whitespace: bool = True,
    lowercase: bool = False,
) -> DataFrame:
    """Unicode text normalization — the CCNet-style cleanup pass that runs
    BEFORE hashing/dedup so that byte-different, render-identical texts
    (combining marks vs precomposed, stray control chars, ragged
    whitespace) collapse to one canonical form:

    * ``form``: UAX#15 normalization (NFC/NFD/NFKC/NFKD) — Spark has no
      built-in normalizer, so this one step is an Arrow-batched pandas
      UDF over ``unicodedata`` (a documented slow-path seam, same as the
      BPE >16-merge kernel; pass ``form=None`` for a pure-expression
      pipeline);
    * control-char strip (C0 minus tab/newline/CR, plus DEL) and
      whitespace squash+trim are JVM ``regexp_replace`` expressions;
    * ``changed`` flags rows the pass altered (null-safe).

    The ``text_col`` is replaced in place; all other columns ride along.
    100 TB shape: one scan, zero shuffles; the UDF is the only Python
    boundary and vanishes when ``form=None``."""
    col = F.col(text_col)
    if form is not None:
        if form not in ("NFC", "NFD", "NFKC", "NFKD"):
            raise ValueError(f"unknown normalization form: {form!r}")
        import pandas as pd
        from pyspark.sql import types as T
        from pyspark.sql.functions import pandas_udf

        def _norm(texts):
            import unicodedata

            return texts.map(
                lambda t: None if t is None else unicodedata.normalize(form, t)
            )

        _norm.__annotations__ = {"texts": pd.Series, "return": pd.Series}
        _norm = pandas_udf(T.StringType())(_norm)
        col = _norm(col)
    if strip_controls:
        col = F.regexp_replace(
            col, r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""
        )
    if squash_whitespace:
        col = F.trim(F.regexp_replace(col, r"\s+", " "))
    if lowercase:
        col = F.lower(col)
    tmp = df.withColumn("__norm", col)
    return (
        tmp.withColumn(
            "changed", ~F.col("__norm").eqNullSafe(F.col(text_col))
        )
        .withColumn(text_col, F.col("__norm"))
        .drop("__norm")
    )


def c4_page_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    badwords: Sequence[str] = (),
) -> DataFrame:
    """C4 page/line cleaning (Raffel et al. 2020, §2.2) — the named
    pipeline the original T5 corpus was built with, as per-rule columns:

    * line filter: keep only lines with >= ``min_words_per_line`` words
      that end in terminal punctuation (``. ! ?`` or a closing double
      quote); ``clean_text`` is the kept lines re-joined;
    * page filters: ``has_lorem_ipsum`` (placeholder text),
      ``has_brace`` (``{`` — code leakage), ``has_badword`` (word-level
      match against the provided list), and fewer than
      ``min_kept_lines`` surviving lines (C4 uses a 3-sentence minimum;
      lines stand in for sentences here, documented divergence);
    * ``keep`` is the AND of all page rules.

    Word matching for badwords is token-exact (not substring), so
    "Scunthorpe" survives a "horse"-style list.

    100 TB shape: pure column expressions (split / higher-order filter /
    array ops) over one scan — no shuffle, no Python, no joins."""
    # bind-once (gopher_quality_flags): `kept` — the expensive per-line
    # word-count filter — was referenced twice (array_join + size) and
    # the lowered text three times; HOF expressions are interpreted, so
    # each reference re-ran the whole chain. Bind lines, kept and the
    # lowered text as lambda values, emit one metrics struct, and read
    # its fields from a second projection.
    def _bind(arr, f):
        return F.element_at(F.transform(F.array(arr), f), 1)

    lines_expr = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    low_expr = F.lower(F.coalesce(F.col(text_col), F.lit("")))

    def _nwords(ln):
        return F.size(F.filter(F.split(ln, " "), lambda t: F.length(t) > 0))

    def _metrics(lines, kept, low):
        toks_lower = F.filter(
            F.split(F.trim(low), r"[ \n]"),
            lambda t: F.length(t) > 0,
        )
        bad = (
            F.arrays_overlap(
                toks_lower, F.array(*[F.lit(w.lower()) for w in badwords])
            )
            if badwords
            else F.lit(False)
        )
        return F.struct(
            F.array_join(kept, "\n").alias("clean_text"),
            F.size(lines).alias("n_lines"),
            F.size(kept).alias("n_kept_lines"),
            low.contains("lorem ipsum").alias("has_lorem_ipsum"),
            low.contains("{").alias("has_brace"),
            bad.alias("has_badword"),
        )

    g = _bind(
        lines_expr,
        lambda lines: _bind(
            F.filter(
                F.transform(lines, lambda ln: F.trim(ln)),
                lambda ln: (_nwords(ln) >= min_words_per_line)
                & ln.rlike('[.!?"]$'),
            ),
            lambda kept: _bind(
                low_expr, lambda low: _metrics(lines, kept, low)
            ),
        ),
    )
    staged = df.select(F.col(id_col).alias(id_col), g.alias("__c4"))
    out = staged.select(
        id_col,
        F.col("__c4.clean_text").alias("clean_text"),
        F.col("__c4.n_lines").alias("n_lines"),
        F.col("__c4.n_kept_lines").alias("n_kept_lines"),
        F.col("__c4.has_lorem_ipsum").alias("has_lorem_ipsum"),
        F.col("__c4.has_brace").alias("has_brace"),
        F.col("__c4.has_badword").alias("has_badword"),
    )
    return out.withColumn(
        "keep",
        (F.col("n_kept_lines") >= min_kept_lines)
        & ~F.col("has_lorem_ipsum")
        & ~F.col("has_brace")
        & ~F.col("has_badword"),
    )


def contamination(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document benchmark-contamination score: the fraction of the
    document's distinct word ``n``-gram shingles that occur anywhere in
    ``benchmark``'s text (the n-gram-overlap train/test-leakage check).

    Output: (id, ``n_shingles``, ``n_contaminated``, ``contamination``).
    The benchmark shingle set is distinct-ed and **broadcast** — eval
    suites are MBs against a TB corpus — so the corpus side is a single
    scan + explode + map-side broadcast probe; the only shuffle is the
    per-document re-aggregation, keyed by id."""
    doc_sh = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("__s")
    )
    bench_sh = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("__s")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    joined = doc_sh.join(F.broadcast(bench_sh), "__s", "left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_contaminated"),
        (
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            / F.count(F.lit(1))
        ).alias("contamination"),
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source data card — the one-page corpus summary a curation run
    publishes next to its output: document/token volumes, mean quality,
    language spread, and the dominant language, in ONE fact scan.

    Shape: a single pass computes per-doc metrics as column expressions
    (no UDFs), a first aggregation groups them by (source, language) —
    after which rows number |sources|x|langs|, trivially small — and the
    per-source rollup plus the dominant-language argmax ride that tiny
    frame. Mean quality sums exact decimals and divides ONCE as double,
    so re-runs and SQL twins agree bit-for-bit; the argmax breaks count
    ties by language name so it is deterministic too."""
    from ratatool_spark.functions.text import lang_id, quality_score, token_count

    t = F.col(text_col)
    per_lang = (
        df.select(
            F.col(source_col).alias("source"),
            lang_id(t).alias("lang"),
            token_count(t).alias("__nt"),
            F.round(quality_score(t), 6).cast("decimal(18,6)").alias("__q"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("__docs"),
            F.sum("__nt").alias("__toks"),
            F.sum("__q").alias("__qsum"),
        )
    )
    return (
        per_lang.groupBy("source")
        .agg(
            F.sum("__docs").alias("n_docs"),
            F.sum("__toks").alias("n_tokens"),
            (F.sum("__qsum").cast("double") / F.sum("__docs")).alias("mean_quality"),
            F.count(F.lit(1)).alias("n_langs"),
            F.max(F.struct(F.col("__docs").alias("c"), F.col("lang").alias("l"))).alias(
                "__top"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "mean_quality",
            "n_langs",
            F.col("__top.l").alias("top_lang"),
        )
    )


def save_bpe_tokenizer(
    spark,
    path: str,
    merges: Sequence[tuple[str, str]],
    byte_level: bool = False,
) -> None:
    """Persist a trained merge list as a JSON artifact — a BPE tokenizer
    IS its ordered merge list (plus its alphabet mode), so this one file
    is the whole model (the build-once/apply-many sibling of
    build_minhash_index's sidecar). ``byte_level`` records which
    alphabet the merges were trained over — applying byte-level merges
    in char mode (or vice versa) silently segments wrong, so the
    artifact is self-describing and :func:`load_bpe_tokenizer` can
    enforce the pairing."""
    import json

    from ratatool_spark.sources.shards import _write_text

    _write_text(
        spark,
        path,
        json.dumps(
            {
                "version": 1,
                "merges": [[a, b] for a, b in merges],
                "byte_level": bool(byte_level),
            }
        ),
    )


def load_bpe_tokenizer(
    spark, path: str, expect_byte_level: bool | None = None
) -> list[tuple[str, str]]:
    """Load a persisted merge list for :func:`bpe_segment`.
    ``expect_byte_level`` asserts the artifact's alphabet mode matches
    the caller's intended ``bpe_segment(byte_level=...)`` — a mode
    mismatch raises instead of mis-segmenting. Artifacts written before
    the flag existed read as char-level. Artifacts of another algorithm
    (a WordPiece model carries ``algo``; BPE artifacts never do) are
    refused — their merges replayed as BPE segment silently wrong."""
    import json

    from ratatool_spark.sources.shards import _read_text

    meta = json.loads(_read_text(spark, path))
    if meta.get("algo", "bpe") != "bpe":
        raise ValueError(f"not a bpe artifact: algo={meta.get('algo')!r}")
    if meta.get("version") != 1:
        raise ValueError(f"unsupported tokenizer version: {meta.get('version')}")
    if expect_byte_level is not None and bool(
        meta.get("byte_level", False)
    ) != expect_byte_level:
        raise ValueError(
            f"tokenizer alphabet mismatch: artifact byte_level="
            f"{meta.get('byte_level', False)}, caller expects "
            f"{expect_byte_level} — segmenting with the wrong alphabet "
            "produces silently wrong tokens"
        )
    return [(a, b) for a, b in meta["merges"]]


def bpe_apply_merges(word: str, merges: Sequence[tuple[str, str]]) -> list[str]:
    """Driver-side twin of the merge fold: apply each learned merge in
    order, greedy left-to-right — the reference implementation the Spark
    paths are tested against, and the per-word kernel of the UDF path."""
    return _replay(list(word), merges)


def bpe_segment(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    expr_threshold: int = 16,
    byte_level: bool = False,
) -> DataFrame:
    """Apply a learned BPE merge list to a corpus: adds ``bpe_syms``
    (per-document subword array, words segmented independently) and
    ``n_bpe_tokens``. Completes the tokenizer story: ``bpe_learn`` trains
    the merges, this encodes with them — the tokenizer core's
    :func:`_segment`, the learner's greedy left-to-right fold, so
    re-encoding the training corpus reproduces the learner's final
    symbol state.

    Two physical paths, same semantics (equality is test-pinned):

    - ``len(merges) <= expr_threshold``: each merge is one JVM-side
      ``aggregate`` fold chained in the plan — zero Python, but the
      expression tree grows linearly with the merge count, so it is only
      the right shape for short lists.
    - beyond that: an Arrow-batched pandas UDF running
      :func:`bpe_apply_merges` with a per-batch word cache (BPE's
      standard vocabulary compression — work scales with DISTINCT words
      per batch, not tokens). This is the 32k-merge production path; the
      merge list ships once per executor via the closure.

    ``byte_level=True`` encodes over the GPT-2 byte alphabet — MUST
    match the ``bpe_learn(byte_level=...)`` the merges came from.
    Recover original text from the symbols with
    ``byte_decode_expr(F.concat_ws("", "bpe_syms"))`` (words were split
    on spaces, so the round-trip is per-word/space-normalized, same as
    the char mode).
    """
    return _segment(
        df, text_col, "bpe", merges, expr_threshold, _chars,
        bpe_apply_merges, byte_level=byte_level,
    )


def build_token_freqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, cnt) unigram counts over the corpus — the reference
    distribution for :func:`unigram_logprob_score`. Persist this once per
    reference corpus (plain parquet) and score every future batch under
    the frozen distribution."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .where(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _ngram_position_frame(
    df: DataFrame, text_col: str, id_col: str | None
) -> DataFrame:
    """One row per token position with its up-to-2-token left context:
    (w1, w2, w3) where w3 is the token, w2/w1 the previous/previous-2
    tokens (NULL at document starts). Both the n-gram COUNT tables and
    the scoring stream derive from this single exploded frame, so train
    and score count occurrences identically. Empty tokens (repeated
    spaces) are filtered BEFORE positions are assigned."""
    ts = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    cols = [F.col(id_col)] if id_col else []
    return (
        df.select(*cols, ts.alias("__ts"))
        .select(
            *([id_col] if id_col else []),
            F.posexplode("__ts").alias("__pos", "w3"),
            F.col("__ts"),
        )
        .select(
            *([id_col] if id_col else []),
            F.when(F.col("__pos") >= 2,
                   F.col("__ts")[F.col("__pos") - 2]).alias("w1"),
            F.when(F.col("__pos") >= 1,
                   F.col("__ts")[F.col("__pos") - 1]).alias("w2"),
            F.col("w3"),
        )
    )


def ngram_lm_counts(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(n, w1, w2, w3, cnt): trigram/bigram/unigram occurrence counts
    over the corpus — a stupid-backoff LM's entire model state (Brants
    et al. 2007, "Large Language Models in Machine Translation": the
    distributed web-scale n-gram LM is COUNT TABLES plus a backoff
    rule; no discounting to fit, so training is pure counting). Shape:
    one explode + three map-side-combining aggregations — the same
    count-table sharding the paper runs at trillions of tokens.
    Persist as parquet and feed :func:`ngram_lm_score` as the frozen
    reference model; n identifies the order (unigram rows have
    w1=w2=NULL, bigram rows w1=NULL)."""
    pos = _ngram_position_frame(df, text_col, None)
    tri = (
        pos.where(F.col("w1").isNotNull())
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit(3).alias("n"), "w1", "w2", "w3", "cnt")
    )
    bi = (
        pos.where(F.col("w2").isNotNull())
        .groupBy("w2", "w3")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit(2).alias("n"), F.lit(None).cast("string").alias("w1"),
                "w2", "w3", "cnt")
    )
    uni = (
        pos.groupBy("w3")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit(1).alias("n"), F.lit(None).cast("string").alias("w1"),
                F.lit(None).cast("string").alias("w2"), "w3", "cnt")
    )
    return tri.unionByName(bi).unionByName(uni)


def ngram_lm_score(
    df: DataFrame,
    lm_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    oov_floor: float = 1e-9,
) -> DataFrame:
    """(id, n_tokens, mean_logscore): mean per-token log stupid-backoff
    score under a trigram LM — the CCNet/KenLM perplexity-filter shape
    with the model real web-scale pipelines actually train (Brants et
    al. 2007). Per token: S(w3|w1 w2) = c(w1 w2 w3)/c(w1 w2) when the
    trigram is attested, else alpha * S(w3|w2), recursing to the
    unigram relative frequency; a document-initial token starts at the
    highest tier its context allows (no alpha penalty for context that
    cannot exist). Unseen unigrams (frozen-model scoring of new
    batches) get ``oov_floor``.

    ``lm_df`` is the production path: :func:`ngram_lm_counts` output
    computed once on the reference corpus; without it the corpus scores
    itself. Shape: ONE exploded position frame, five broadcast-or-
    shuffle left joins against the count tables (gram + context count
    per tier — exactly the lookup fan-out the distributed-LM paper
    shards), one doc-keyed mean, then a left join back onto the input
    ids so every input row appears (empty docs: n_tokens=0, NULL
    score)."""
    if lm_df is None:
        lm_df = ngram_lm_counts(df, text_col)
    lm_df = lm_df.localCheckpoint(eager=False)
    tri = lm_df.where(F.col("n") == 3).select(
        F.col("w1").alias("g3_w1"), F.col("w2").alias("g3_w2"),
        F.col("w3").alias("g3_w3"), F.col("cnt").alias("c3"))
    bi = lm_df.where(F.col("n") == 2).select(
        F.col("w2").alias("g2_w2"), F.col("w3").alias("g2_w3"),
        F.col("cnt").alias("c2"))
    bictx = lm_df.where(F.col("n") == 2).select(
        F.col("w2").alias("x2_w2"), F.col("w3").alias("x2_w3"),
        F.col("cnt").alias("c2ctx"))
    uni = lm_df.where(F.col("n") == 1).select(
        F.col("w3").alias("g1_w3"), F.col("cnt").alias("c1"))
    unictx = lm_df.where(F.col("n") == 1).select(
        F.col("w3").alias("x1_w3"), F.col("cnt").alias("c1ctx"))
    # the unigram total rides as a one-row broadcast scalar subquery
    # (the tfidf/bm25 stats-row idiom) instead of a blocking .first():
    # construction stays lazy, the count tables materialize once via the
    # lazy checkpoint, and the division is IEEE-identical (long sum cast
    # to double either way)
    tot = lm_df.where(F.col("n") == 1).agg(
        F.sum("cnt").cast("double").alias("__lm_tot")
    )
    pos = _ngram_position_frame(df, text_col, id_col)
    j = (
        pos
        .crossJoin(F.broadcast(tot))
        .join(tri, (F.col("w1") == F.col("g3_w1"))
              & (F.col("w2") == F.col("g3_w2"))
              & (F.col("w3") == F.col("g3_w3")), "left")
        .join(bi, (F.col("w2") == F.col("g2_w2"))
              & (F.col("w3") == F.col("g2_w3")), "left")
        .join(bictx, (F.col("w1") == F.col("x2_w2"))
              & (F.col("w2") == F.col("x2_w3")), "left")
        .join(uni, F.col("w3") == F.col("g1_w3"), "left")
        .join(unictx, F.col("w2") == F.col("x1_w3"), "left")
    )
    a = F.lit(alpha)
    s1 = F.coalesce(F.col("c1") / F.col("__lm_tot"),
                    F.lit(float(oov_floor)))
    lp = (
        F.when(F.col("w1").isNotNull() & F.col("c3").isNotNull(),
               F.log(F.col("c3") / F.col("c2ctx")))
        .when(F.col("w1").isNotNull() & F.col("c2").isNotNull(),
              F.log(a * F.col("c2") / F.col("c1ctx")))
        .when(F.col("w1").isNotNull(), F.log(a * a * s1))
        .when(F.col("w2").isNotNull() & F.col("c2").isNotNull(),
              F.log(F.col("c2") / F.col("c1ctx")))
        .when(F.col("w2").isNotNull(), F.log(a * s1))
        .otherwise(F.log(s1))
    )
    scores = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg(lp).alias("mean_logscore"),
    )
    return df.select(id_col).join(scores, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        "mean_logscore",
    )


def kn_lm_model(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Interpolated MODIFIED Kneser–Ney trigram LM state (Kneser & Ney
    1995; Chen & Goodman 1999's three-discount refinement — the exact
    estimator KenLM implements, i.e. what CCNet's perplexity filter
    actually runs, vs the stupid-backoff web-scale shortcut of
    :func:`ngram_lm_counts`). The model is FIVE vocabulary-scale count
    tables plus the scalar block, emitted as one tagged DataFrame
    (persist as parquet, feed :func:`kn_lm_score` as the frozen
    reference model):

      - ``tri``  (w1,w2,w3) → v1 = c(w1 w2 w3)
      - ``ctx3`` (w1,w2)    → v1 = Σ_w3 c(w1 w2 w3); v2..v4 = follower
        types with count 1 / 2 / ≥3 (the modified-KN λ needs the
        per-bucket type counts, not just N1+)
      - ``bityp``(w2,w3)    → v1 = N1+(· w2 w3)  (distinct w1 types —
        the KN insight: lower orders are estimated from CONTINUATION
        type counts, not raw counts)
      - ``ctx2`` (w2)       → v1 = N1+(· w2 ·); v2..v4 = continuation
        types per bucket
      - ``unic`` (w3)       → v1 = N1+(· w3)   (distinct-left-context
        types from the bigram table)
      - ``const`` rows: V (vocab), NBI (bigram types = N1+(· ·)),
        W11/W12/W13 (continuation-unigram types per bucket), and nine
        discounts D{order}{bucket}: per order, Y = n1/(n1+2·n2) and
        D_i = i − (i+1)·Y·n_{i+1}/n_i clamped into [0, i] (empty
        buckets fall back to the previous discount).

    100 TB shape: three corpus scans (trigram counts, bigram counts,
    vocab) — the position frame is deliberately NOT cached (one row per
    token; recomputing a projection beats persisting token-scale state),
    and everything downstream aggregates vocabulary-scale tables with
    map-side combine. No UDFs, no driver data beyond count-of-count
    scalars."""
    tri, ctx3, bityp, ctx2, unic, c = _kn_tables(df, text_col)

    def _tag(t, kind, w1=None, w2=None, w3=None,
             v1=None, v2=None, v3=None, v4=None):
        n = F.lit(None).cast("string")

        def _v(col):
            return (F.col(col).cast("double") if col
                    else F.lit(None).cast("double"))

        return t.select(
            F.lit(kind).alias("kind"),
            (F.col(w1) if w1 else n).alias("w1"),
            (F.col(w2) if w2 else n).alias("w2"),
            (F.col(w3) if w3 else n).alias("w3"),
            _v(v1).alias("v1"), _v(v2).alias("v2"),
            _v(v3).alias("v3"), _v(v4).alias("v4"),
        )

    from ratatool_spark.functions.localrel import local_df

    consts = local_df(
        df.sparkSession,
        [
            ("const", None, None, name, float(c[name]), None, None, None)
            for name in (
                "V", "NBI", "W11", "W12", "W13",
                "D11", "D12", "D13", "D21", "D22", "D23",
                "D31", "D32", "D33",
            )
        ],
        "kind string, w1 string, w2 string, w3 string, "
        "v1 double, v2 double, v3 double, v4 double",
    )
    return (
        _tag(tri, "tri", "w1", "w2", "w3", "cnt")
        .unionByName(
            _tag(ctx3, "ctx3", "w1", "w2", None,
                 "tot", "fol1", "fol2", "fol3"))
        .unionByName(_tag(bityp, "bityp", None, "w2", "w3", "n1pl"))
        .unionByName(
            _tag(ctx2, "ctx2", None, "w2", None, "tot", "r1", "r2", "r3"))
        .unionByName(_tag(unic, "unic", None, None, "w3", "n1pr"))
        .unionByName(consts)
    )


def _kn_tables(df: DataFrame, text_col: str):
    """The KN model's five count tables + the scalar dict — the shared
    builder behind :func:`kn_lm_model` (tagged-union artifact) and the
    self-scoring fast path of :func:`kn_lm_score` (joins the tables
    directly, keeping the physical plan free of union-branch noise)."""
    from ratatool_spark.cache import persist_tracked

    pos = _ngram_position_frame(df, text_col, None)
    tri = persist_tracked(
        pos.where(F.col("w1").isNotNull())
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bi = persist_tracked(
        pos.where(F.col("w2").isNotNull())
        .groupBy("w2", "w3")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bityp = persist_tracked(
        tri.groupBy("w2", "w3").agg(
            F.count(F.lit(1)).cast("double").alias("n1pl")
        )
    )
    unic = persist_tracked(
        bi.groupBy("w3").agg(F.count(F.lit(1)).cast("double").alias("n1pr"))
    )

    # ONE fused scalar job: the per-order count-of-counts n1..n4 (the
    # modified-KN discount inputs), the bigram-type and continuation-
    # type bucket totals, and the vocabulary size ride a single unioned
    # aggregate — one driver round-trip instead of six
    def _coc_agg(t, c, tag):
        return t.agg(
            F.lit(tag).alias("tag"),
            F.sum(F.when(F.col(c) == 1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col(c) == 2, 1).otherwise(0)).alias("n2"),
            F.sum(F.when(F.col(c) == 3, 1).otherwise(0)).alias("n3"),
            F.sum(F.when(F.col(c) == 4, 1).otherwise(0)).alias("n4"),
            F.count(F.lit(1)).alias("n"),
        )

    zero = [F.lit(0).alias(a) for a in ("n1", "n2", "n3", "n4")]
    scal = {
        r["tag"]: r
        for r in _coc_agg(tri, "cnt", "tri")
        .unionByName(_coc_agg(bityp, "n1pl", "bityp"))
        .unionByName(_coc_agg(unic, "n1pr", "unic"))
        .unionByName(
            bi.agg(F.lit("bi").alias("tag"), *zero,
                   F.count(F.lit(1)).alias("n"))
        )
        .unionByName(
            pos.agg(F.lit("vocab").alias("tag"), *zero,
                    F.countDistinct("w3").alias("n"))
        )
        .collect()
    }

    def _discs(tag):
        """Chen & Goodman (1999) modified-KN discounts (D1, D2, D3+)
        for one order: Y = n1/(n1+2n2); D_i = (i) − (i+1)·Y·n_{i+1}/n_i,
        clamped into [0, i] (the clamp keeps each conditional summing to
        exactly 1 — an over-i discount would hand λ more mass than the
        numerator gave up); an empty bucket falls back to the previous
        discount (SRILM's behaviour on degenerate count-of-counts)."""
        r = scal[tag]
        n1, n2 = int(r["n1"] or 0), int(r["n2"] or 0)
        n3, n4 = int(r["n3"] or 0), int(r["n4"] or 0)
        y = float(n1) / float(n1 + 2 * n2) if n1 + 2 * n2 > 0 else 0.0
        d1 = min(max(1.0 - 2.0 * y * n2 / n1, 0.0), 1.0) if n1 > 0 else 0.0
        d2 = min(max(2.0 - 3.0 * y * n3 / n2, 0.0), 2.0) if n2 > 0 else d1
        d3 = min(max(3.0 - 4.0 * y * n4 / n3, 0.0), 3.0) if n3 > 0 else d2
        return d1, d2, d3

    d31, d32, d33 = _discs("tri")
    d21, d22, d23 = _discs("bityp")
    d11, d12, d13 = _discs("unic")
    v = int(scal["vocab"]["n"] or 0)
    nbi = int(scal["bi"]["n"])
    w11 = int(scal["unic"]["n1"] or 0)
    w12 = int(scal["unic"]["n2"] or 0)
    w13 = int(scal["unic"]["n"]) - w11 - w12

    def _buckets(c):
        return [
            F.count(F.when(F.col(c) == 1, 1)).cast("double"),
            F.count(F.when(F.col(c) == 2, 1)).cast("double"),
            F.count(F.when(F.col(c) >= 3, 1)).cast("double"),
        ]

    b3 = _buckets("cnt")
    ctx3 = tri.groupBy("w1", "w2").agg(
        F.sum("cnt").cast("double").alias("tot"),
        b3[0].alias("fol1"), b3[1].alias("fol2"), b3[2].alias("fol3"),
    )
    b2 = _buckets("n1pl")
    ctx2 = bityp.groupBy("w2").agg(
        F.sum("n1pl").alias("tot"),
        b2[0].alias("r1"), b2[1].alias("r2"), b2[2].alias("r3"),
    )
    consts = {
        "V": float(v), "NBI": float(nbi),
        "W11": float(w11), "W12": float(w12), "W13": float(w13),
        "D11": d11, "D12": d12, "D13": d13,
        "D21": d21, "D22": d22, "D23": d23,
        "D31": d31, "D32": d32, "D33": d33,
    }
    return tri, ctx3, bityp, ctx2, unic, consts


def kn_lm_score(
    df: DataFrame,
    model_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_floor: float = 1e-9,
) -> DataFrame:
    """(id, n_tokens, mean_logscore): mean per-token log probability
    under an interpolated MODIFIED Kneser–Ney trigram LM
    (:func:`kn_lm_model`) — the CCNet perplexity-filter scorer with
    KenLM's estimator (Chen & Goodman 1999 three-discount form). Per
    token, with D(c) the order's count-bucketed discount (D1 for
    count 1, D2 for 2, D3+ for ≥3; 0 for unseen) and the λ mass the
    exact sum the numerators gave up:

      p_uni(w)      = (max(N1+(·w) − D(·), 0)
                       + (ΣD_i·W1_i)/(V+1)) / N1+(··)
      p_bi(w|u)     = (max(N1+(·uw) − D(·), 0)
                       + (ΣD_i·r_i(u))·p_uni(w)) / N1+(·u·)
                                             [p_uni if u has no types]
      p_tri(w|t,u)  = (max(c(tuw) − D(c), 0)
                       + (ΣD_i·fol_i(t,u))·p_bi(w|u)) / c(tu·)
                                             [p_bi if (t,u) unseen]

    Each distribution sums to EXACTLY 1 over the V+1-point support
    (vocabulary + one unseen slot sharing the uniform mass) — pinned in
    tests. A document-initial token scores at the highest tier its
    context allows (the family convention); p_uni is floored at
    ``oov_floor`` so frozen-model scoring of unseen tokens stays finite
    when an order has no singletons (D1=0) — KenLM's explicit <unk>
    slot plays this role in production.

    Shape: ONE exploded position frame, five vocabulary-table left
    joins (the same lookup fan-out as :func:`ngram_lm_score`), one
    doc-keyed mean, a left join back onto the input ids. Scalars ride
    as literals (collected once from the const rows)."""
    if model_df is None:
        # self-scoring: join the internal count tables DIRECTLY — no
        # tagged union in the plan, every aggregate appears exactly once
        tri0, ctx30, bityp0, ctx20, unic0, c = _kn_tables(df, text_col)
        tri = tri0.select(
            F.col("w1").alias("t_w1"), F.col("w2").alias("t_w2"),
            F.col("w3").alias("t_w3"),
            F.col("cnt").cast("double").alias("c3"))
        ctx3 = ctx30.select(
            F.col("w1").alias("x3_w1"), F.col("w2").alias("x3_w2"),
            F.col("tot").alias("x3_tot"), F.col("fol1").alias("x3_f1"),
            F.col("fol2").alias("x3_f2"), F.col("fol3").alias("x3_f3"))
        bityp = bityp0.select(
            F.col("w2").alias("b_w2"), F.col("w3").alias("b_w3"), "n1pl")
        ctx2 = ctx20.select(
            F.col("w2").alias("x2_w2"), F.col("tot").alias("x2_tot"),
            F.col("r1").alias("x2_r1"), F.col("r2").alias("x2_r2"),
            F.col("r3").alias("x2_r3"))
        unic = unic0.select(F.col("w3").alias("u_w3"), "n1pr")
    else:
        # frozen model: checkpoint the stored union once — each
        # kind-filter below then scans the materialized relation (and
        # the plan reflects exactly that: one build, five scans; a bare
        # persist would re-print the union's whole lineage under every
        # consumer)
        model_df = model_df.localCheckpoint(eager=False)
        c = {
            r["w3"]: r["v1"]
            for r in model_df.where(F.col("kind") == "const").collect()
        }
        tri = model_df.where(F.col("kind") == "tri").select(
            F.col("w1").alias("t_w1"), F.col("w2").alias("t_w2"),
            F.col("w3").alias("t_w3"), F.col("v1").alias("c3"))
        ctx3 = model_df.where(F.col("kind") == "ctx3").select(
            F.col("w1").alias("x3_w1"), F.col("w2").alias("x3_w2"),
            F.col("v1").alias("x3_tot"), F.col("v2").alias("x3_f1"),
            F.col("v3").alias("x3_f2"), F.col("v4").alias("x3_f3"))
        bityp = model_df.where(F.col("kind") == "bityp").select(
            F.col("w2").alias("b_w2"), F.col("w3").alias("b_w3"),
            F.col("v1").alias("n1pl"))
        ctx2 = model_df.where(F.col("kind") == "ctx2").select(
            F.col("w2").alias("x2_w2"), F.col("v1").alias("x2_tot"),
            F.col("v2").alias("x2_r1"), F.col("v3").alias("x2_r2"),
            F.col("v4").alias("x2_r3"))
        unic = model_df.where(F.col("kind") == "unic").select(
            F.col("w3").alias("u_w3"), F.col("v1").alias("n1pr"))
    v, nbi = c["V"], c["NBI"]
    w11, w12, w13 = c["W11"], c["W12"], c["W13"]
    d11, d12, d13 = c["D11"], c["D12"], c["D13"]
    d21, d22, d23 = c["D21"], c["D22"], c["D23"]
    d31, d32, d33 = c["D31"], c["D32"], c["D33"]
    pos = _ngram_position_frame(df, text_col, id_col)
    j = (
        pos
        .join(tri, (F.col("w1") == F.col("t_w1"))
              & (F.col("w2") == F.col("t_w2"))
              & (F.col("w3") == F.col("t_w3")), "left")
        .join(ctx3, (F.col("w1") == F.col("x3_w1"))
              & (F.col("w2") == F.col("x3_w2")), "left")
        .join(bityp, (F.col("w2") == F.col("b_w2"))
              & (F.col("w3") == F.col("b_w3")), "left")
        .join(ctx2, F.col("w2") == F.col("x2_w2"), "left")
        .join(unic, F.col("w3") == F.col("u_w3"), "left")
    )

    def _disc(cnt_col, da, db, dc):
        """The modified-KN count-bucketed discount: D1 for count 1,
        D2 for count 2, D3+ for count >= 3, 0 for unseen."""
        cc = F.coalesce(F.col(cnt_col), F.lit(0.0))
        return (
            F.when(cc >= 3, F.lit(dc))
            .when(cc == 2, F.lit(db))
            .when(cc == 1, F.lit(da))
            .otherwise(F.lit(0.0))
        )

    # uniform bonus precomputed in Python: (D11·W11+D12·W12+D13·W13)
    # /(V+1) — one IEEE sequence, replayed identically by the oracle
    uni_bonus = (d11 * w11 + d12 * w12 + d13 * w13) / (v + 1.0)
    p_uni = F.greatest(
        (
            F.greatest(
                F.coalesce(F.col("n1pr"), F.lit(0.0))
                - _disc("n1pr", d11, d12, d13),
                F.lit(0.0),
            )
            + F.lit(uni_bonus)
        )
        / F.lit(nbi),
        F.lit(float(oov_floor)),
    )
    p_bi = F.when(
        F.col("x2_tot").isNotNull(),
        (
            F.greatest(
                F.coalesce(F.col("n1pl"), F.lit(0.0))
                - _disc("n1pl", d21, d22, d23),
                F.lit(0.0),
            )
            + (F.lit(d21) * F.col("x2_r1") + F.lit(d22) * F.col("x2_r2")
               + F.lit(d23) * F.col("x2_r3")) * p_uni
        )
        / F.col("x2_tot"),
    ).otherwise(p_uni)
    p_tri = F.when(
        F.col("x3_tot").isNotNull(),
        (
            F.greatest(
                F.coalesce(F.col("c3"), F.lit(0.0))
                - _disc("c3", d31, d32, d33),
                F.lit(0.0),
            )
            + (F.lit(d31) * F.col("x3_f1") + F.lit(d32) * F.col("x3_f2")
               + F.lit(d33) * F.col("x3_f3")) * p_bi
        )
        / F.col("x3_tot"),
    ).otherwise(p_bi)
    lp = (
        F.when(F.col("w1").isNotNull(), F.log(p_tri))
        .when(F.col("w2").isNotNull(), F.log(p_bi))
        .otherwise(F.log(p_uni))
    )
    scores = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg(lp).alias("mean_logscore"),
    )
    return df.select(id_col).join(scores, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        "mean_logscore",
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher rule-based quality filters (Rae et al. 2021, App. A1.1) as
    per-rule metrics + flags — the explainable tier next to the composite
    ``quality_score`` heuristic and the trained classifiers: each rule is
    a separate column, so curation reports can say WHICH rule dropped a
    document, not just that something did.

    Metrics: word count, mean word length, symbol-to-word ratio (# and
    ellipsis), bullet-start and ellipsis-end line ratios, alphabetic-word
    ratio, stop-word hits (of Gopher's 8). ``passes_gopher`` is the AND
    of all rules; empty documents fail with NULL metrics.

    100 TB shape: pure column expressions over one scan — no shuffle, no
    Python, no joins; flags ride whatever partitioning the scan has."""
    def _f6(x):
        # floor-scaled 6dp: ROUND's half-up/half-even tie behaviour
        # differs between engines exactly when an integer sum divides a
        # power-of-two count; floor(x*1e6)/1e6 is a fixed IEEE sequence
        return F.floor(x * F.lit(1000000.0)) / F.lit(1000000.0)

    # bind-once (functions/text.winnow_fingerprints): every metric below
    # references the token/line arrays, and HOF expressions are
    # interpreted (CodegenFallback) — as plain column expressions the
    # text would re-tokenize per REFERENCE (~18x per row, 8 of them from
    # the stop-word array_contains chain over the lowered copy). Each
    # array rides as a transform lambda value, computed once per row.
    def _bind(arr, f):
        return F.element_at(F.transform(F.array(arr), f), 1)

    toks_expr = F.filter(tokens(F.col(text_col)), lambda t: F.length(t) > 0)
    lines_expr = F.filter(
        F.transform(
            F.split(F.col(text_col), "\n"), lambda ln: F.trim(ln)
        ),
        lambda ln: F.length(ln) > 0,
    )
    stops = ("the", "be", "to", "of", "and", "that", "have", "with")

    def _metrics(toks, lines, lowered):
        n = F.size(toks)
        n_lines = F.size(lines)
        has_toks = n > 0
        mean_len = _f6(
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
            )
            / n
        )
        n_symbolish = F.size(
            F.filter(
                toks,
                lambda t: t.contains("#") | t.contains("..."),
            )
        )
        bullet_ratio = _f6(
            F.size(
                F.filter(
                    lines,
                    lambda ln: ln.startswith("-")
                    | ln.startswith("*")
                    | ln.startswith("•"),
                )
            )
            / n_lines
        )
        ellipsis_ratio = _f6(
            F.size(
                F.filter(
                    lines,
                    lambda ln: ln.endswith("...") | ln.endswith("…"),
                )
            )
            / n_lines
        )
        alpha_ratio = _f6(
            F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))) / n
        )
        n_stop_hits = sum(
            [
                F.when(F.array_contains(lowered, s), F.lit(1)).otherwise(
                    F.lit(0)
                )
                for s in stops
            ],
            F.lit(0),
        )
        return F.struct(
            n.alias("n_words"),
            F.when(has_toks, mean_len).alias("mean_word_len"),
            F.when(has_toks, _f6(n_symbolish / n)).alias(
                "symbol_to_word_ratio"
            ),
            F.when(n_lines > 0, bullet_ratio).alias("bullet_line_ratio"),
            F.when(n_lines > 0, ellipsis_ratio).alias(
                "ellipsis_line_ratio"
            ),
            F.when(has_toks, alpha_ratio).alias("alpha_word_ratio"),
            n_stop_hits.alias("n_stop_hits"),
        )

    g = _bind(
        toks_expr,
        lambda toks: _bind(
            lines_expr,
            lambda lines: _bind(
                F.transform(toks, lambda t: F.lower(t)),
                lambda lowered: _metrics(toks, lines, lowered),
            ),
        ),
    )
    # two projections on purpose (sq8_encode): the metrics struct is
    # materialized as its own column so the seven field reads below are
    # plain attribute accesses, not seven re-evaluations
    staged = df.select("*", g.alias("__gopher"))
    out = staged.select(
        *df.columns,
        F.col("__gopher.n_words").alias("n_words"),
        F.col("__gopher.mean_word_len").alias("mean_word_len"),
        F.col("__gopher.symbol_to_word_ratio").alias("symbol_to_word_ratio"),
        F.col("__gopher.bullet_line_ratio").alias("bullet_line_ratio"),
        F.col("__gopher.ellipsis_line_ratio").alias("ellipsis_line_ratio"),
        F.col("__gopher.alpha_word_ratio").alias("alpha_word_ratio"),
        F.col("__gopher.n_stop_hits").alias("n_stop_hits"),
    )
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_to_word_ratio") <= max_symbol_ratio)
        & (F.col("bullet_line_ratio") <= max_bullet_ratio)
        & (F.col("ellipsis_line_ratio") <= max_ellipsis_ratio)
        & (F.col("alpha_word_ratio") >= min_alpha_ratio)
        & (F.col("n_stop_hits") >= min_stop_hits)
    )
    return out.withColumn(
        "passes_gopher", F.coalesce(passes, F.lit(False))
    )


def vocab_coverage(
    df: DataFrame,
    vocab_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_col: str = "token",
) -> DataFrame:
    """Per-document tokenizer-vocabulary coverage: token count, OOV count
    and OOV rate against a frozen vocab table — the pre-flight check
    before committing a corpus to a tokenizer (high OOV = wrong vocab or
    wrong-language contamination).

    Output: (id, ``n_tokens``, ``n_oov``, ``oov_rate``) for every
    document with at least one token.

    100 TB shape: tokenizer vocabularies are bounded by construction
    (32k–256k entries), so the vocab side is deduped and BROADCAST — the
    exploded corpus never shuffles for the membership test; the only
    exchange is the groupBy(doc) roll-up, map-side combined."""
    vocab = F.broadcast(
        vocab_df.select(F.col(token_col).alias("__v")).distinct()
    )
    ex = (
        df.select(
            id_col, F.explode(tokens(F.col(text_col))).alias("__tok")
        )
        .where(F.length("__tok") > 0)
    )
    return (
        ex.join(vocab, ex["__tok"] == vocab["__v"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("__v").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_oov"),
        )
        .withColumn(
            "oov_rate", F.round(F.col("n_oov") / F.col("n_tokens"), 6)
        )
    )


def _normalized_freqs(
    freq_df: DataFrame,
    key_col: str,
    smoothing: float,
    n_buckets: int | None = None,
) -> tuple[DataFrame, float]:
    """The shared freq-table discipline behind every Lidstone-smoothed
    model in this module (unigram LM score, DSIR raw + hashed, the NB
    quality classifier): defensively re-aggregate by ``key_col`` (caller
    tables with duplicate rows must not skew normalizers or fan out the
    join), truncate lineage with a LAZY localCheckpoint (an inline-built
    table's corpus scan runs ONCE, not once for the normalizer collect
    and again for the join), then collect the scalar normalizers.

    Returns (clean table, Lidstone denominator): ``total + s·(V+1)`` for
    an open vocabulary (an unseen token is the +1 outcome), or
    ``total + s·n_buckets`` closed-form for the hashed feature space
    (every bucket exists; nothing is out-of-vocabulary)."""
    f = (
        freq_df.groupBy(key_col)
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    if n_buckets is None:
        t = f.agg(
            F.sum("cnt").alias("__t"), F.count(F.lit(1)).alias("__v")
        ).collect()[0]
        denom = float(t["__t"] or 0) + smoothing * (float(t["__v"] or 0) + 1.0)
    else:
        t = f.agg(F.sum("cnt").alias("__t")).collect()[0]
        denom = float(t["__t"] or 0) + smoothing * float(n_buckets)
    return f, denom


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    freq_df: DataFrame | None = None,
    smoothing: float = 0.5,
) -> DataFrame:
    """(id, n_tokens, mean_logprob): mean per-token unigram
    log-probability — the simplest useful LM-based quality filter (the
    CCNet/KenLM perplexity-bucket technique with a unigram model): docs
    whose tokens are systematically improbable under a clean reference
    corpus (gibberish, boilerplate, wrong language) score low and can be
    thresholded or bucketed.

    ``freq_df`` is the production path: pass :func:`build_token_freqs`
    output computed ONCE on the reference corpus (saved as parquet), and
    each new batch is scored against the frozen distribution — the score
    then has stable meaning across batches. Without it, the corpus
    scores itself (self-perplexity). Unseen tokens get the additive
    ``smoothing`` mass (Lidstone): log((cnt + s) / (total + s * (V + 1))).

    Shape: explode -> one token-keyed join against the freq table -> one
    doc-keyed mean -> a left join back onto the input ids, so EVERY input
    row appears in the output (empty/whitespace-only/NULL-text docs get
    n_tokens=0 and mean_logprob NULL — the same every-row guarantee as
    repetition_metrics; a downstream inner join never silently drops
    documents). ``id_col`` must be unique: duplicate ids would pool their
    documents' tokens into one blended score and emit it once per input
    row — same contract as :func:`remove_duplicate_lines`. A
    caller-supplied ``freq_df`` is defensively re-aggregated by token, so
    duplicate vocab rows cannot skew the normalizers or fan out the
    join. The two scalar normalizers (total, V) are a one-row
    aggregate collected on the driver; a self-built freq table is
    localCheckpointed so the corpus is scanned once, not once for the
    normalizers and again for the join.
    """
    if smoothing <= 0:
        raise ValueError(
            "smoothing must be > 0 (MLE would log(0) OOV tokens into NULLs "
            "that avg() silently skips — inflating gibberish scores)"
        )
    freqs, denom = _normalized_freqs(
        freq_df if freq_df is not None else build_token_freqs(df, text_col),
        "token",
        smoothing,
    )
    f = freqs.select(F.col("token").alias("__tok"), F.col("cnt").alias("__cnt"))
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    ).where(F.length("__tok") > 0)
    logp = F.log(
        (F.coalesce(F.col("__cnt"), F.lit(0)) + F.lit(smoothing)) / F.lit(denom)
    )
    scores = (
        toks.join(f, "__tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(logp).alias("mean_logprob"),
        )
    )
    return df.select(id_col).join(scores, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
        "mean_logprob",
    )


def remove_duplicate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_occurrences: int = 1,
    min_line_chars: int = 2,
    sep: str = "\n",
    scope: str = "corpus",
) -> DataFrame:
    """C4's corpus-level line dedup: drop every line that occurs more than
    ``max_occurrences`` times ACROSS the corpus (boilerplate headers,
    cookie banners, navigation junk repeat verbatim on thousands of
    pages), then reassemble each document from its surviving lines in
    their original order. Lines shorter than ``min_line_chars`` (default
    2) are kept as-is and never counted — "." or "" occurring in
    unrelated docs must not alias them together.

    ``scope="document"`` switches to the Gopher intra-document rule: a
    line is dropped only when repeated too often WITHIN its own document
    (all occurrences go — the repeated line is itself the junk signal);
    the count then shuffles on (doc, line), so cross-doc boilerplate is
    untouched.

    Adds ``n_lines_removed``; ``text_col`` is replaced by the cleaned
    text. Every input row survives: a fully-boilerplate doc comes back
    with empty text (for downstream length filters to judge) and a
    NULL-text doc stays NULL — the null-vs-emptied distinction is
    preserved. ``id_col`` must be unique (checked lazily): duplicate ids
    would interleave unrelated rows' lines during reassembly. ``sep`` is
    a literal separator (regex metachars are escaped before the split).

    Shape (no eager action — everything rides the returned plan):
    explode lines with their position -> one count aggregation shuffled
    by line content -> keep ONLY the violator lines
    (``count > max_occurrences`` — typically a tiny table, the
    boilerplate set, which AQE broadcasts) and left-join them back onto
    the exploded lines, so the corpus-scoped join ships the violator set
    instead of a corpus-sized counts table and the maximally-skewed hot
    line never shuffles the probe side -> per-doc ordered reassembly via
    array_sort over (pos, line) structs — no window, no Python. The
    id-uniqueness guard is FUSED into the reassembly aggregate (the
    BigDiffy PK-guard pattern, diffy.py:355): every doc contributes
    exactly one pos-0 row pre-filter, so ``count(pos = 0) > 1`` inside
    the per-doc group detects a duplicate id with zero extra scans and
    raises at execution time.
    """
    if scope not in ("corpus", "document"):
        raise ValueError(f"scope must be 'corpus' or 'document', got {scope!r}")
    import re as _re

    # F.split takes a Java regex; the separator is a LITERAL
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
    exploded = df.select(
        F.col(id_col), F.posexplode(lines).alias("__pos", "__line")
    )
    countable = F.length(F.col("__line")) >= min_line_chars
    count_keys = ["__line"] if scope == "corpus" else [id_col, "__line"]
    violators = (
        exploded.where(countable)
        .groupBy(*count_keys)
        .agg(F.count(F.lit(1)).alias("__lc"))
        .where(F.col("__lc") > max_occurrences)
        .select(*count_keys, F.lit(True).alias("__viol"))
    )
    # left-join the (small) violator set; surviving lines are the unmatched
    # ones. collect_list skips the NULL produced by when() for dropped
    # lines, so the filter lives INSIDE the aggregate — the same group then
    # sees every pre-filter row, which is what lets the duplicate-id guard
    # ride the aggregation for free.
    keep = F.col("__viol").isNull()
    kept = (
        exploded.join(violators, count_keys, "left")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(keep, F.struct(F.col("__pos"), F.col("__line")))
                )
            ).alias("__kept"),
            F.count(F.when(F.col("__pos") == 0, F.lit(1))).alias("__n0"),
        )
        .select(
            F.col(id_col),
            F.when(
                F.col("__n0") > 1,
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"remove_duplicate_lines: {id_col!r} is not "
                            "unique (duplicate id: "
                        ),
                        F.col(id_col).cast("string"),
                        F.lit(
                            "); duplicate ids would interleave unrelated "
                            "rows' lines during reassembly"
                        ),
                    )
                ),
            )
            .otherwise(
                F.concat_ws(
                    sep, F.transform(F.col("__kept"), lambda s: s["__line"])
                )
            )
            .alias("__clean"),
            F.size("__kept").alias("__nkept"),
        )
    )
    n_lines = F.size(lines)
    # every id appears in `kept` (no pre-group filter), but keep the left
    # join + coalesce so a pathological empty-side plan change can never
    # drop input rows
    cleaned = F.when(
        F.col(text_col).isNull(), F.lit(None).cast("string")
    ).otherwise(F.coalesce(F.col("__clean"), F.lit("")))
    out_cols = [
        F.col(c) if c != text_col else cleaned.alias(text_col)
        for c in df.columns
    ]
    return (
        df.join(kept, id_col, "left")
        .select(
            *out_cols,
            (n_lines - F.coalesce(F.col("__nkept"), F.lit(0))).alias(
                "n_lines_removed"
            ),
        )
    )


def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    max_rows: int = 100,
    dice_cols: Sequence[str] = ("doc_id",),
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-group document cap — the C4/Gopher "at most N
    pages per domain" rule that stops a single crawler-friendly site from
    dominating the corpus. Keeps the ``max_rows`` rows of each group with
    the smallest portable-hash dice over ``dice_cols``, so (a) membership
    is a pure function of the record — stable across runs, engines, and
    repartitionings, re-derivable in any warehouse; (b) the kept subset
    is a uniform random sample of the group (hash order is uniform), not
    a storage-order prefix.

    ``dice_cols`` should uniquely identify rows (same contract as
    ``build_quantile_sketches``): the window breaks hash ties on the dice
    column values, so WHICH identities are kept is deterministic even
    under collisions, but two physically different rows carrying the same
    dice values are interchangeable to the cap — dedupe first if that
    distinction matters.

    Shape: one row_number window over (group, hash) — Spark compiles the
    ``rn <= k`` filter to WindowGroupLimit, so each map task keeps a
    k-row heap per group before the shuffle and the exchange carries
    O(k · partitions · groups_per_partition), never the over-cap bulk.
    Skewed groups (the whole point: one domain with millions of pages)
    are bounded by the same mechanism.
    """
    from pyspark.sql import Window

    from ratatool_spark.functions.hashing import hash_cols

    w = Window.partitionBy(group_col).orderBy(
        "__dice", *[F.col(c) for c in dice_cols]
    )
    return (
        df.withColumn("__dice", hash_cols(list(dice_cols), seed=seed))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_rows)
        .drop("__dice", "__rn")
    )


def dsir_weights(
    df: DataFrame,
    target_freq_df: DataFrame,
    raw_freq_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
) -> DataFrame:
    """(id, n_tokens, log_ratio) — per-document importance weight for
    DSIR-style data selection (Xie et al., NeurIPS'23: Data Selection
    via Importance Resampling): log_ratio = Σ_tokens [ln p_target(t) −
    ln p_raw(t)] under Lidstone-smoothed unigram models of a TARGET
    corpus (what you want more of) and the RAW pool. Positive = looks
    more like the target than the pool.

    Same conventions as :func:`unigram_logprob_score`: freq tables come
    from :func:`build_token_freqs` (persist once per corpus), are
    defensively re-aggregated, and EVERY input row appears in the output
    (token-free docs get n_tokens=0, log_ratio NULL). One explode, ONE
    token-keyed join (the two vocabularies are pre-merged full-outer —
    vocab-sized, usually broadcastable), one per-doc aggregate."""
    if smoothing <= 0:
        raise ValueError("smoothing must be > 0 (MLE log(0) on OOV)")
    tf, tdenom = _normalized_freqs(target_freq_df, "token", smoothing)
    rf, rdenom = _normalized_freqs(raw_freq_df, "token", smoothing)
    vocab = (
        tf.select(F.col("token").alias("__tok"), F.col("cnt").alias("__ct"))
        .join(
            rf.select(
                F.col("token").alias("__tok"), F.col("cnt").alias("__cr")
            ),
            "__tok",
            "full_outer",
        )
    )
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__tok")
    ).where(F.length("__tok") > 0)
    lr = F.log(
        (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(smoothing))
        / F.lit(tdenom)
    ) - F.log(
        (F.coalesce(F.col("__cr"), F.lit(0)) + F.lit(smoothing))
        / F.lit(rdenom)
    )
    scores = (
        toks.join(vocab, "__tok", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(lr).alias("log_ratio"),
        )
    )
    return df.select(id_col).join(scores, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "log_ratio",
    )


def dsir_select(
    df: DataFrame,
    target_freq_df: DataFrame,
    raw_freq_df: DataFrame,
    n_select: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 0.5,
    seed: int = 0,
    small_k_threshold: int = 100_000,
) -> DataFrame:
    """(id, n_tokens, log_ratio, sample_key) — the ``n_select`` documents
    chosen by Gumbel-top-k importance resampling: sampling WITHOUT
    replacement with probability ∝ exp(log_ratio) equals taking the top
    k of ``log_ratio + Gumbel(u)`` with u uniform (the Gumbel-max trick),
    and u here is the deterministic portable dice on the doc id — so the
    selected set is reproducible anywhere from (corpus, seed), the same
    property as every sampling cohort in this package.

    Distributed shape: the weights job (one explode + vocab join + doc
    aggregate), then a global top-k. For ``n_select <=
    small_k_threshold`` that is Spark's TakeOrderedAndProject
    (per-partition k-heap, single k·partitions merge — optimal for small
    k). DSIR's real use selects a large FRACTION of the pool (10⁸–10⁹
    docs from a 10¹⁰ pool), where a single merge point holding the whole
    selected set is a scale-killer — past the threshold selection
    switches to :func:`~ratatool_spark.operators.sampler.distributed_top_k`
    (value-range buckets on ``sample_key`` + exact cumulative offsets +
    per-bucket rank; row-for-row identical result, no single-point
    merge). Token-free docs (log_ratio NULL) order last in both paths
    and are only selected once scored docs are exhausted."""
    w = dsir_weights(
        df, target_freq_df, raw_freq_df, text_col, id_col, smoothing
    )
    u = dice([id_col], seed=seed)
    gumbel = -F.log(-F.log(u))
    key = (F.col("log_ratio") + gumbel).alias("sample_key")
    scored = w.select(id_col, "n_tokens", "log_ratio", key)
    if n_select <= small_k_threshold:
        return (
            scored.orderBy(F.desc_nulls_last("sample_key"), F.col(id_col))
            .limit(n_select)
        )
    from ratatool_spark.operators.sampler import distributed_top_k

    return distributed_top_k(scored, "sample_key", [id_col], n_select)


def _filtered_word_grams(text_col: str, n: int):
    """All word n-grams over EMPTY-FILTERED tokens; sub-n docs produce an
    EMPTY array (no padded gram). Zip-of-slices shape with the per-element
    lambda touching only struct fields (an element_at(ls, i) form with ls
    as an inline expression re-evaluates the tokenize+filter per ELEMENT —
    measured ~6x slower on the hashed-DSIR gate); the filtered token
    array itself is evaluated exactly ONCE per row via the bind-once
    lambda trick (``functions/text.winnow_fingerprints``) — as a plain
    column expression its n+2 references (slices, size guard, emptiness
    test) would each re-split and re-filter the text, ruinously so for
    the span-dedup caller's n=50."""

    def _grams_of(ls):
        m = F.size(ls) - (n - 1)
        z = F.arrays_zip(
            *[F.slice(ls, j + 1, F.greatest(m, F.lit(0))) for j in range(n)]
        )
        grams = F.transform(
            z, lambda s: F.concat_ws(" ", *[s[f"{i}"] for i in range(n)])
        )
        return F.when(m >= 1, grams).otherwise(
            F.array().cast("array<string>")
        )

    ls0 = F.filter(tokens(F.col(text_col)), lambda x: F.length(x) > 0)
    return F.element_at(F.transform(F.array(ls0), _grams_of), 1)


def build_hashed_ngram_freqs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 10_000,
    seed: int = 0,
) -> DataFrame:
    """(bucket, cnt) — hashed word-n-gram feature counts over a corpus,
    the DSIR paper's actual featurization (hashed n-grams instead of a
    raw vocabulary): each n-gram maps to ``portable_hash64 % n_buckets``,
    so the model is a fixed-width count vector with no vocab to collect
    (the Lidstone denominator is total + s·n_buckets, a constant).
    n-grams are built zip-of-slices style on the pre-filtered token
    array — no per-element re-tokenization."""
    from ratatool_spark.functions.hashing import FIELD_SEP, portable_hash64

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    grams = _filtered_word_grams(text_col, n)
    feed = F.concat_ws(FIELD_SEP, F.lit(str(seed)), F.col("__g"))
    return (
        df.select(F.explode(grams).alias("__g"))
        .select((portable_hash64(feed) % n_buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_hashed_weights(
    df: DataFrame,
    target_freq_df: DataFrame,
    raw_freq_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    n_buckets: int = 10_000,
    smoothing: float = 0.5,
    seed: int = 0,
) -> DataFrame:
    """(id, n_features, log_ratio) — :func:`dsir_weights` over HASHED
    n-gram features (:func:`build_hashed_ngram_freqs` tables): log_ratio
    = Σ_features [ln p_target(b) − ln p_raw(b)] with Lidstone smoothing
    over the fixed ``n_buckets`` feature space. No vocabulary collect:
    both denominators are closed-form (total + s·n_buckets). Same
    every-row guarantee as the unigram path (feature-free docs get
    n_features=0, log_ratio NULL)."""
    from ratatool_spark.functions.hashing import FIELD_SEP, portable_hash64

    if smoothing <= 0:
        raise ValueError("smoothing must be > 0 (MLE log(0) on OOV)")
    tf, tdenom = _normalized_freqs(
        target_freq_df, "bucket", smoothing, n_buckets=n_buckets
    )
    rf, rdenom = _normalized_freqs(
        raw_freq_df, "bucket", smoothing, n_buckets=n_buckets
    )
    vocab = (
        tf.select(F.col("bucket").alias("__b"), F.col("cnt").alias("__ct"))
        .join(
            rf.select(
                F.col("bucket").alias("__b"), F.col("cnt").alias("__cr")
            ),
            "__b",
            "full_outer",
        )
    )
    grams = _filtered_word_grams(text_col, n)
    feed = F.concat_ws(FIELD_SEP, F.lit(str(seed)), F.col("__g"))
    feats = df.select(
        F.col(id_col), F.explode(grams).alias("__g")
    ).select(F.col(id_col), (portable_hash64(feed) % n_buckets).alias("__b"))
    lr = F.log(
        (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(smoothing))
        / F.lit(tdenom)
    ) - F.log(
        (F.coalesce(F.col("__cr"), F.lit(0)) + F.lit(smoothing))
        / F.lit(rdenom)
    )
    # vocab is bounded by n_buckets rows BY CONSTRUCTION -- always
    # broadcast (the un-hinted plan sort-merge-joined the corpus-sized
    # feats against a 512-row table: 3 shuffles for nothing)
    scores = (
        feats.join(F.broadcast(vocab), "__b", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum(lr).alias("log_ratio"),
        )
    )
    return df.select(id_col).join(scores, id_col, "left").select(
        id_col,
        F.coalesce("n_features", F.lit(0)).alias("n_features"),
        "log_ratio",
    )


def train_quality_weights(
    pos_freq_df: DataFrame,
    neg_freq_df: DataFrame,
    n_buckets: int,
    smoothing: float = 0.5,
) -> DataFrame:
    """(bucket, weight) — a TRAINED linear quality classifier over the
    hashed-n-gram feature space (:func:`build_hashed_ngram_freqs`
    tables): per-bucket Naive-Bayes log-odds  w(b) = ln p_pos(b) −
    ln p_neg(b)  under Lidstone smoothing with the closed-form hashed
    denominators — the NBSVM/fastText-style linear text classifier
    (Wang & Manning, ACL'12) whose sufficient statistics are exactly two
    count tables, so "training" is one aggregate pass per corpus and the
    model replays bit-for-bit in any engine (this operator's oracle).
    The CCNet-style quality tier above the heuristic
    ``functions/text.quality_score``: positives = a trusted corpus
    (wiki/books), negatives = the raw pool.

    The returned table is COMPLETE — one row for every bucket in
    [0, n_buckets), including buckets seen in neither corpus (their
    weight is the smoothed prior ratio ln(neg_denom/pos_denom)) — so
    scoring never needs an OOV branch and the broadcast side is exactly
    ``n_buckets`` rows by construction."""
    if smoothing <= 0:
        raise ValueError("smoothing must be > 0 (MLE log(0) on unseen)")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    pf, pdenom = _normalized_freqs(
        pos_freq_df, "bucket", smoothing, n_buckets=n_buckets
    )
    nf, ndenom = _normalized_freqs(
        neg_freq_df, "bucket", smoothing, n_buckets=n_buckets
    )
    space = pos_freq_df.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    w = F.log(
        (F.coalesce(F.col("__cp"), F.lit(0)) + F.lit(smoothing))
        / F.lit(pdenom)
    ) - F.log(
        (F.coalesce(F.col("__cn"), F.lit(0)) + F.lit(smoothing))
        / F.lit(ndenom)
    )
    return (
        space.join(
            F.broadcast(pf.select("bucket", F.col("cnt").alias("__cp"))),
            "bucket",
            "left",
        )
        .join(
            F.broadcast(nf.select("bucket", F.col("cnt").alias("__cn"))),
            "bucket",
            "left",
        )
        .select("bucket", w.alias("weight"))
    )


def quality_classifier_score(
    df: DataFrame,
    weights_df: DataFrame,
    n_buckets: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    bias: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """(id, n_features, logit, prob) — apply a trained hashed-feature
    linear quality model (:func:`train_quality_weights`, or any
    (bucket, weight) table — e.g. logistic weights trained offline) to
    every document: ``logit = bias + mean(weight of the doc's hashed
    n-gram features)``, ``prob = sigmoid(logit)``. The MEAN (not sum)
    makes the score length-invariant — a long document is not
    automatically "higher quality" — matching fastText's averaged
    feature-vector scoring. ``n``/``n_buckets``/``seed`` must match the
    featurization the weights were trained on.

    Scale shape: one explode into hashed features, one broadcast join
    against the ≤n_buckets-row weight table, one per-doc aggregate, and
    the every-row guarantee shared by all scorers in this module
    (feature-free docs return n_features=0, logit/prob NULL). Pure
    expressions end-to-end — no Python boundary; the sigmoid finish is
    one exp per doc, cross-engine-replayable (the oracle pins it with a
    ROUND(...,6) finishing convention)."""
    from ratatool_spark.functions.hashing import FIELD_SEP, portable_hash64

    grams = _filtered_word_grams(text_col, n)
    feed = F.concat_ws(FIELD_SEP, F.lit(str(seed)), F.col("__g"))
    feats = df.select(
        F.col(id_col), F.explode(grams).alias("__g")
    ).select(F.col(id_col), (portable_hash64(feed) % n_buckets).alias("bucket"))
    # weights are defensively deduped like every freq table (duplicate
    # bucket rows would fan out the join); ≤n_buckets rows -> broadcast
    w = weights_df.groupBy("bucket").agg(F.avg("weight").alias("weight"))
    scored = (
        feats.join(F.broadcast(w), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            (F.lit(bias) + F.avg(F.coalesce("weight", F.lit(0.0)))).alias(
                "logit"
            ),
        )
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit")))
    return df.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_features", F.lit(0)).alias("n_features"),
        "logit",
        prob.alias("prob"),
    )


def train_nb_class_weights(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    n: int = 1,
    n_buckets: int = 10_000,
    smoothing: float = 0.5,
    seed: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """(weights_df, priors_df) — a MULTI-CLASS Naive-Bayes text
    classifier over hashed word-n-gram features, trained from a labeled
    corpus in two aggregate passes (the trained-language-ID tier above
    the marker-list heuristic ``functions/text.lang_id``; textcat-style,
    Cavnar & Trenkle '94 modernized to hashed features):

    - ``weights_df`` (label, bucket, weight): ``weight = ln p_label(b)``
      under Lidstone smoothing with the closed-form hashed denominator —
      COMPLETE per label (one row for every bucket in [0, n_buckets), so
      scoring has no OOV branch and the broadcast side is exactly
      ``n_labels x n_buckets`` rows).
    - ``priors_df`` (label, ln_prior): document-count class priors.

    Sufficient statistics are one (label, bucket) count aggregate (map-
    side combined; the corpus shuffles only as counts) and one label
    count — so the "training" replays exactly in any engine, which is
    this operator's oracle. NULL labels are excluded (unlabeled rows
    cannot train)."""
    if smoothing <= 0:
        raise ValueError("smoothing must be > 0 (MLE log(0) on unseen)")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    from ratatool_spark.functions.hashing import FIELD_SEP, portable_hash64

    labeled = df.where(F.col(label_col).isNotNull())
    grams = _filtered_word_grams(text_col, n)
    feed = F.concat_ws(FIELD_SEP, F.lit(str(seed)), F.col("__g"))
    feats = labeled.select(
        F.col(label_col).alias("label"), F.explode(grams).alias("__g")
    ).select("label", (portable_hash64(feed) % n_buckets).alias("bucket"))
    # lazy checkpoint: the (label, bucket) counts feed BOTH the per-label
    # totals and the weight-grid join — without it the corpus feature
    # explode runs once per consumer (the _normalized_freqs discipline)
    cnts = (
        feats.groupBy("label", "bucket")
        .agg(F.count(F.lit(1)).alias("__c"))
        .localCheckpoint(eager=False)
    )
    tots = cnts.groupBy("label").agg(F.sum("__c").alias("__tot"))
    space = df.sparkSession.range(n_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    weights = (
        tots.crossJoin(space)  # n_labels x n_buckets: the COMPLETE grid
        .join(F.broadcast(cnts), ["label", "bucket"], "left")
        .select(
            "label",
            "bucket",
            F.log(
                (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(smoothing))
                / (F.col("__tot") + F.lit(smoothing * n_buckets))
            ).alias("weight"),
        )
    )
    # priors without a blocking corpus pass: ln(c_label / N) with N as a
    # one-row broadcast scalar subquery (the tfidf/bm25 stats-row idiom)
    # instead of an eager labeled.count() — the per-label aggregation
    # subtree is shared, so the exchange is reused rather than the
    # corpus being scanned a second time, and train stays fully lazy.
    # IEEE-identical: both sides cast to double before the one division.
    doc_counts = labeled.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("__dc")
    )
    total = doc_counts.agg(F.sum("__dc").alias("__nd"))
    priors = (
        doc_counts.crossJoin(F.broadcast(total))
        .select(
            "label",
            F.log(
                F.col("__dc").cast("double") / F.col("__nd").cast("double")
            ).alias("ln_prior"),
        )
    )
    return weights, priors


def nb_classify(
    df: DataFrame,
    weights_df: DataFrame,
    priors_df: DataFrame,
    n_buckets: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    seed: int = 0,
) -> DataFrame:
    """(id, pred_label, score, n_features) — classify every document
    with a trained multi-class NB model (:func:`train_nb_class_weights`):
    per class, ``score = ln_prior + Σ_features ln p_class(b)``; the
    prediction is the argmax (ties break on the smaller label — fully
    deterministic). ``n``/``n_buckets``/``seed`` must match training.

    Scale shape: one explode into hashed features, ONE broadcast join
    against the n_labels x n_buckets weight grid (each feature row fans
    out to n_labels scored rows — the classic NB scoring cost; partial
    aggregation collapses them map-side before the (doc, label)
    exchange), a per-doc argmax via ``row_number`` over n_labels rows
    per doc (WindowGroupLimit; doc-keyed partitions, maximally spread),
    and the every-row guarantee: feature-free docs are classified by
    prior alone with n_features = 0."""
    from ratatool_spark.functions.hashing import FIELD_SEP, portable_hash64

    grams = _filtered_word_grams(text_col, n)
    feed = F.concat_ws(FIELD_SEP, F.lit(str(seed)), F.col("__g"))
    feats = df.select(
        F.col(id_col), F.explode(grams).alias("__g")
    ).select(F.col(id_col), (portable_hash64(feed) % n_buckets).alias("bucket"))
    w = weights_df.groupBy("label", "bucket").agg(
        F.avg("weight").alias("weight")
    )
    scored = (
        feats.join(F.broadcast(w), "bucket")
        .groupBy(id_col, "label")
        .agg(
            F.count(F.lit(1)).alias("__nf"),
            F.sum("weight").alias("__ll"),
        )
    )
    pri = priors_df.groupBy("label").agg(F.avg("ln_prior").alias("ln_prior"))
    full = (
        df.select(id_col)
        .crossJoin(F.broadcast(pri))
        .join(scored, [id_col, "label"], "left")
        .select(
            F.col(id_col),
            "label",
            (F.col("ln_prior") + F.coalesce("__ll", F.lit(0.0))).alias(
                "score"
            ),
            F.coalesce("__nf", F.lit(0)).alias("n_features"),
        )
    )
    from pyspark.sql import Window

    rank = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.desc("score"), F.col("label"))
    )
    return (
        full.withColumn("__rn", rank)
        .where(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col("label").alias("pred_label"),
            "score",
            "n_features",
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 50,
    max_occurrences: int = 1,
    scope: str = "corpus",
) -> DataFrame:
    """Exact duplicated-SPAN removal — the dedup tier between line dedup
    and full-document dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL'22: remove every substring of >=
    50 tokens that repeats in the corpus; their suffix-array pass
    restated as a distributed n-gram join): every word ``span_tokens``-
    gram occurring more than ``max_occurrences`` times (across the
    corpus, or within its own document with ``scope="document"``) marks
    its ``span_tokens`` positions for removal; overlapping duplicated
    grams merge into maximal spans by construction; documents reassemble
    from surviving tokens in order. ALL occurrences of a duplicated span
    are removed (the paper's semantics — the span is boilerplate, like
    the line-dedup rule).

    Adds ``n_tokens_removed``; ``text_col`` is replaced by the cleaned
    text. Every input row survives; NULL text stays NULL and sub-
    ``span_tokens`` docs pass through untouched (no gram to match). The
    null-vs-emptied distinction and the unique-``id_col`` contract match
    :func:`remove_duplicate_lines`.

    Shape (the line-dedup scale discipline, one gram wider): grams build
    zip-of-slices (no per-element re-tokenization) -> ONE count
    aggregation shuffled by gram -> only the VIOLATOR grams come back
    (boilerplate-sized; AQE broadcasts) -> the token-level removal mask
    is a per-doc ``max`` window over a ``span_tokens``-wide position
    RANGE (doc-sized partitions, no second corpus shuffle) -> ordered
    reassembly via array_sort over (pos, token) structs. A true
    suffix-array finds variable-length repeats in one pass; the fixed-L
    gram join finds exactly the same >= L-token repeats at DataFrame
    cost — repeats of m >= L tokens appear as m-L+1 overlapping violator
    grams that merge into the same maximal span."""
    if scope not in ("corpus", "document"):
        raise ValueError(f"scope must be 'corpus' or 'document', got {scope!r}")
    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    from pyspark.sql import Window

    ls = F.filter(tokens(F.col(text_col)), lambda x: F.length(x) > 0)
    toks = df.select(
        F.col(id_col), F.posexplode(ls).alias("__pos", "__tok")
    )
    grams = df.select(
        F.col(id_col),
        F.posexplode(_filtered_word_grams(text_col, span_tokens)).alias(
            "__gpos", "__g"
        ),
    )
    count_keys = ["__g"] if scope == "corpus" else [id_col, "__g"]
    violators = (
        grams.groupBy(*count_keys)
        .agg(F.count(F.lit(1)).alias("__gc"))
        .where(F.col("__gc") > max_occurrences)
        .select(*count_keys)
    )
    starts = (
        grams.join(violators, count_keys)
        .select(F.col(id_col), F.col("__gpos"))
        .distinct()
        .withColumn("__start", F.lit(1))
    )
    # token t is removed iff a duplicated gram STARTS in
    # [t - span_tokens + 1, t]: a max over a position-range window per
    # doc — overlapping grams merge into maximal spans for free
    w = (
        Window.partitionBy(id_col)
        .orderBy("__pos")
        .rangeBetween(-(span_tokens - 1), 0)
    )
    marked = (
        toks.join(
            starts,
            (toks[id_col] == starts[id_col])
            & (toks["__pos"] == starts["__gpos"]),
            "left",
        )
        .select(toks[id_col].alias(id_col), "__pos", "__tok", "__start")
        .withColumn("__rm", F.max(F.coalesce("__start", F.lit(0))).over(w))
    )
    kept = marked.groupBy(id_col).agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("__rm") == 0, F.struct(F.col("__pos"), F.col("__tok"))
                )
            )
        ).alias("__kept"),
        F.sum(F.col("__rm")).cast("long").alias("__nrm"),
        # fused duplicate-id guard (the remove_duplicate_lines pattern):
        # every doc contributes exactly one pos-0 token row, so >1 inside
        # a group means duplicate ids whose tokens would interleave
        F.count(F.when(F.col("__pos") == 0, F.lit(1))).alias("__n0"),
    )
    rebuilt = F.when(
        F.col("__n0") > 1,
        F.raise_error(
            F.concat(
                F.lit(
                    f"remove_duplicate_spans: {id_col!r} is not unique "
                    "(duplicate id: "
                ),
                F.col(id_col).cast("string"),
                F.lit(
                    "); duplicate ids would interleave unrelated rows' "
                    "tokens during reassembly"
                ),
            )
        ),
    ).otherwise(
        F.concat_ws(" ", F.transform(F.col("__kept"), lambda s: s["__tok"]))
    )
    cleaned = F.when(
        F.col(text_col).isNull(), F.lit(None).cast("string")
    ).otherwise(F.coalesce(rebuilt, F.lit("")))
    out_cols = [
        F.col(c) if c != text_col else cleaned.alias(text_col)
        for c in df.columns
    ]
    return df.join(kept, id_col, "left").select(
        *out_cols,
        F.coalesce(F.col("__nrm"), F.lit(0)).cast("long").alias(
            "n_tokens_removed"
        ),
    )


def save_classifier_model(
    path: str,
    weights_df: DataFrame,
    params: dict,
    priors_df: DataFrame | None = None,
    mode: str = "error",
) -> None:
    """Persist a trained hashed-feature classifier as a build-once /
    apply-many artifact (the save_signatures / build_ivf_index
    convention): the weight table (+ priors for the multi-class model)
    as parquet, plus a ``_model.json`` sidecar pinning the FEATURIZATION
    parameters (``n``, ``n_buckets``, ``seed``, ...). Scoring with
    mismatched featurization is the classifier foot-gun — the hash
    space silently changes and every score is garbage — so the loader
    echoes the params and the scoring helpers take them from the
    artifact, not from the caller."""
    import json

    from ratatool_spark.sources.shards import _join, _write_text

    spark = weights_df.sparkSession
    weights_df.write.mode(mode).parquet(_join(path, "weights"))
    if priors_df is not None:
        priors_df.write.mode(mode).parquet(_join(path, "priors"))
    meta = dict(params)
    meta["has_priors"] = priors_df is not None
    _write_text(spark, _join(path, "_model.json"), json.dumps(meta))


def load_classifier_model(
    spark, path: str
) -> tuple[DataFrame, DataFrame | None, dict]:
    """(weights_df, priors_df | None, params) — load a
    :func:`save_classifier_model` artifact. ``params`` carries the
    pinned featurization (n / n_buckets / seed); pass them through to
    :func:`quality_classifier_score` / :func:`nb_classify` rather than
    re-typing them."""
    import json

    from ratatool_spark.sources.shards import _join, _read_text

    params = json.loads(_read_text(spark, _join(path, "_model.json")))
    weights = spark.read.parquet(_join(path, "weights"))
    priors = (
        spark.read.parquet(_join(path, "priors"))
        if params.get("has_priors")
        else None
    )
    return weights, priors, params
