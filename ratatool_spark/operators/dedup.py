"""Deduplication operators for training-data pipelines.

Five strategies, expressed as DataFrame plans:

  - **exact**: fingerprint group-by — one shuffle on a 60-bit hash.
  - **minhash LSH**: shingle → k minhash sigs → band → bucket self-join.
    The self-join is on band hashes, so candidate generation is
    O(pairs-sharing-a-band), not O(n^2) — the standard scale path.
  - **simhash**: 32-bit sign-of-weighted-sum fingerprint; near-dup pairs by
    Hamming distance over bucketed prefixes.
  - **ngram jaccard**: exact Jaccard over shingle sets via an inverted
    index (shingle → posting list) — the verifier for minhash, and
    usable alone at moderate scale.
  - **embedding cosine**: near-dup by cosine over embedding vectors (see
    operators/similarity.py for the ANN machinery it shares).

The inverted-index pair operators (n-gram Jaccard, ROUGE-n, winnowing
fingerprints) share one candidate stage, :func:`_posting_pairs`: posting
lists → every i<j pair, enumerated by a vectorized numpy kernel inside
``mapInPandas`` (:func:`_pairs_kernel`) → ``groupBy(id_a, id_b).sum``.
Each operator keeps only its own index build and score. Python also runs
in the Bloom filter build/probe and the embedding GEMM blocks; everything
else is built-in expressions.

The MinHash operators (self and cross pairs, the persisted signature
tables and their queries, incremental and streaming dedup) share one
pipeline: :func:`_shingle_hashes` (explode word shingles → one 64-bit
hash each) → :func:`_signatures` (k universal-hash ``min`` aggregates in
one groupBy) → :func:`_band_pairs` (the equi-join on (band, band-hash),
then the matching-signature fraction ``est_jaccard``). Their exact
verify step is :func:`_shingle_sets` → :func:`_verified`.

At 100 TB the shape that matters: every strategy reduces to
(shuffle-by-small-key, aggregate) or (explode, shuffle-by-token, count) —
no cross joins except within LSH buckets, and bucket width is tunable.

Cached intermediates (minhash signatures, posting index, shingle sets,
simhash fingerprints) are tracked; long-lived sessions that call these
operators repeatedly should call :func:`unpersist_intermediates` after
materializing results — DataFrame cache entries are held by the session's
CacheManager and are NOT freed by driver GC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ratatool_spark.functions.hashing import portable_hash64, text_hash64
from ratatool_spark.functions.text import fingerprint, tokens, word_shingles
from ratatool_spark.functions.vectors import cosine_sim

# shared registry (ratatool_spark.cache) — re-exported here for backwards
# compatibility with callers using dedup.unpersist_intermediates()
from ratatool_spark.cache import (  # noqa: E402
    persist_tracked as _persist,
    unpersist_intermediates,
)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "portable",
) -> DataFrame:
    """Keep one representative (min id) per exact-content group. The winner
    choice is deterministic so re-runs are stable."""
    w = Window.partitionBy("__fp").orderBy(id_col)
    return (
        df.withColumn("__fp", fingerprint(F.col(text_col), hasher=hasher))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


# Universal-hash family over the Mersenne prime 2^31-1: sig_i(h) =
# (a_i * (h mod p) + b_i) mod p. One md5 per shingle total; the k minhash
# functions are 2 multiplies + 2 mods each — JVM-side integer math instead
# of k md5 passes (the difference is ~6x wall-clock on the bench corpus).
MINHASH_P = 2_147_483_647


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs, a_i != 0 — fixed constants so Spark
    and any SQL oracle agree."""
    out = []
    for i in range(num_hashes):
        a = (2_654_435_761 * (i + 1) + 104_729) % MINHASH_P or 1
        b = (40_503 * (i + 7) + 12_289) % MINHASH_P
        out.append((a, b))
    return out


def _shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int, hasher: str
) -> DataFrame:
    """(``id_col``, ``__h``): one row per doc shingle with its 64-bit
    string hash — the input of the MinHash signatures, the exact-Jaccard
    verify sets, the n-gram Jaccard index and SimHash."""
    return df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("__s"),
    ).select(F.col(id_col), text_hash64(F.col("__s"), hasher).alias("__h"))


def _signatures(sh: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(``id_col``, sig_0..sig_{k-1}) from a :func:`_shingle_hashes`
    frame: ``h mod p`` projected once, then k ``min`` aggregates of
    universal-hash permutations in a single groupBy."""
    # F.expr per signature, not nested F.* builders: each F.* call is a
    # py4j round-trip, so k sigs × ~8 builder calls dominate warm plan
    # CONSTRUCTION (the _adc_dist pathology; ~0.5 s at k=64). One SQL
    # string per sig parses JVM-side into the identical Catalyst tree —
    # int×bigint promotion and % match the Column operators exactly.
    aggs = [
        F.expr(f"min(({a} * __h + {b}) % {MINHASH_P}) AS sig_{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return (
        sh.select(F.col(id_col), (F.col("__h") % MINHASH_P).alias("__h"))
        .groupBy(id_col)
        .agg(*aggs)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    hasher: str = "portable",
) -> DataFrame:
    """(id, sig_0..sig_{k-1}): per-doc minhash signature. One explode over
    distinct shingles, one string hash per shingle (``hasher="xx"`` for
    the Spark-native fast path), then k ``min`` aggregates of
    universal-hash permutations in a single groupBy — the default is
    fully reproducible in any SQL engine."""
    sh = _shingle_hashes(df, text_col, id_col, shingle_n, hasher)
    return _signatures(sh, id_col, num_hashes)


def _banded(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Explode a signature frame into (id, sig_*, band, bh) LSH-band rows.

    ``bh`` hashes the band's signature slice; colliding (band, bh) keys
    are the LSH candidates of :func:`_band_pairs`."""
    rows_per_band = num_hashes // bands
    # one F.expr per band (not ~10 F.* py4j round-trips per band): the
    # SQL parses into the identical struct(band, portable-hash64) tree —
    # conv(substring(md5(concat_ws('|', casts)))) is exactly
    # functions.hashing.portable_hash64
    band_structs = []
    for b in range(bands):
        feed = ", ".join(
            f"CAST(sig_{i} AS STRING)"
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        band_structs.append(
            F.expr(
                f"struct({b} AS band, CAST(conv(substring("
                f"md5(concat_ws('|', {feed})), 1, 15), 16, 10) AS BIGINT)"
                f" AS bh)"
            )
        )
    return sigs.select(
        F.col(id_col),
        *[F.col(f"sig_{i}") for i in range(num_hashes)],
        F.explode(F.array(*band_structs)).alias("__b"),
    ).select(id_col, *[f"sig_{i}" for i in range(num_hashes)], "__b.band", "__b.bh")


def _band_pairs(
    ls: DataFrame,
    rs: DataFrame | None,
    id_col: str,
    num_hashes: int,
    bands: int,
    a: str,
    b: str,
    min_est_jaccard: float,
) -> DataFrame:
    """(``a``, ``b``, est_jaccard): banded LSH candidates between two
    signature frames — docs colliding on ≥1 (band, band-hash) key, with
    ``est_jaccard`` = the fraction of the k signatures that match, kept
    at ≥ ``min_est_jaccard`` when that is > 0. ``rs=None`` self-joins
    ``ls`` with ``l.id < r.id`` inside the join condition (each unordered
    pair once, no self pairs); otherwise ids may overlap between sides."""
    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")
    on = (F.col("l.band") == F.col("r.band")) & (F.col("l.bh") == F.col("r.bh"))
    if rs is None:
        # persist: the two self-join sides have different physical shapes
        # (broadcast vs probe), so without caching the whole
        # shingle→md5→k-min signature pipeline runs once per side.
        # n×(k+1) longs — tiny at any corpus scale, spills rather than OOMs.
        ls = _persist(ls)
        on = on & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    lb = _banded(ls, id_col, num_hashes, bands)
    rb = lb if rs is None else _banded(rs, id_col, num_hashes, bands)
    pairs = (
        lb.alias("l")
        .join(rb.alias("r"), on)
        .select(
            F.col(f"l.{id_col}").alias(a),
            F.col(f"r.{id_col}").alias(b),
            *[
                F.expr(f"CAST((l.sig_{i} = r.sig_{i}) AS INT) AS m_{i}")
                for i in range(num_hashes)
            ],
        )
        .distinct()
    )
    est = F.expr(
        "0 + " + " + ".join(f"m_{i}" for i in range(num_hashes))
    ) / F.lit(float(num_hashes))
    out = pairs.select(a, b, est.alias("est_jaccard"))
    if min_est_jaccard > 0:
        out = out.where(F.col("est_jaccard") >= min_est_jaccard)
    return out


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.0,
    hasher: str = "portable",
) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) via banded minhash LSH.

    bands × rows = num_hashes; docs colliding on ≥1 band hash are
    candidates; ``est_jaccard`` = matching-signature fraction. The
    self-join is on (band_index, band_hash) — each band is a tiny key, so
    this is shuffle-by-band-hash, never a cross join.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, hasher)
    return _band_pairs(
        sigs, None, id_col, num_hashes, bands, "id_a", "id_b", min_est_jaccard
    )


def minhash_lsh_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_est_jaccard: float = 0.0,
    hasher: str = "portable",
) -> DataFrame:
    """(left_id, right_id, est_jaccard) — banded minhash LSH candidates
    BETWEEN two corpora: the scalable fuzzy-decontamination shape
    (training corpus × benchmark suite). :func:`corpus.contamination`
    broadcasts the benchmark's exact shingle set — right-sized for a
    small eval suite; this operator is the path when the right side is
    itself corpus-sized (a held-out split, another vendor's crawl, a
    previous training run): both sides reduce to signatures
    (n × (k+1) longs), the join is an equi-join on (band, band-hash),
    and nothing is broadcast or driver-collected.

    Same signature/banding machinery as :func:`minhash_lsh_pairs`
    (identical constants, so estimates are comparable across the self-
    and cross- variants); no ``a < b`` constraint — ids live in
    different namespaces. Filter ``est_jaccard`` and anti-join the left
    corpus against the flagged ids to decontaminate."""
    ls = minhash_signatures(left, text_col, id_col, num_hashes, shingle_n, hasher)
    rs = minhash_signatures(right, text_col, id_col, num_hashes, shingle_n, hasher)
    return _band_pairs(
        ls, rs, id_col, num_hashes, bands, "left_id", "right_id", min_est_jaccard
    )


def _reject_duplicate_ids(
    df: DataFrame,
    id_col: str,
    op: str,
    why: str = "distinct docs sharing an id would merge into one "
    "combined-shingle signature; dedup the input first",
) -> None:
    """Raise when two rows of ``df`` share an id: by default, signatures
    group shingles by id, so distinct docs sharing one would silently
    merge into one combined-shingle signature. One id-count aggregate."""
    got = df.agg(
        F.count(F.col(id_col)).alias("n"),
        F.count_distinct(F.col(id_col)).alias("nd"),
    ).first()
    if got["nd"] < got["n"]:
        raise ValueError(
            f"{op}: {got['n'] - got['nd']} duplicate id row(s) in "
            f"{id_col!r} — {why}"
        )


def _write_signature_table(
    df: DataFrame, path: str, mode: str, op: str, sidecar: str, meta: dict,
    sort_keys: bool = False,
) -> None:
    """The signature-table writer of :func:`build_minhash_index` and
    :func:`save_signatures`: reject duplicate ids, write parquet rows
    (id, sig_0..sig_{k-1}) under ``meta``'s parameters, then the JSON
    ``sidecar`` holding ``meta``."""
    import json

    from ratatool_spark.sources.shards import _join, _write_text

    id_col = meta["id_col"]
    _reject_duplicate_ids(df, id_col, op)
    sigs = minhash_signatures(
        df, meta["text_col"], id_col, meta["num_hashes"], meta["shingle_n"],
        meta["hasher"],
    )
    sigs.write.mode(mode).parquet(path)
    text = json.dumps(meta, sort_keys=sort_keys)
    _write_text(df.sparkSession, _join(path, sidecar), text)


def build_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hasher: str = "portable",
    mode: str = "error",
) -> None:
    """Persist a corpus's minhash signatures as a reusable artifact —
    the build-once/query-many side of decontamination and incremental
    dedup: shingle+hash the reference corpus ONE time, then every new
    batch or candidate corpus joins against the stored (n × (k+1)-long)
    table without ever rescanning the reference text. Parquet rows
    (id, sig_0..sig_{k-1}) plus a ``_minhash.json`` sidecar pinning the
    parameters, so a query can never band differently than the build.
    Rows of ``df`` sharing an id raise ``ValueError``."""
    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")
    meta = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "hasher": hasher,
        "id_col": id_col,
        "text_col": text_col,
    }
    _write_signature_table(
        df, path, mode, "build_minhash_index", "_minhash.json", meta
    )


def _load_index_meta(spark, path: str) -> dict:
    """The ``_minhash.json`` sidecar of the index at ``path``."""
    import json

    from ratatool_spark.sources.shards import _join, _read_text

    return json.loads(_read_text(spark, _join(path, "_minhash.json")))


def update_minhash_index(spark, path: str, new_docs: DataFrame) -> dict:
    """Append new documents' signatures to a persisted minhash index
    under the BUILD-TIME parameters (the ``_minhash.json`` sidecar — an
    update cannot shingle or band differently than the build). Fused
    duplicate-id guard: existing-id ∩ new-id rides the appended rows
    through a broadcast + in-plan ``raise_error`` (no separate count
    job); the stored index is scanned id-column-only. Ids duplicated
    WITHIN ``new_docs`` are rejected up front too — ``minhash_signatures``
    groups shingles by id, so two distinct docs sharing an id would
    otherwise silently collapse into one bogus combined-shingle
    signature. ``update(A); update(B)`` is row-identical to one build
    over the union — pinned by the ``minhash_index_incremental`` gate."""
    meta = _load_index_meta(spark, path)
    id_col = meta["id_col"]
    _reject_duplicate_ids(new_docs, id_col, "update_minhash_index")
    sigs = minhash_signatures(
        new_docs,
        meta["text_col"],
        id_col,
        meta["num_hashes"],
        meta["shingle_n"],
        meta["hasher"],
    )
    new_ids = sigs.select(id_col).distinct()
    dups = (
        spark.read.parquet(path)
        .select(id_col)
        .join(new_ids.hint("broadcast"), id_col)
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    guard = F.when(
        F.col("__dup").isNotNull(),
        F.raise_error(
            F.concat(
                F.lit("update_minhash_index: id already indexed: "),
                F.col(id_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col("sig_0"))
    guarded = sigs.join(dups.hint("broadcast"), id_col, "left").select(
        id_col,
        guard.alias("sig_0"),
        *[f"sig_{i}" for i in range(1, meta["num_hashes"])],
    )
    guarded = guarded.persist()
    try:
        n = guarded.count()
        guarded.write.mode("append").parquet(path)
    finally:
        guarded.unpersist()
    return {"n_added": n}


def query_minhash_index(
    spark,
    queries: DataFrame,
    path: str,
    min_est_jaccard: float = 0.0,
) -> DataFrame:
    """(left_id, right_id, est_jaccard) — banded LSH candidates between a
    query corpus and a persisted minhash index: the query side shingles
    fresh under the sidecar parameters; the reference side is the stored
    signature table (the reference TEXT is never rescanned). Identical
    output to :func:`minhash_lsh_cross_pairs` over the original corpora."""
    meta = _load_index_meta(spark, path)
    k, id_col = meta["num_hashes"], meta["id_col"]
    qs = minhash_signatures(
        queries, meta["text_col"], id_col, k, meta["shingle_n"], meta["hasher"]
    )
    return _band_pairs(
        qs, spark.read.parquet(path), id_col, k, meta["bands"],
        "left_id", "right_id", min_est_jaccard,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.1,
    hasher: str = "portable",
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard similarity pairs (a < b) over distinct word-n-gram
    sets: invert shingle → posting list, |A∩B| = the number of posting
    lists a pair shares (:func:`_posting_pairs`), |A|+|B| from per-doc
    counts, keep J ≥ threshold.

    Cost is Σ_shingle df(shingle)² — inverted-index join, the exact-verify
    companion to minhash. ``max_doc_freq`` is the skew guard for the df²
    term: shingles appearing in more than that many docs (stopword
    shingles — boilerplate headers, license blocks) are dropped from the
    index before pair generation, capping any posting list's contribution
    at max_doc_freq². It DEFAULTS ON (1000): one boilerplate shingle in a
    100 TB corpus otherwise collects a posting array of millions of ids —
    a single executor-killing row whose pair expansion is df²/2 pairs.
    Pass ``None`` only for small corpora where exactness on stopword
    shingles matters more than skew. Jaccard slightly *underestimates* on
    the affected pairs (per-doc sizes still count pruned shingles as
    non-shared), so it never promotes a pair across the threshold —
    pruning can only drop candidates, never invent them."""
    sh = _shingle_hashes(df, text_col, id_col, shingle_n, hasher).select(
        F.col(id_col).alias("id"), F.col("__h").alias("s")
    )
    # grouping on the 60-bit shingle hash instead of the shingle string:
    # same pairs (collisions are identical on both sides of any comparison
    # because the hash is deterministic), ~3x narrower shuffle.
    #
    # One inverted index (shingle → sorted posting list) through a single
    # exchange feeds BOTH the per-doc sizes and the pair counts — the text
    # is shingled exactly once, where a naive self-join + sizes branch
    # re-evaluates the (expensive) shingling per branch. The shuffle
    # carries one row per shingle, not one per posting.
    posting = F.array_sort(F.collect_list("id"))
    # persist both intermediates: `grouped` feeds the pair branch AND the
    # sizes branch, and `sizes` is broadcast twice (na, nb) — unpersisted,
    # the shingle→md5→collect_list pipeline evaluates up to 4× (measured
    # 6 parquet scans in the physical plan). The posting index is one row
    # per distinct shingle (≤ corpus token count), sizes one row per doc.
    grouped = _persist(sh.groupBy("s").agg(posting.alias("ids")))
    sizes = _persist(
        grouped.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # sizes come from the unpruned index, so the max_doc_freq prune only
    # removes intersection evidence (conservative)
    common = _posting_pairs(grouped, max_doc_freq, counted=False)
    jaccard = F.col("m") / (F.col("na") + F.col("nb") - F.col("m")).cast("double")
    return _scored_pairs(common, sizes, "jaccard", jaccard, threshold)


def rouge_ngram_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.35,
    hasher: str = "portable",
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """ROUGE-n F1 similarity pairs (a < b) over word n-gram MULTISETS —
    the overlap criterion instruction-tuning pipelines use to filter
    near-duplicate prompts (Self-Instruct keeps a candidate only when
    its ROUGE overlap with the pool stays low; ROUGE itself is Lin
    2004). Clipped-count form: clip = Σ_g min(c_a(g), c_b(g)),
    F1 = 2·clip / (|A| + |B|) where |·| counts every occurrence — the
    multiset sibling of :func:`ngram_jaccard_pairs` (sets there, counts
    here; the min() clipping is what stops a phrase repeated 50× in one
    doc from matching a single occurrence 50 times).

    Same scale shape as the Jaccard index: ONE exchange builds the
    inverted index (gram → posting list of (id, count) structs), pairs
    come from :func:`_posting_pairs` carrying min(c_i, c_j), and
    ``max_doc_freq`` caps any posting list's df² contribution
    (clipping only loses intersection evidence for pruned grams, so a
    pruned pair can only score lower — never promoted past the
    threshold). Returns (id_a, id_b, rouge_f)."""
    from ratatool_spark.functions.text import word_ngrams

    gr = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("__g"),
    ).select("id", text_hash64(F.col("__g"), hasher).alias("g"))
    counts = gr.groupBy("g", "id").agg(F.count(F.lit(1)).alias("c"))
    posting = F.array_sort(
        F.collect_list(F.struct(F.col("id"), F.col("c"))))
    # persisted for the same reason as the Jaccard index: the posting
    # table feeds both the sizes branch and the pair branch
    grouped = _persist(counts.groupBy("g").agg(posting.alias("ids")))
    sizes = _persist(
        grouped.select(F.explode("ids").alias("e"))
        .groupBy(F.col("e.id").alias("id"))
        .agg(F.sum("e.c").alias("n"))
    )
    clip = _posting_pairs(grouped, max_doc_freq, counted=True)
    rouge_f = F.lit(2) * F.col("m") / (F.col("na") + F.col("nb")).cast("double")
    return _scored_pairs(clip, sizes, "rouge_f", rouge_f, threshold)


def _posting_pairs(
    grouped: DataFrame, max_doc_freq: int | None, counted: bool
) -> DataFrame:
    """(id_a, id_b, m): the candidate stage shared by the inverted-index
    pair operators. ``grouped`` holds one posting list per term in
    column ``ids``; every i<j pair of a list is emitted by
    :func:`_pairs_kernel` and m is summed over the lists the pair
    shares. Lists shorter than 2 yield no pair; lists longer than
    ``max_doc_freq`` (the df² skew guard, skipped when ``None``) are
    dropped before enumeration."""
    src = grouped.where(F.size("ids") >= 2)
    if max_doc_freq is not None:
        src = src.where(F.size("ids") <= max_doc_freq)
    return (
        _pairs_kernel(src, counted)
        .groupBy("id_a", "id_b")
        .agg(F.sum("m").alias("m"))
    )


def _scored_pairs(
    pairs: DataFrame, sizes: DataFrame, name: str, score: Column,
    threshold: float,
) -> DataFrame:
    """Broadcast-join the per-doc sizes ``(id, n)`` onto both ends of
    ``pairs`` as ``na``/``nb``, then keep (id_a, id_b, ``name``) rows
    where ``score`` — an expression over ``m``, ``na`` and ``nb`` — is
    ≥ threshold."""
    scored = (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("n", "na")),
            F.col("id_a") == F.col("id"))
        .drop("id")
        .join(
            F.broadcast(sizes.withColumnRenamed("n", "nb")),
            F.col("id_b") == F.col("id"))
        .drop("id")
        .select("id_a", "id_b", score.alias(name))
    )
    return scored.where(F.col(name) >= threshold)


# Bounds for the pair-enumeration kernel. _TRI_CACHE_MAX caps the
# per-length triu_indices cache: an unbounded cache retains two int64
# arrays of C(L, 2) entries per distinct list length for the life of the
# task (up to GBs at max_doc_freq=1000 if most lengths occur); at 128 the
# worst case is Σ_{L≤128} 16·C(L,2) ≈ 5.6 MB. _FLUSH_PAIRS bounds both the
# cross-list pair buffer and, via _triu_blocks, the largest single gather —
# no posting list materializes its full C(df, 2) pair block at once (with
# max_doc_freq=None one 100k-df gram is 5e9 pairs ≈ 100+ GB otherwise).
_TRI_CACHE_MAX = 128
_FLUSH_PAIRS = 4_000_000


def _triu_blocks(length: int, budget: int):
    """Yield (iu, ju) int arrays covering every i<j index pair of a
    ``length``-entry list, each block at most ~``budget`` pairs (one
    i-row's j-range is further split when it alone exceeds the budget).
    Same pair multiset as ``np.triu_indices(length, 1)``, streamed.

    A split row's i-array is a view of one budget-sized buffer that is
    refilled for the next split row, so consume each block before
    advancing the generator."""
    import numpy as np

    i_buf = None
    s = 0
    while s < length - 1:
        c0 = length - 1 - s
        if c0 > budget:
            # a single i-row exceeds the budget: stream its j-range
            if i_buf is None:
                i_buf = np.empty(budget, dtype=np.int64)
            i_buf.fill(s)
            for j0 in range(s + 1, length, budget):
                j_arr = np.arange(j0, min(j0 + budget, length))
                yield i_buf[: len(j_arr)], j_arr
            s += 1
            continue
        e, acc = s, 0
        while e < length - 1:
            c = length - 1 - e
            if acc and acc + c > budget:
                break
            acc += c
            e += 1
        rows = np.arange(s, e)
        lens = length - 1 - rows
        iu = np.repeat(rows, lens)
        # j for the k-th pair of row i is (i+1) + (k - start_of_i's_run)
        run0 = np.repeat(np.cumsum(lens) - lens, lens)
        ju = np.repeat(rows + 1, lens) + (np.arange(lens.sum()) - run0)
        yield iu, ju
        s = e


def _pairs_kernel(pair_source: DataFrame, counted: bool) -> DataFrame:
    """i<j pair enumeration over posting lists, vectorized: one
    ``triu_indices`` gather per list (index pairs cached per list length
    up to ``_TRI_CACHE_MAX``; longer lists stream through
    :func:`_triu_blocks` so no single list materializes C(df, 2) pairs
    at once), buffered to ~``_FLUSH_PAIRS`` pairs, partially aggregated
    with a pandas groupby before crossing Arrow — the caller's
    ``groupBy(id_a, id_b).sum(m)`` finishes the integer sums
    (``counted=True``: lists are (id, c) structs and m = min(c_i, c_j),
    the ROUGE clip; ``counted=False``: lists are bare ids and m ≡ 1, so
    sum(m) = the pair count the set-based callers aggregate). The
    interpreted nested-``transform`` expression enumerates the same
    multiset at ~µs/pair; tests keep it as the reference. Posting
    lists are round-robined across the cluster first: the posting table
    is #grams rows (metadata-scale — the repartition shuffle is tiny)
    but carries Σ df² pair work, which AQE's size-based coalescing would
    otherwise pack onto one task."""
    import numpy as np
    import pandas as pd

    id_field = pair_source.schema["ids"].dataType.elementType
    if counted:
        id_field = id_field["id"].dataType
    id_type = id_field.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, m long"

    def gen(batches):
        tri: dict[int, tuple] = {}
        bufs: list[tuple] = []
        pending = 0

        def flush() -> pd.DataFrame:
            a = np.concatenate([t[0] for t in bufs])
            b = np.concatenate([t[1] for t in bufs])
            m = np.concatenate([t[2] for t in bufs])
            pdf = pd.DataFrame({"id_a": a, "id_b": b, "m": m})
            # dropna=False: NULL doc ids must survive the partial
            # aggregation exactly as Spark's groupBy keeps them (pandas
            # drops NaN group keys by default)
            return pdf.groupby(
                ["id_a", "id_b"], as_index=False, sort=False, dropna=False
            )["m"].sum()

        for pdf in batches:
            for lst in pdf["ids"]:
                length = len(lst)
                if length < 2:
                    continue
                if counted:
                    ids_arr = np.asarray([e["id"] for e in lst])
                    cs = np.asarray([e["c"] for e in lst], dtype=np.int64)
                else:
                    ids_arr = np.asarray(list(lst))
                    cs = None
                if length <= _TRI_CACHE_MAX:
                    if length not in tri:
                        tri[length] = np.triu_indices(length, 1)
                    blocks = (tri[length],)
                else:
                    blocks = _triu_blocks(length, _FLUSH_PAIRS)
                for iu, ju in blocks:
                    mv = (
                        np.minimum(cs[iu], cs[ju])
                        if cs is not None
                        else np.ones(len(iu), dtype=np.int64)
                    )
                    bufs.append((ids_arr[iu], ids_arr[ju], mv))
                    pending += len(iu)
                    if pending >= _FLUSH_PAIRS:
                        yield flush()
                        bufs, pending = [], 0
        if bufs:
            yield flush()

    sc = pair_source.sparkSession.sparkContext
    n_parts = max(sc.defaultParallelism, 1)
    return (
        pair_source.select("ids")
        .repartition(n_parts)
        .mapInPandas(gen, schema=out_schema)
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    hasher: str = "portable",
) -> DataFrame:
    """Exact Jaccard for an explicit candidate-pair list — the verify stage
    after LSH. Returns (id_a, id_b, jaccard).

    Unlike ngram_jaccard_pairs (inverted index over ALL pairs sharing a
    shingle), this shingles each doc once into a distinct-hash set and
    joins the sets onto the candidates — cost O(|candidates|·doc_len), so
    at 100 TB the quadratic term is confined to whatever LSH emitted.
    Set size is bounded by document length, so rows stay executor-sized."""
    sh = _shingle_hashes(df, text_col, id_col, shingle_n, hasher)
    # persisted: joined twice (a and b side of every candidate pair)
    sets = _persist(_shingle_sets(sh, id_col))
    return _verified(pairs.select("id_a", "id_b"), "id_a", "id_b", sets, sets)


def _shingle_sets(
    sh: DataFrame, id_col: str, ids: DataFrame | None = None
) -> DataFrame:
    """(id, ss): each doc's distinct shingle-hash set from a
    :func:`_shingle_hashes` frame — only the docs in ``ids`` (a left-semi
    join before the aggregate) when given."""
    if ids is not None:
        sh = sh.join(ids, id_col, "left_semi")
    return (
        sh.select(F.col(id_col).alias("id"), F.col("__h").alias("s"))
        .groupBy("id")
        .agg(F.collect_set("s").alias("ss"))
    )


def _verified(
    pairs: DataFrame, a: str, b: str, sets_a: DataFrame, sets_b: DataFrame,
    *keep: str,
) -> DataFrame:
    """(``a``, ``b``, ``*keep``, jaccard): exact Jaccard of each candidate
    pair, from the :func:`_shingle_sets` of its ``a`` and ``b`` docs."""
    inter = F.size(F.array_intersect(F.col("a.ss"), F.col("b.ss")))
    union = F.size(F.col("a.ss")) + F.size(F.col("b.ss")) - inter
    return (
        pairs.join(sets_a.alias("a"), F.col(a) == F.col("a.id"))
        .join(sets_b.alias("b"), F.col(b) == F.col("b.id"))
        .select(a, b, *keep, (inter / union.cast("double")).alias("jaccard"))
    )


def save_signatures(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    hasher: str = "portable",
    mode: str = "error",
) -> dict:
    """Persist the corpus minhash signature table — the production
    at-rest artifact that makes per-batch incremental dedup cost
    independent of corpus size (the corpus is shingled ONCE here, not
    once per arriving batch). Writes parquet (id, sig_0..sig_{k-1}) plus
    a ``_signatures.json`` sidecar pinning (num_hashes, shingle_n,
    hasher, text/id cols) so a mismatched reuse fails loudly instead of
    silently degrading recall. Rows of ``df`` sharing an id raise
    ``ValueError``. Returns the meta dict."""
    meta = {
        "num_hashes": num_hashes,
        "shingle_n": shingle_n,
        "hasher": hasher,
        "text_col": text_col,
        "id_col": id_col,
    }
    _write_signature_table(
        df, path, mode, "save_signatures", "_signatures.json", meta,
        sort_keys=True,
    )
    return meta


def load_signatures(spark, path: str) -> tuple[DataFrame, dict]:
    """Read a :func:`save_signatures` table + its parameter sidecar."""
    import json

    from ratatool_spark.sources.shards import _join, _read_text

    meta = json.loads(_read_text(spark, _join(path, "_signatures.json")))
    return spark.read.parquet(path), meta


def dedup_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.0,
    hasher: str = "portable",
    verify: bool = True,
    corpus_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup: candidate/verified matches of a NEW batch
    against an EXISTING corpus — "is this crawl shard already in the
    training set?". Returns (``id_new``, ``id_corpus``, ``est_jaccard``
    [, ``jaccard`` when ``verify``]) with ``jaccard >= threshold``.

    Both sides get minhash signatures; the LSH join is banded
    *new × corpus* (shuffle by (band, band-hash), never all-pairs), so
    cost scales with the new batch, not the corpus. ``verify`` recomputes
    exact Jaccard on the candidates only (same envelope as
    :func:`jaccard_verify`). Ids may overlap between sides — sides are
    tracked positionally, never by id comparison.

    ``corpus_sigs`` is the production path: pass the precomputed
    signature table from :func:`save_signatures`/:func:`load_signatures`
    (same num_hashes/shingle_n/hasher — the sidecar pins them) and the
    corpus is NEVER re-shingled for candidate generation; the verify step
    then shingles only the candidate corpus docs (a semi-joined slice of
    ``corpus_df``), so total per-batch corpus cost is one signature-table
    scan plus |candidates| documents — independent of corpus size."""

    def shingled(df):
        # one shingle+hash pass per side, shared by the signature AND the
        # verify-set aggregations (the two heaviest subplans)
        return _persist(_shingle_hashes(df, text_col, id_col, shingle_n, hasher))

    sh_new = shingled(new_df)
    sigs_new = _persist(_signatures(sh_new, id_col, num_hashes))
    if corpus_sigs is not None:
        want = {f"sig_{i}" for i in range(num_hashes)} | {id_col}
        have = set(corpus_sigs.columns)
        if want - have:
            raise ValueError(
                f"corpus_sigs missing columns {sorted(want - have)} — was it "
                f"saved with a different num_hashes/id_col? (sidecar "
                f"_signatures.json pins the parameters)"
            )
        sh_corp = None  # verify shingles only the candidate slice below
        sigs_corp = corpus_sigs
    else:
        sh_corp = shingled(corpus_df)
        sigs_corp = _persist(_signatures(sh_corp, id_col, num_hashes))
    out = _band_pairs(
        sigs_new, sigs_corp, id_col, num_hashes, bands, "id_new", "id_corpus",
        0.0 if verify else threshold,
    )
    if not verify:
        return out
    # three consumers below (two id-projections + the final join) — persist
    # so the banded join runs once
    out = _persist(out)
    # semi-join to the candidate ids BEFORE aggregating: only LSH
    # candidates need verify sets — without this the corpus side would
    # shuffle its entire shingle stream into per-doc arrays, breaking the
    # "cost scales with the new batch" property
    ids_new = out.select(F.col("id_new").alias(id_col)).distinct()
    ids_corp = out.select(F.col("id_corpus").alias(id_col)).distinct()
    if sh_corp is None:
        # precomputed-signature path: shingle ONLY the candidate corpus
        # docs (a semi-joined slice) — the full corpus text is never read
        sh_corp = shingled(corpus_df.join(ids_corp, id_col, "left_semi"))
    sn = _shingle_sets(sh_new, id_col, ids_new)
    sc = _shingle_sets(sh_corp, id_col, ids_corp)
    verified = _verified(out, "id_new", "id_corpus", sn, sc, "est_jaccard")
    return verified.where(F.col("jaccard") >= threshold) if threshold > 0 else verified


class BloomFilter:
    """Immutable Bloom filter over 64-bit fingerprints (no false
    negatives; false-positive rate ≈ ``fpp`` at the sized ``n``).

    Bit positions use Kirsch–Mitzenmacher double hashing over the two
    halves of the (already md5-uniform) fingerprint: pos_i =
    (h1 + i*h2) mod m — k positions from zero additional hashing,
    vectorized in numpy at both build and probe time."""

    __slots__ = ("bits", "m", "k", "n")

    def __init__(self, bits: bytes, m: int, k: int, n: int) -> None:
        self.bits, self.m, self.k, self.n = bits, m, k, n

    @staticmethod
    def params(n: int, fpp: float) -> tuple[int, int]:
        import math

        n = max(n, 1)
        m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
        m = (m + 7) & ~7  # whole bytes
        k = max(1, round(m / n * math.log(2)))
        return m, k

    @staticmethod
    def _positions(fps, m: int, k: int):
        """(len(fps), k) int64 position matrix for 60-bit fingerprints."""
        import numpy as np

        v = np.asarray(fps, dtype=np.int64)
        h1 = v & 0xFFFFFFFF
        h2 = ((v >> 28) | 1) & 0x7FFFFFFF  # odd → walks all residues for m=2^j; well-spread otherwise
        i = np.arange(k, dtype=np.int64)
        return (h1[:, None] + i[None, :] * h2[:, None]) % m

    def contains_many(self, fps):
        """Vectorized membership over an int sequence → bool numpy array."""
        import numpy as np

        arr = np.frombuffer(self.bits, dtype=np.uint8)
        pos = self._positions(fps, self.m, self.k)
        got = (arr[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return got.all(axis=1)


def build_bloom(fps_df: DataFrame, fp_col: str = "__fp", fpp: float = 0.01) -> BloomFilter:
    """Distributed Bloom build over a fingerprint column: each partition
    folds its rows into one m-bit bitmap inside mapInPandas, the driver
    ORs the ≤ num_partitions partials streamed via toLocalIterator (two
    bitmaps in memory at any moment — never the data). One cheap count
    sizes (m, k).

    At 100 TB the corpus fingerprints are a precomputed compact table;
    the build cost is one scan of that table and the result is an
    executor-broadcastable byte string (1.2 MB per 1M keys at 1% fpp)."""
    import numpy as np

    n = fps_df.count()
    m, k = BloomFilter.params(n, fpp)

    from pyspark.sql import types as T

    out_schema = T.StructType([T.StructField("partial", T.BinaryType())])

    def fold(batches):
        import pandas as pd

        bitmap = np.zeros(m // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            any_rows = True
            pos = BloomFilter._positions(pdf[fp_col].to_numpy(), m, k).ravel()
            np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        if any_rows:
            yield pd.DataFrame({"partial": [bitmap.tobytes()]})

    acc = np.zeros(m // 8, dtype=np.uint8)
    for row in fps_df.select(F.col(fp_col)).mapInPandas(fold, out_schema).toLocalIterator():
        acc |= np.frombuffer(row["partial"], dtype=np.uint8)
    return BloomFilter(acc.tobytes(), m, k, n)


def bloom_contains(spark, bloom: BloomFilter, fp: Column) -> Column:
    """Boolean membership column for a LongType fingerprint expression.
    The bitmap ships once per executor as a SparkContext broadcast; the
    probe is numpy-vectorized over Arrow batches (no per-row Python)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    b = spark.sparkContext.broadcast((bloom.bits, bloom.m, bloom.k))

    def _probe(s):
        bits, m, k = b.value
        bf = BloomFilter(bits, m, k, 0)
        return pd.Series(bf.contains_many(s.to_numpy()))

    _probe.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(T.BooleanType())(_probe)(fp)


def exact_filter_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    cols: list[str],
    fpp: float = 0.01,
    use_bloom: bool = True,
) -> DataFrame:
    """EXACT incremental dedup: rows of ``new_df`` whose key ``cols`` have
    no exact match in ``corpus_df`` — without ever shuffling the corpus.

    The naive anti-join hash-shuffles BOTH sides; at 100 TB the corpus
    shuffle dominates everything. The Bloom path never shuffles anything
    wide:

      1. build a Bloom over corpus fingerprints (one corpus scan,
         byte-string result);
      2. bloom-test the new batch — rows failing the test are DEFINITELY
         absent (no false negatives): done, no join at all;
      3. the small bloom-positive remainder (true hits + ~fpp false
         positives) is verified exactly ON THE REAL KEY COLUMNS: its
         distinct key tuples broadcast into a corpus scan (semi-join, no
         corpus shuffle), the confirmed key set broadcasts back into an
         anti-join on the new batch.

    Total cost: 2 corpus scans + 1 new-batch scan + two broadcasts sized
    by the hit rate — vs a full corpus shuffle. The result is EXACT (the
    oracle is the plain NOT EXISTS anti-join): the fingerprint/Bloom only
    ROUTE — a hash collision or the null-skipping feed can only send an
    extra row through verification, never change the answer, because the
    final joins compare the actual columns with standard SQL equality
    (NULL keys never match, same as NOT EXISTS). ``use_bloom=False``
    falls back to the plain anti-join (right when the new batch is
    comparable in size to the corpus)."""
    fp = portable_hash64(
        F.concat_ws("\x01", *[F.col(c).cast("string") for c in cols])
    )
    if not use_bloom:
        return new_df.join(
            corpus_df.select(*[F.col(c) for c in cols]), cols, "left_anti"
        )
    spark = new_df.sparkSession
    bloom = build_bloom(corpus_df.select(fp.alias("__fp")), "__fp", fpp)
    tagged = _persist(
        new_df.withColumn(
            "__maybe", bloom_contains(spark, bloom, fp)
        )
    )
    positives = tagged.where(F.col("__maybe"))
    confirmed_keys = (
        corpus_df.select(*[F.col(c) for c in cols])
        .join(F.broadcast(positives.select(*cols).distinct()), cols, "left_semi")
        .distinct()
    )
    kept_positives = positives.join(
        F.broadcast(confirmed_keys), cols, "left_anti"
    )
    definite = tagged.where(~F.col("__maybe"))
    return definite.unionByName(kept_positives).drop("__maybe")


def filter_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """The keep-set: rows of ``new_df`` with no verified near-duplicate in
    ``corpus_df`` at ``jaccard >= threshold`` (left-anti join on the
    :func:`dedup_against` matches) — the batch that's safe to append."""
    id_col = kwargs.get("id_col", "doc_id")
    hits = dedup_against(
        new_df, corpus_df, threshold=threshold, **kwargs
    ).select(F.col("id_new").alias("__hit_id")).distinct()
    return new_df.join(
        hits, new_df[id_col] == F.col("__hit_id"), "left_anti"
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """(id, component) for every vertex in the pair list; component = min
    vertex id reachable through the undirected pair graph.

    Hash-min label propagation: each round every vertex takes the min of
    its own label and its neighbors' labels — one join + one groupBy per
    round, converging in O(graph diameter) rounds with an exact
    no-change stopping test. Duplicate-cluster graphs are near-cliques
    (diameter 1-2 from LSH banding), so this settles in 2-3 rounds; for
    adversarial long-path graphs swap in large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce"), which is
    O(log n) rounds of the same join shape. Labels are localCheckpointed
    per round so the plan doesn't grow with iteration count."""
    # Materialize the pair list once before the symmetric union — the two
    # union branches would otherwise each re-evaluate the (often expensive:
    # jaccard/LSH) upstream plan, and every propagation round re-reads edges.
    p = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint()
    edges = p.union(
        p.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    edges.persist()
    # Initial labels already carry round 1: component = min(self, neighbors).
    # The symmetric edge set lists every vertex as `u`, so this one groupBy
    # both enumerates vertices and performs the first propagation.
    labels = (
        edges.groupBy("u")
        .agg(F.least(F.first("u"), F.min("v")).alias("component"))
        .select(F.col("u").alias("id"), "component")
    ).localCheckpoint()
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("component").alias("nbr"))
        )
        # carry the previous label through the update so convergence is a
        # filter over the checkpointed rows — not an extra labels⋈labels
        # join job per round
        upd = (
            labels.join(nbr_min, labels["id"] == nbr_min["u"], "left")
            .select(
                F.col("id"),
                F.col("component").alias("__prev"),
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr"), F.col("component"))
                ).alias("component"),
            )
        ).localCheckpoint()
        changed = upd.where(F.col("component") < F.col("__prev")).limit(1).count()
        labels = upd.select("id", "component")
        if changed == 0:
            break
    edges.unpersist()
    return labels


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    hasher: str = "portable",
    score_col: str | None = None,
) -> DataFrame:
    """End-to-end near-duplicate removal — the composed 100 TB pipeline:
    minhash-LSH candidates → exact-Jaccard verify on candidates only →
    connected components over verified pairs → keep ONE doc per duplicate
    cluster. Returns the surviving rows of ``df`` unchanged.

    Survivor rule: min id by default; with ``score_col`` the cluster's
    best-scoring doc survives instead (max score, ties broken by min id) —
    the quality-aware variant a curation pipeline wants, so near-dedup
    keeps the cleanest copy rather than an arbitrary one. Either way the
    choice is deterministic, so re-runs are stable.

    Every stage is linear-ish: LSH confines the quadratic term to band
    collisions, verify touches only candidates, clustering joins only the
    verified pair graph (tiny relative to the corpus); the survivor pick
    is a window over that same tiny cluster frame."""
    cand = minhash_lsh_pairs(
        df, text_col, id_col, num_hashes, bands, shingle_n, hasher=hasher
    )
    verified = jaccard_verify(df, cand, text_col, id_col, shingle_n, hasher).where(
        F.col("jaccard") >= threshold
    )
    comp = connected_components(verified)
    if score_col is None:
        losers = comp.where(F.col("id") != F.col("component")).select("id")
        return df.join(losers, df[id_col] == losers["id"], "left_anti")
    members = comp.join(
        df.select(F.col(id_col).alias("id"), F.col(score_col).alias("__score")), "id"
    )
    w = Window.partitionBy("component").orderBy(F.desc("__score"), F.col("id"))
    losers = (
        members.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select("id")
    )
    return df.join(losers, df[id_col] == losers["id"], "left_anti")


def substring_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """(contained_id, container_id) pairs where one document's token
    sequence occurs verbatim (word-boundary-aligned) inside another's —
    the document-level analogue of suffix-array substring dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"), re-expressed as a distributed anchored inverted index.

    Soundness: if A's token sequence is a contiguous run of B's and A has
    ≥ ``shingle_len`` tokens, every ``shingle_len``-gram of A is also a
    ``shingle_len``-gram of B — so joining ONE anchor shingle per A
    against the full shingle index finds every such pair. The anchor is
    A's globally rarest shingle (min (doc-freq, shingle)), which bounds
    candidate fan-out at Σ df(anchor) instead of Σ df² — a document only
    becomes expensive if even its rarest 8-gram is corpus-common.
    Documents with fewer than ``shingle_len`` tokens are out of scope
    (their pseudo-shingles are not n-grams of their containers);
    filter/handle short docs with exact_dedup.

    At 100 TB: two shuffles on the shingle key (df count + index join),
    one shuffle on the id key to attach texts for the verify; the verify
    itself (``instr`` on ' '-joined tokens) touches candidates only.
    ``max_doc_freq`` caps the anchor df — a doc whose RAREST shingle is
    hotter than the cap is skipped (documented recall envelope, same
    convention as ngram_jaccard_pairs).
    """
    eligible = (
        df.where(F.size(tokens(F.col(text_col))) >= shingle_len)
        .select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), shingle_len)).alias("__s"),
        )
    )
    sh = _persist(eligible.distinct())
    dfreq = sh.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    anchors = (
        sh.join(dfreq, "__s")
        .groupBy(id_col)
        .agg(F.min(F.struct(F.col("__df"), F.col("__s"))).alias("__a"))
        .select(
            F.col(id_col).alias("a_id"),
            F.col("__a.__s").alias("__s"),
            F.col("__a.__df").alias("__adf"),
        )
    )
    if max_doc_freq is not None:
        anchors = anchors.where(F.col("__adf") <= max_doc_freq)
    cand = (
        anchors.join(sh.select(F.col(id_col).alias("b_id"), "__s"), "__s")
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    norm = df.select(
        F.col(id_col), F.concat_ws(" ", tokens(F.col(text_col))).alias("__t")
    )
    a = norm.select(F.col(id_col).alias("a_id"), F.col("__t").alias("__ta"))
    b = norm.select(F.col(id_col).alias("b_id"), F.col("__t").alias("__tb"))
    pad = lambda c: F.concat(F.lit(" "), c, F.lit(" "))  # noqa: E731
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .where(F.instr(pad(F.col("__tb")), pad(F.col("__ta"))) > 0)
        .where(
            (F.length("__ta") < F.length("__tb"))
            | ((F.col("__ta") == F.col("__tb")) & (F.col("a_id") > F.col("b_id")))
        )
        .select(
            F.col("a_id").alias("contained_id"), F.col("b_id").alias("container_id")
        )
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    shingle_n: int = 1,
    hasher: str = "portable",
) -> DataFrame:
    """(id, simhash): sign-of-sum fingerprint. Explode distinct shingles
    once; for each bit j, sum ±1 according to bit j of the shingle hash;
    fingerprint bit j = (sum > 0). ``bits`` aggregate expressions in one
    groupBy — entirely JVM-side."""
    sh = _shingle_hashes(df, text_col, id_col, shingle_n, hasher)
    # F.expr strings, not nested F.* builders: `bits` aggregates × ~9
    # py4j round-trips each dominated warm plan CONSTRUCTION (~2 s at
    # 64 bits — the _adc_dist pathology); the SQL parses JVM-side into
    # the identical CASE WHEN / shiftright / & trees
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(__h, {j}) & 1) = 1 THEN 1 ELSE -1 END)"
            f" AS b_{j}"
        )
        for j in range(bits)
    ]
    agg = sh.groupBy(id_col).agg(*bit_sums)
    fp = F.expr(
        "CAST(0 AS BIGINT) + "
        + " + ".join(
            f"CASE WHEN b_{j} > 0 THEN CAST({1 << j} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END"
            for j in range(bits)
        )
    )
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_block_layout(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(offset, width) for each of ``n_blocks`` contiguous chunks covering
    ``bits`` fingerprint bits, widths as even as possible (first blocks get
    the remainder bit). Shared with the SQL oracle twin so both engines
    block identically."""
    base, rem = divmod(bits, n_blocks)
    layout, off = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        layout.append((off, w))
        off += w
    return layout


def fingerprint_pairs(
    fp_df: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int,
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) — all pairs of rows whose ``bits``-wide
    integer fingerprints differ in at most ``max_hamming`` bits. The
    Manku/Jain/Sarma (WWW'07) blocked self-join shared by every Hamming
    family here (text simhash, perceptual image dhash): with
    ``max_hamming + 1`` contiguous chunks and at most ``max_hamming``
    differing bits, pigeonhole forces at least one chunk to match
    exactly — recall 1.0 by construction, candidates bounded by chunk
    collisions, never all pairs. Hamming via ``bit_count(xor)``.

    All chunks are exploded into one (kind, val) block table and matched
    in a single equi-self-join: the two sides are identical subplans, so
    the fingerprint pipeline runs once through one reused exchange (a
    union of per-chunk joins would shuffle it k times). Persist the
    fingerprint table BEFORE calling when its lineage is expensive
    (simhash_pairs does)."""
    n_blocks = max_hamming + 1
    if n_blocks > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_blocks} blocks but the "
            f"fingerprint has only {bits} bits"
        )
    s = fp_df.select(
        F.col(id_col).alias("id"), F.col(fp_col).alias("__fp")
    )
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("kind"),
                F.shiftright("__fp", off)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("val"),
            )
            for i, (off, w) in enumerate(simhash_block_layout(bits, n_blocks))
        ]
    )
    s = s.select("id", "__fp", F.explode(blocks).alias("b")).select(
        "id", "__fp", F.col("b.kind").alias("kind"), F.col("b.val").alias("val")
    )
    ham = F.bit_count(F.col("a.__fp").bitwiseXOR(F.col("b.__fp")))
    return (
        s.alias("a")
        .join(
            s.alias("b"),
            (F.col("a.kind") == F.col("b.kind"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    shingle_n: int = 1,
    hasher: str = "portable",
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance ≤ max_hamming — the
    text instantiation of :func:`fingerprint_pairs` (see there for the
    Manku blocked-join shape)."""
    # Persist the fingerprints before the self-join: the broadcast side's
    # subplan shape differs from the probe side's, so Catalyst can NOT
    # reuse the exchange and would run the whole shingle→md5→bit-sum
    # pipeline twice (measured 2× wall on the bench corpus). The cached
    # relation is n×(id, long) — tiny relative to the corpus at any scale,
    # and MEMORY_AND_DISK spills rather than OOMs.
    s = _persist(simhash(df, text_col, id_col, bits, shingle_n, hasher))
    return fingerprint_pairs(s, id_col, "simhash", bits, max_hamming)


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    min_cosine: float = 0.95,
    block_col: str | None = None,
    kernel: str = "blas",
    max_broadcast_bytes: int = 512 * 2**20,
    lsh_planes: int = 8,
    lsh_seed: int = 7,
    n_rows: int | None = None,
    dim: int | None = None,
    max_broadcast_rows: int | None = None,
) -> DataFrame:
    """Embedding near-duplicates: pairs with cosine ≥ min_cosine.

    Exact all-pairs is intrinsically O(n²) similarity evaluations; what
    matters is the constant and the distribution. Kernels:

      - ``kernel="blas"`` while the corpus matrix fits the byte budget
        (exact): broadcast the L2-normalized corpus matrix (the build
        side, like any broadcast join), then ``mapInPandas`` over row
        chunks computing ``chunk @ corpus.T`` with numpy — one BLAS GEMM
        per partition instead of per-pair higher-order-function
        evaluation (~100× on the bench corpus). Admission is a BYTE
        budget, not a row count, because the matrix is n·dim·8 bytes and
        LLM embeddings span 128–4096 dims: the kernel runs iff
        ``n_rows * dim * 8 <= max_broadcast_bytes`` (default 512 MiB ≈
        500k × 128-dim vectors, but only ~16k × 4096-dim) — the same
        build-side-fits-in-memory constraint as the reference's hashJoin
        strata table (ratatool-sampling/README.md:118-120).
      - past the budget the DEFAULT auto-switches to LSH blocking
        (random-hyperplane buckets from similarity.lsh_bucket) — the
        100 TB path: shuffle by bucket, quadratic only within buckets. At
        min_cosine ≥ 0.95 near-identical vectors land in the same bucket
        with high probability, but blocking is approximate: cross-bucket
        pairs are missed (lower recall, tunable via ``lsh_planes`` —
        fewer planes → bigger buckets → higher recall/cost). The corpus
        never goes to the driver.
      - ``block_col`` given: bring-your-own blocking (e.g. a shard or
        language column) with the within-block quadratic profile. With
        ``kernel="blas"`` each block runs as ONE per-block GEMM task
        (``applyInPandas``), so the memory envelope is the LARGEST
        single block — |block|·dim·8 bytes of vectors per task, with the
        similarity matrix chunked to ≲64 MB slices. A dominant block (a
        majority-language shard, a catch-all bucket) must fit one task's
        memory; when it can't, pass ``kernel="expr"`` to get the
        streaming expression self-join, which handles arbitrarily large
        blocks at per-pair expression cost.
      - ``kernel="expr"``: pure-expression self-join (per-block when
        ``block_col`` is set) — no per-task block envelope, the shuffle
        streams pairs.

    ``n_rows`` / ``dim``: corpus-size and vector-dimension hints for the
    kernel dispatch (from the caller or catalog stats). When omitted,
    ``n_rows`` falls back to a ``df.count()`` pre-scan and ``dim`` to a
    one-row probe — avoid both at scale by passing them.

    ``max_broadcast_rows``: deprecated row-count cap kept as an alias;
    when given it is enforced IN ADDITION to the byte budget (a corpus
    over either limit routes to LSH blocking).
    """
    if block_col is None and kernel == "blas":
        # Kernel dispatch needs the corpus size. Callers that know it (or
        # have catalog stats) pass n_rows and skip the pre-scan; a count()
        # here is the last resort only — at 100 TB an extra full pass just
        # to pick a kernel is a wasted job.
        if n_rows is None:
            n_rows = df.count()
        if dim is None:
            # One-row probe (LocalLimit(1) scan), not a full pass; still
            # an eager action — callers at scale should pass dim.
            probe = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).first()
            dim = int(probe["d"]) if probe is not None else 0
        fits_bytes = n_rows * dim * 8 <= max_broadcast_bytes
        fits_rows = max_broadcast_rows is None or n_rows <= max_broadcast_rows
        if fits_bytes and fits_rows:
            return _blas_all_pairs(df, vec_col, id_col, min_cosine)
        # Numpy bucketing + within-bucket GEMM, not expression LSH +
        # expression cosine: at 4096 dims both interpreted stages dominate
        # (8 plane dots + per-pair cosines ≈ 10⁹ lambda evals on the
        # PERF.md stress). The data must cross the Arrow boundary for the
        # per-bucket matmul anyway, so the hyperplane projection rides the
        # same crossing as one (rows × planes) matmul. Same deterministic
        # ±1 planes as similarity.lsh_bucket (shared _hyperplane_sign).
        # Measured 187 s → 29 s on the 17k × 4096 stress (the residue is
        # Arrow transfer + shuffle of the 531 MB corpus, not compute).
        blocked = _lsh_bucket_pandas(
            df, vec_col, id_col, num_planes=lsh_planes, seed=lsh_seed, dim=dim
        )
        return _block_gemm_pairs(blocked, "v", "id", "__rt_blk", min_cosine)
    if block_col is not None and kernel == "blas":
        return _block_gemm_pairs(df, vec_col, id_col, block_col, min_cosine)
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    s = df.select(*cols)
    cond = F.col("a.id") < F.col("b.id")
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    sim = cosine_sim(F.col("a.v"), F.col("b.v"))
    return (
        s.alias("a")
        .join(s.alias("b"), cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            sim.alias("cosine"),
        )
        .where(F.col("cosine") >= min_cosine)
    )


def _lsh_bucket_pandas(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_planes: int,
    seed: int,
    dim: int,
) -> DataFrame:
    """Random-hyperplane bucket ids via one Arrow-batched matmul
    (rows × planes) — the vectorized twin of similarity.lsh_bucket,
    using the identical deterministic ±1 planes (_hyperplane_sign) and
    the same strict ``proj > 0`` bit rule, so the S-curve recall
    accounting applies unchanged. Buckets can still diverge from the
    expression path within one ulp of zero (BLAS sums in a different
    order than the expression's sequential fold) — that shifts only
    which block a borderline vector lands in (blocking recall), never
    the correctness of emitted pairs. Emits (id, v, __rt_blk)."""
    import numpy as np
    import pandas as pd

    from ratatool_spark.operators.similarity import _hyperplane_sign

    signs = np.asarray(
        [
            [_hyperplane_sign(p, i, seed) for i in range(dim)]
            for p in range(num_planes)
        ],
        dtype=np.float64,
    )
    weights = 1 << np.arange(num_planes, dtype=np.int64)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    id_type = base.schema["id"].dataType.simpleString()
    v_type = base.schema["v"].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.asarray([list(v) for v in pdf["v"]], dtype=np.float64)
            proj = mat @ signs.T
            blk = ((proj > 0).astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame(
                {"id": pdf["id"], "v": pdf["v"], "__rt_blk": blk}
            )

    return base.mapInPandas(
        gen, schema=f"id {id_type}, v {v_type}, __rt_blk long"
    )


def _block_gemm_pairs(
    df: DataFrame, vec_col: str, id_col: str, block_col: str, min_cosine: float
) -> DataFrame:
    """Per-block exact GEMM pairs (the distributed sibling of
    :func:`_blas_all_pairs`): shuffle by block, then ONE normalized numpy
    matmul per block inside ``applyInPandas`` — chunked so the similarity
    matrix stays ≲64 MB per slice regardless of block size. Nothing goes
    to the driver; the envelope is the largest single block fitting one
    task (|block|·dim·8 bytes), which LSH blocking keeps ≈ n/2^planes.
    Within a block this is exact (same pairs as the expression self-join,
    ~100× faster at high dims). Emits (id_a, id_b, cosine), id_a < id_b."""
    import numpy as np
    import pandas as pd

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col(block_col).alias("blk"),
    )
    id_type = base.schema["id"].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    def gen(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        ids = pdf["id"].to_numpy()
        if n < 2:
            return pd.DataFrame(
                {"id_a": ids[:0], "id_b": ids[:0], "cosine": np.empty(0)}
            )
        mat = np.asarray([list(v) for v in pdf["v"]], dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0] = 1.0
        mat /= norms[:, None]
        a_parts, b_parts, c_parts = [], [], []
        step = max(1, 8_000_000 // n)
        for lo in range(0, n, step):
            sims = mat[lo : lo + step] @ mat.T
            ai, bi = np.nonzero(
                (sims >= min_cosine) & (ids[lo : lo + step, None] < ids[None, :])
            )
            if len(ai):
                a_parts.append(ids[lo + ai])
                b_parts.append(ids[bi])
                c_parts.append(sims[ai, bi])
        if not a_parts:
            return pd.DataFrame(
                {"id_a": ids[:0], "id_b": ids[:0], "cosine": np.empty(0)}
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(a_parts),
                "id_b": np.concatenate(b_parts),
                "cosine": np.concatenate(c_parts),
            }
        )

    return base.groupBy("blk").applyInPandas(gen, schema=out_schema)


def _blas_all_pairs(
    df: DataFrame, vec_col: str, id_col: str, min_cosine: float
) -> DataFrame:
    """Broadcast-GEMM exact all-pairs cosine (see embedding_neardup_pairs).

    The corpus is collected once to build the broadcast normalized matrix
    (exactly the build side of a broadcast join); the probe side streams
    through ``mapInPandas`` in Arrow batches, each doing one numpy matmul.
    Emits (id_a, id_b, cosine) with id_a < id_b."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    rows = base.collect()
    ids = np.asarray([r["id"] for r in rows])
    mat = np.asarray([list(r["v"]) for r in rows], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    norms[norms == 0] = 1.0
    bc = spark.sparkContext.broadcast((ids, mat / norms[:, None]))

    def gen(batches):
        all_ids, corpus = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            a_ids = pdf["id"].to_numpy()
            chunk = np.asarray([list(v) for v in pdf["v"]], dtype=np.float64)
            cn = np.sqrt((chunk * chunk).sum(axis=1))
            cn[cn == 0] = 1.0
            sims = (chunk / cn[:, None]) @ corpus.T
            ai, bi = np.nonzero(
                (sims >= min_cosine) & (a_ids[:, None] < all_ids[None, :])
            )
            if len(ai):
                yield pd.DataFrame(
                    {"id_a": a_ids[ai], "id_b": all_ids[bi], "cosine": sims[ai, bi]}
                )

    id_type = base.schema["id"].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    n_parts = max(spark.sparkContext.defaultParallelism, 1)
    return base.repartition(n_parts).mapInPandas(gen, schema=out_schema)


def tfidf_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Sparse TF-IDF cosine near-duplicate pairs — the bag-of-words twin
    of :func:`embedding_neardup_pairs` (no embedding model needed) and
    the weighted complement of :func:`ngram_jaccard_pairs`: Jaccard
    treats every shingle equally, TF-IDF down-weights ubiquitous terms,
    so template pages differing only in boilerplate separate cleanly.

    (id_a, id_b, cosine) for all pairs with cosine >= ``threshold``,
    where cosine is over L2-normalized tf·idf vectors, idf = ln(N/df).
    Terms appearing in every document get idf 0 and drop out of the
    similarity automatically — the idf form is its own boilerplate
    filter.

    Shape (all equi-joins, candidate-bound — never all-pairs):
      1. term frequencies: one (doc, term) aggregate off the exploded
         scan; document frequencies and the corpus size re-aggregate it.
      2. N joins in as a broadcast one-row scalar (the q11/q22 pattern).
      3. the pair enumeration is an inverted-index self-join on the term
         — cost is sum over terms of df(term)^2, with ``max_doc_freq``
         (default 1000) pruning hot terms exactly like
         ngram_jaccard_pairs: a term in >max_doc_freq docs contributes
         df^2 pairs but near-zero idf weight, so dropping it changes
         ranking negligibly and caps the join fan-out. Pass None only on
         corpora known to have no hot terms.
      4. one (id_a, id_b) sum-aggregate with map-side combine.

    At 100 TB: every stage shuffles on (doc) or (term) keys; the only
    skew risk is the term join, which max_doc_freq bounds by
    construction. Reference parity: BigDiffy's COSINE_DISTANCE field
    comparator (ratatool-diffy CosineDistance.scala) lifts to a
    corpus-level pairing here.
    """
    from ratatool_spark.functions.text import tokens

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(F.col(text_col))).alias("__tok"),
    ).where(F.length("__tok") > 0)
    tf = toks.groupBy("__id", "__tok").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    if max_doc_freq is not None:
        dfreq = dfreq.where(F.col("__df") <= max_doc_freq)
    n_docs = df.agg(F.count(F.lit(1)).alias("__n"))
    w = (
        tf.join(dfreq, "__tok")
        .join(F.broadcast(n_docs))
        .select(
            "__id",
            "__tok",
            (F.col("__tf") * F.log(F.col("__n") / F.col("__df"))).alias("__w"),
        )
    )
    norm = w.groupBy("__id").agg(F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__nrm"))
    # both sides of the self-join consume wn; without a persist each side
    # re-evaluates the whole tf->df->weight->norm chain (measured: 12 file
    # scans / 19 shuffles in the un-persisted plan) — the same
    # shared-subplan rule as the minhash/jaccard operators
    wn = _persist(
        w.join(norm, "__id")
        .where(F.col("__nrm") > 0)
        .select("__id", "__tok", (F.col("__w") / F.col("__nrm")).alias("__w"))
    )
    a = wn.select(
        F.col("__id").alias("id_a"), F.col("__tok"), F.col("__w").alias("__wa")
    )
    b = wn.select(
        F.col("__id").alias("id_b"), F.col("__tok"), F.col("__w").alias("__wb")
    )
    return (
        a.join(b, "__tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    emb_df: DataFrame,
    tau: float,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
    seed: int = 13,
    max_cell_size: int | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """(id, cell, centroid_cos, kept) — SemDeDup (Abbas et al.,
    arXiv:2303.09540): semantic deduplication over an embedding column.
    Vectors are clustered into ``n_centroids`` cells (seed-sampled
    centroids at ``train_iters=0`` — fully engine-replayable, this
    operator's oracle mode; Lloyd-trained via
    ``similarity.train_centroids`` beyond); near-duplicate candidates
    are enumerated ONLY within a cell (the paper's cost model: Σ|cell|²
    pairwise cosines instead of n²), and within each cell a vector is
    DROPPED when some near-duplicate (cosine ≥ tau) ranks below it by
    (centroid_cos, id) — keeping, per the paper, the duplicate farthest
    from its centroid (the most diverse representative). The greedy
    by-rank rule (rather than connected-components + argmin) makes the
    decision local to each pair, deterministic, and expressible as one
    self-join — a doc survives iff NO lower-ranked near-dup exists.

    Every input row appears in the output with a boolean ``kept``;
    filter ``kept`` for the surviving corpus. Scale shape: one
    assignment map over centroid literals (no shuffle), one cell-keyed
    self-join bounded by cluster sizes (pick n_centroids ~ n/target_cell
    for the Σ|cell|² envelope), no all-pairs anything.

    ``max_cell_size`` is the skew guard (the fuzzy-join discipline:
    blocking granularity IS the cost envelope): cells above the cap are
    EXCLUDED from pair enumeration — their members are all kept
    unexamined (the conservative failure: no false drops, some missed
    dups) instead of detonating a |cell|² join on a degenerate
    clustering. The cap converts adversarial skew into bounded work:
    Σ|cell|² ≤ max_cell_size · n. Rerun with more centroids (or trained
    ones) to actually examine an over-dense region."""
    from ratatool_spark.operators.similarity import (
        _centroids,
        _cos_scored_entries,
    )

    if not (0.0 < tau <= 1.0):
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    # centroids given: bring-your-own — the composition seam for
    # similarity.train_centroids_exact (bit-reproducible training →
    # engine-replayable dedup) or an externally-trained codebook
    if centroids is None:
        centroids = _centroids(emb_df, n_centroids, train_iters, vec_col, id_col, seed)
    # argmax-cosine assignment over centroid literals; ties break to the
    # SMALLEST cell id (the ivf oracle convention: cos DESC, cell ASC) —
    # struct sort on (c, -cell) reversed. Per-row fold count k+1, not 3k,
    # cosines bit-identical (similarity._cos_scored_entries).
    scored = _cos_scored_entries(
        vec_col,
        centroids,
        lambda c, cid: F.struct(
            c.alias("c"), F.lit(-cid).alias("nc"), F.lit(cid).alias("cell")
        ),
    )
    best = F.reverse(F.array_sort(scored))[0]
    assigned = _persist(
        emb_df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            best["c"].alias("centroid_cos"),
            best["cell"].alias("cell"),
        )
    )
    probe = assigned
    if max_cell_size is not None:
        oversized = (
            assigned.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("__cn"))
            .where(F.col("__cn") > max_cell_size)
            .select("cell")
        )
        probe = assigned.join(F.broadcast(oversized), "cell", "left_anti")
    lower_ranked = (F.col("b.centroid_cos") < F.col("a.centroid_cos")) | (
        (F.col("b.centroid_cos") == F.col("a.centroid_cos"))
        & (F.col("b.id") < F.col("a.id"))
    )
    dropped = (
        probe.alias("a")
        .join(
            probe.alias("b"),
            (F.col("a.cell") == F.col("b.cell")) & lower_ranked,
        )
        .where(cosine_sim(F.col("a.v"), F.col("b.v")) >= tau)
        .select(F.col("a.id").alias("id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cell",
            "centroid_cos",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )


def winnow_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_freq: int | None = 1000,
) -> DataFrame:
    """Shared-winnowing-fingerprint candidate pairs (a < b) — the MOSS
    pipeline (Schleimer et al. SIGMOD'03) distributed: winnow each
    document (functions/text.winnow_fingerprints — any shared run of
    ``k + window - 1`` words guarantees a shared fingerprint), invert the
    fingerprint index, count distinct shared fingerprints per pair.

    Output: (id_a, id_b, ``n_shared``). Positions are dropped here (the
    candidate set is what scales); re-join fingerprints on the surviving
    pairs for position-level span alignment.

    100 TB shape: identical discipline to :func:`ngram_jaccard_pairs` —
    ONE posting-list exchange feeds :func:`_posting_pairs`, winnowing
    keeps only ~1/window of gram hashes in the index, and
    ``max_fp_freq`` caps any posting's df² contribution (boilerplate
    fingerprints dropped BEFORE pair expansion). Never all-pairs."""
    from ratatool_spark.functions.text import winnow_fingerprints

    fps = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                winnow_fingerprints(F.col(text_col), k, window)
            ).alias("__f"),
        )
        .select("id", F.col("__f.fp").alias("fp"))
        .distinct()
    )
    # not persisted: the pair stage is the index's only consumer
    grouped = fps.groupBy("fp").agg(
        F.array_sort(F.collect_list("id")).alias("ids"))
    shared = _posting_pairs(grouped, max_fp_freq, counted=False)
    return shared.select(
        "id_a", "id_b", F.col("m").alias("n_shared")
    ).where(F.col("n_shared") >= min_shared)


def pair_recall_by_band(
    truth_pairs: DataFrame,
    candidate_pairs: DataFrame,
    sim_col: str = "jaccard",
    n_bands: int = 10,
    lsh_params: tuple[int, int] | None = None,
) -> DataFrame:
    """(band_lo, n_truth, n_hit, recall) — recall of a candidate pair
    set against an exact-similarity truth set, bucketed by the truth
    similarity: the measured **S-curve** of a banded-LSH configuration
    (recall should climb from ~(r·s^b)-ish at low similarity toward 1.0
    near the top band), the accounting that turns "LSH found the dups"
    into a parameter choice you can defend — the text-dedup twin of
    :func:`ratatool_spark.operators.similarity.topk_recall`.

    Pass ``lsh_params = (rows_per_band, bands)`` to add the THEORETICAL
    banded-LSH collision probability ``expected_recall = 1 − (1 − s^r)^b``
    at each band's midpoint similarity — measured-vs-theory side by side
    is the tuning view (measured below theory = estimator bias or shingle
    mismatch, above = correlated shingles).

    Both inputs are (id_a, id_b[, sim]) with id_a < id_b (every pair
    operator here emits that ordering); both sides deduplicate before
    the join so repeated pairs cannot inflate either count. Cost: one
    left join on the truth set (|truth| rows, never the corpus) + one
    band aggregate."""
    if n_bands < 1:
        raise ValueError(f"need n_bands >= 1, got {n_bands}")
    t = truth_pairs.select("id_a", "id_b", F.col(sim_col).alias("__s")).distinct()
    c = candidate_pairs.select("id_a", "id_b").distinct().withColumn(
        "__hit", F.lit(1)
    )
    band = F.least(
        F.floor(F.col("__s") * n_bands).cast("int"), F.lit(n_bands - 1)
    )
    out = (
        t.join(c, ["id_a", "id_b"], "left")
        .groupBy(band.alias("__b"))
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.count("__hit").alias("n_hit"),
            F.round(F.count("__hit") / F.count(F.lit(1)), 6).alias("recall"),
        )
        .select(
            F.round(F.col("__b").cast("double") / n_bands, 6).alias("band_lo"),
            "n_truth",
            "n_hit",
            "recall",
        )
    )
    if lsh_params is not None:
        rpb, nb = lsh_params
        out = _with_expected(out, n_bands, rpb, nb)
    return out


def _with_expected(ranked: DataFrame, n_bands: int, r: int, b: int) -> DataFrame:
    mid = F.col("band_lo") + F.lit(1.0 / (2 * n_bands))
    return ranked.withColumn(
        "expected_recall",
        F.round(1 - F.pow(1 - F.pow(mid, F.lit(r)), F.lit(b)), 6),
    )
