"""BM25 full-text retrieval over a document corpus.

Extension family (no spotify/ratatool counterpart): lexical top-k
retrieval — the text-side twin of the embedding ANN operators in
``operators/similarity.py`` — for RAG candidate generation and
text-based hard-negative mining over a training corpus.

Scoring is Lucene-style BM25 (Robertson/Sparck Jones probabilistic
relevance, the ``+1`` idf form that never goes negative)::

    idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)
    s(q, d) = sum_t qtf * idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

Plan shape (the 100 TB story):

* postings are built with ONE map-side-combined ``groupBy(doc_id, term)``
  — ``dl`` rides along from the tokenize projection, so document length
  never needs a second join against the fact table;
* term statistics (``df``) are a vocab-sized aggregate; the QUERY terms
  (small) are broadcast into it, and the tiny enriched result
  (one row per distinct query term, idf precomputed) is broadcast into
  the postings — the posting table itself is **never shuffled on term**,
  so stopword-skewed posting lists cannot create a hot task;
* per-term contributions are quantized to fixed-point micro-units
  (``round(contrib * 1e6) :: long``) and summed as exact integers, so
  the score is independent of float summation order (cross-engine /
  cross-run bit-stable); ties rank deterministically by ``doc_id``;
* the final rank is the SOLE window function (``row_number`` per
  query), which Spark rewrites to WindowGroupLimit per-task k-heaps.

``max_df`` optionally drops ultra-common terms from the index — at corpus
scale the posting list of a stopword is O(N) rows and contributes ~0
score (idf ≈ ln(1) for df ≈ N); capping it bounds the broadcast-join
fan-out per query term.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Fixed-point scale for per-term score contributions: micro-units keep
# the cross-engine ln() ULP wiggle (~1e-15 absolute) five orders of
# magnitude away from a rounding boundary while 6-decimal score output
# stays exact.
_SCALE = 1_000_000.0


def _terms(text: Column, lowercase: bool = True) -> Column:
    """Empty-filtered whitespace terms (optionally lowercased) — the
    repo's standard ``functions.text.tokens`` split with the empty
    tokens from runs of spaces removed."""
    t = F.lower(text) if lowercase else text
    return F.filter(F.split(F.trim(t), " "), lambda x: F.length(x) > 0)


def build_bm25_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(postings, dfreq, stats) for a BM25 index.

    ``postings``: (doc_id, dl, term, tf) — one map-side-combined
    aggregate; ``dl`` (document length) rides along from the tokenize
    projection. ``dfreq``: (term, dfreq) vocab-sized. ``stats``: ONE row
    (n_docs, total_dl). Empty/NULL-text documents are excluded from the
    index and from the corpus statistics.
    """
    base = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            _terms(F.col(text_col), lowercase).alias("__ls"),
        )
        .where(F.size("__ls") >= 1)
        .withColumn("dl", F.size("__ls"))
    )
    postings = (
        base.select("doc_id", "dl", F.explode("__ls").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    return postings, dfreq, stats


def _score_postings(
    postings: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    k: int,
    k1: float,
    b: float,
    query_id_col: str,
    query_text_col: str,
    lowercase: bool,
    max_df: int | None,
    broadcast_queries: bool = True,
) -> DataFrame:
    from pyspark.sql.window import Window

    def _bq(df):
        # the broadcast hint assumes a bounded query set; for a huge
        # query batch (tens of millions of query-term rows) pass
        # broadcast_queries=False and let AQE pick the term-shuffle join
        return F.broadcast(df) if broadcast_queries else df

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qt = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(_terms(F.col(query_text_col), lowercase)).alias("term"),
        )
        .groupBy("query_id", "term")
        .agg(F.count(F.lit(1)).alias("qtf"))
    )
    if max_df is not None:
        dfreq = dfreq.where(F.col("dfreq") <= max_df)
    # Query terms (small) broadcast into the vocab-sized df table, the
    # one-row stats broadcast on top: the enriched result is one row per
    # distinct (query, term) with idf precomputed.
    idf = F.log(
        (F.col("n_docs") - F.col("dfreq") + F.lit(0.5))
        / (F.col("dfreq") + F.lit(0.5))
        + F.lit(1.0)
    )
    enriched = (
        dfreq.join(_bq(qt), "term")
        .crossJoin(F.broadcast(stats))
        .select("term", "query_id", "qtf", "n_docs", "total_dl", idf.alias("idf"))
    )
    # Broadcast the enriched query terms into the postings: the posting
    # table is filtered+scored in place, never shuffled on term.
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0)
        - F.lit(b)
        + F.lit(b) * F.col("dl") * F.col("n_docs") / F.col("total_dl")
    )
    contrib = (
        F.col("idf") * (F.col("tf") * (F.lit(k1) + F.lit(1.0))) / norm
    ) * F.col("qtf")
    fx = F.round(contrib * F.lit(_SCALE), 0).cast("long")
    scored = (
        postings.join(_bq(enriched), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(fx).alias("score_fx"))
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy(F.desc("score_fx"), F.asc("doc_id"))
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            (F.col("score_fx").cast("double") / F.lit(_SCALE)).alias("score"),
            "rank",
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    lowercase: bool = True,
    max_df: int | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-k BM25 matches per query: (query_id, doc_id, score, rank).

    ``queries`` is a (small) table of raw query strings; it is tokenized
    with the same analyzer as the documents. Scores are exact
    fixed-point micro-unit sums (order-independent); ties break on
    ``doc_id`` so ranks are deterministic.
    """
    postings, dfreq, stats = build_bm25_postings(docs, id_col, text_col, lowercase)
    return _score_postings(
        postings, dfreq, stats, queries, k, k1, b,
        query_id_col, query_text_col, lowercase, max_df,
        broadcast_queries,
    )


def rrf_fuse(
    rankings: "list[DataFrame]",
    k_rrf: int = 60,
    topk: int | None = None,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al.) of N per-query rankings —
    the standard hybrid-retrieval combiner (e.g. BM25 lexical ranks +
    embedding ANN ranks): ``score(d) = sum_systems 1/(k_rrf + rank_s(d))``.

    Each input exposes (query_col, id_col, rank_col); rename upstream if
    a ranker uses different names (e.g. ANN's ``neighbor_id``).
    Contributions are quantized to exact nano-units
    (``round(1e9/(k+rank)) :: long``) before summing, so fused scores
    are order- and engine-independent; ties rank by id. Per-ranking
    candidate lists are top-k-bounded upstream, so the union + one
    map-side-combined aggregate is tiny relative to the corpora —
    fusion cost is O(queries · k · systems) regardless of corpus size.
    """
    from functools import reduce

    from pyspark.sql.window import Window

    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if k_rrf < 1:
        raise ValueError(f"k_rrf must be >= 1, got {k_rrf}")
    parts = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("doc_id"),
            F.round(
                F.lit(1.0e9) / (F.lit(k_rrf) + F.col(rank_col)), 0
            ).cast("long").alias("__fx"),
        )
        for r in rankings
    ]
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    fused = unioned.groupBy("query_id", "doc_id").agg(
        F.sum("__fx").alias("score_fx"),
        F.count(F.lit(1)).alias("n_systems"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_fx"), F.asc("doc_id")
    )
    out = fused.withColumn("rank", F.row_number().over(w))
    if topk is not None:
        out = out.where(F.col("rank") <= topk)
    return out.select(
        "query_id",
        "doc_id",
        (F.col("score_fx").cast("double") / F.lit(1.0e9)).alias("rrf_score"),
        "n_systems",
        "rank",
    )


def rbo_overlap(
    a: DataFrame,
    b: DataFrame,
    p: float = 0.9,
    depth: int = 10,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Rank-biased overlap (Webber et al. TOIS'10), prefix-truncated at
    ``depth``: per-query agreement of two top-k rankings,
    ``RBO@d = (1-p) * sum_{i=1..d} p^(i-1) * |A_:i ∩ B_:i| / i`` —
    the ranking-vs-ranking companion to ``topk_recall`` (set-vs-set),
    e.g. "how much did adding the vector retriever change the order".

    Distributed-exact without a per-depth loop: an id in both prefixes
    first counts at depth ``m = max(rank_a, rank_b)``, so its total
    contribution is ``(1-p) * sum_{i=m..d} p^(i-1)/i`` — ONE inner join
    on (query, id) plus a per-row sequence fold, quantized to nano-unit
    longs so the per-query sum is order- and engine-independent.
    Queries with zero overlap report rbo = 0.0. Duplicate (query, id)
    rows collapse to their best rank before joining.

    100 TB shape: rankings are top-k-bounded upstream, so both sides are
    O(queries * k); one equi-join + two tiny aggregates."""
    if not 0.0 < p < 1.0:
        raise ValueError(f"p must be in (0, 1), got {p}")
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")

    def _side(r: DataFrame, alias: str) -> DataFrame:
        return (
            r.where(F.col(rank_col) <= depth)
            .groupBy(
                F.col(query_col).alias("query_id"),
                F.col(id_col).alias("doc_id"),
            )
            .agg(F.min(rank_col).alias(alias))
        )

    j = _side(a, "__ra").join(_side(b, "__rb"), ["query_id", "doc_id"])
    m = F.greatest(F.col("__ra"), F.col("__rb"))
    tail = F.aggregate(
        F.sequence(m, F.lit(depth)),
        F.lit(0.0),
        lambda acc, i: acc + F.pow(F.lit(p), i - 1) / i,
    )
    fx = F.round(
        (F.lit(1.0) - F.lit(p)) * tail * F.lit(1.0e9), 0
    ).cast("long")
    per = j.groupBy("query_id").agg(F.sum(fx).alias("__fx"))
    queries = (
        a.select(F.col(query_col).alias("query_id"))
        .unionByName(b.select(F.col(query_col).alias("query_id")))
        .distinct()
    )
    return queries.join(per, "query_id", "left").select(
        "query_id",
        (
            F.coalesce(F.col("__fx"), F.lit(0)).cast("double")
            / F.lit(1.0e9)
        ).alias("rbo"),
    )


def save_bm25_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> dict:
    """Persist a build-once/query-many BM25 index: ``postings/`` and
    ``dfreq/`` parquet plus a ``stats.json`` sidecar carrying the corpus
    statistics AND the analyzer parameter, so a query-time mismatch
    (different lowercase setting than the build) is impossible rather
    than silently wrong — same sidecar pattern as the classifier model
    artifacts (``operators/corpus.py``).

    The corpus is tokenized exactly ONCE (r12): ``dfreq`` and the stats
    sidecar are derived from the freshly WRITTEN postings parquet, not
    from their original plans — as separate actions those re-ran the
    tokenize + posting shuffle per output (three full corpus passes).
    Exactness: postings hold one row per (doc_id, term) with ``dl``
    riding every row, so ``count by term`` = dfreq and the per-doc_id
    aggregate = (n_docs, total_dl), integer-identical to the
    single-pass values.

    Raises ``ValueError`` when ``docs`` holds more than one row for a
    ``doc_id`` (the stats would silently count it wrong). The guard rides
    the same stats aggregate: a document's term counts sum to its
    length, so a per-id ``sum(tf) != dl`` means two rows shared the id.
    No postings are left at ``path`` when it fires."""
    postings, _, _ = build_bm25_postings(docs, id_col, text_col, lowercase)
    post_path = os.path.join(path, "postings")
    postings.write.mode("overwrite").parquet(post_path)
    stored = docs.sparkSession.read.parquet(post_path)
    row = (
        stored.groupBy("doc_id")
        .agg(F.max("dl").alias("dl"), F.sum("tf").alias("__len"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_dl"),
            F.count(F.when(F.col("__len") != F.col("dl"), 1)).alias("n_dup"),
        )
        .collect()[0]
    )
    if row["n_dup"]:
        shutil.rmtree(post_path, ignore_errors=True)
        raise ValueError(
            f"save_bm25_index: {row['n_dup']} doc_id value(s) appear in more "
            "than one input row; BM25 stats need one row per document"
        )
    stored.groupBy("term").agg(F.count(F.lit(1)).alias("dfreq")).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "dfreq"))
    side = {
        "n_docs": row["n_docs"],
        "total_dl": int(row["total_dl"]),
        "lowercase": lowercase,
        "format_version": 1,
    }
    with open(os.path.join(path, "stats.json"), "w") as fh:
        json.dump(side, fh)
    return side


def update_bm25_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Incrementally add documents to a persisted BM25 index (see
    :func:`save_bm25_index`) without re-tokenizing the existing corpus.

    * new postings/df/stats come from one pass over ``new_docs`` only;
    * the stored postings are scanned EXACTLY once: the duplicate-id
      guard rides the ``tf`` payload column of that same scan (a
      left join against the broadcast new-id set + ``raise_error`` —
      fused, not a separate count action), so an id that is already
      indexed fails the write rather than double-counting;
    * ``df`` is merged vocab-to-vocab (full-outer on term, counts
      added) — the big posting table is never re-aggregated;
    * the analyzer setting comes from the stored sidecar, so the update
      cannot tokenize differently than the build;
    * the rewrite lands in a tmp dir and is swapped in with the same
      two-rename + orphan-recovery protocol as ``sources.io.upsert_table``
      (a crash between the renames leaves the only snapshot at
      ``<path>.__old__``; the next call restores it).
    """
    jvm = spark.sparkContext._jvm
    conf = spark._jsc.hadoopConfiguration()
    p_final = jvm.org.apache.hadoop.fs.Path(path)
    fs = p_final.getFileSystem(conf)
    p_tmp = jvm.org.apache.hadoop.fs.Path(path + ".__update_tmp__")
    p_old = jvm.org.apache.hadoop.fs.Path(path + ".__old__")
    # orphan recovery BEFORE touching the sidecar: a crash between the
    # two renames left the only snapshot at p_old
    if fs.exists(p_old):
        if not fs.exists(p_final):
            if not fs.rename(p_old, p_final):
                raise IOError(f"could not restore orphaned index at {path}")
        else:
            fs.delete(p_old, True)
    fs.delete(p_tmp, True)

    with open(os.path.join(path, "stats.json")) as fh:
        side = json.load(fh)
    lowercase = bool(side["lowercase"])
    new_post, new_dfreq, _ = build_bm25_postings(
        new_docs, id_col, text_col, lowercase
    )
    new_post = new_post.persist()
    try:
        # batch stats from the persisted postings (one row per doc via
        # distinct (doc_id, dl)) — integer-identical to the base-level
        # aggregate, saves a second tokenize pass over the new batch,
        # and warms the cache the merged writes below reuse
        nrow = (
            new_post.select("doc_id", "dl")
            .distinct()
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("dl").alias("total_dl"),
            )
            .collect()[0]
        )
        n_new, dl_new = nrow["n_docs"], int(nrow["total_dl"] or 0)

        old_post = spark.read.parquet(os.path.join(path, "postings"))
        new_ids = new_post.select("doc_id").distinct()
        guard_tf = F.when(
            F.col("__dup").isNotNull(),
            F.raise_error(
                F.concat(
                    F.lit("update_bm25_index: doc_id already indexed: "),
                    F.col("doc_id").cast("string"),
                )
            ).cast("long"),
        ).otherwise(F.col("tf"))
        merged_post = (
            old_post.join(
                # hint only; a huge added batch still works — AQE falls
                # back to a shuffle join when the id set exceeds the
                # broadcast threshold at plan time
                new_ids.withColumn("__dup", F.lit(1)).hint("broadcast"),
                "doc_id",
                "left",
            )
            .select("doc_id", "dl", "term", guard_tf.alias("tf"))
            .unionByName(new_post)
        )
        old_dfreq = spark.read.parquet(os.path.join(path, "dfreq"))
        merged_dfreq = (
            old_dfreq.withColumnRenamed("dfreq", "__a")
            .join(new_dfreq.withColumnRenamed("dfreq", "__b"), "term", "full_outer")
            .select(
                "term",
                (
                    F.coalesce(F.col("__a"), F.lit(0))
                    + F.coalesce(F.col("__b"), F.lit(0))
                ).alias("dfreq"),
            )
        )

        tmp = path + ".__update_tmp__"
        merged_post.write.parquet(os.path.join(tmp, "postings"))
        merged_dfreq.write.parquet(os.path.join(tmp, "dfreq"))
        out = {
            "n_docs": side["n_docs"] + n_new,
            "total_dl": side["total_dl"] + dl_new,
            "lowercase": lowercase,
            "format_version": side.get("format_version", 1),
        }
        with open(os.path.join(tmp, "stats.json"), "w") as fh:
            json.dump(out, fh)

        if not fs.rename(p_final, p_old):
            raise IOError(f"could not stage old index at {path}.__old__")
        if not fs.rename(p_tmp, p_final):
            raise IOError(f"could not swap updated index into {path}")
        fs.delete(p_old, True)
        return {**out, "docs_added": n_new}
    finally:
        new_post.unpersist()


def bm25_topk_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    query_text_col: str = "qtext",
    max_df: int | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Query a persisted BM25 index (see :func:`save_bm25_index`)
    without re-tokenizing the corpus."""
    with open(os.path.join(path, "stats.json")) as fh:
        side = json.load(fh)
    postings = spark.read.parquet(os.path.join(path, "postings"))
    dfreq = spark.read.parquet(os.path.join(path, "dfreq"))
    stats = spark.range(1).select(
        F.lit(side["n_docs"]).cast("long").alias("n_docs"),
        F.lit(side["total_dl"]).cast("long").alias("total_dl"),
    )
    return _score_postings(
        postings, dfreq, stats, queries, k, k1, b,
        query_id_col, query_text_col, bool(side["lowercase"]), max_df,
        broadcast_queries,
    )
