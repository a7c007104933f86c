"""Approximate-nearest-neighbor search over embedding columns.

Every top-k operator is a candidate stage followed by one shared exact
tail, :func:`_topk`: drop self-matches, score, rank per query (ties by
neighbor id) and keep rank <= k. The operators differ only in which
(query, neighbor) pairs they hand to it. The query side
(:func:`_queries`) is always broadcast; the corpus side
(:func:`_corpus`) never moves.

  - **brute force** (:func:`brute_force_topk`,
    :func:`brute_force_topk_l2`, :func:`hard_negatives`): every query
    against every corpus row. Exact; cost |Q|·n — the verifier and the
    re-rank stage.
  - **LSH** (:func:`lsh_topk`, :func:`multiprobe_lsh_topk`):
    random-hyperplane bucket ids (:func:`_bucket_id`); candidates share
    the query's bucket(s). Hyperplane signs come from the portable hash
    (seed, plane, dim) → ±1, so buckets are reproducible in SQL.
  - **IVF** (:func:`ivf_topk` and the persisted
    :func:`build_ivf_index` / :func:`update_ivf_index` /
    :func:`query_ivf_index`): centroids are hash-sampled or Lloyd-trained
    (:func:`_centroids`), corpus rows land in their nearest cell
    (:func:`_cells`) and queries fan out over their ``n_probe`` nearest
    cells (:func:`_probes`); the join is cell-to-cell.
  - **quantized** (:func:`sq8_topk`, :func:`pq_topk`,
    :func:`ivfpq_topk`): the corpus is scanned as int8 codes (SQ8,
    cosine) or as product-quantization codes scored by asymmetric
    distance (PQ, optionally behind the IVF cells).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ratatool_spark.functions.hashing import portable_hash64
from ratatool_spark.functions.vectors import cosine_sim, norm2


def _cos_scored_entries(vec_col: str, centroids, entry_fn) -> Column:
    """``array<struct>`` of one ``entry_fn(cosine, cid)`` struct per
    centroid. Three fold-count cuts over the naive per-centroid
    ``cosine_sim(col, F.lit(cvec))`` composition, all value-preserving:

      - the row vector's norm is bound ONCE per row as a lambda value
        (the composition re-folded it per centroid — k× the work; HOFs
        are interpreted, no common-subexpression elimination);
      - each centroid's constant norm is precomputed in Python with the
        identical left fold + sqrt (ConstantFolding does NOT fold
        ``aggregate`` over a literal array, so the plan evaluated it per
        ROW; Python float ops are the same IEEE doubles in the same
        order — bit-identical value);
      - the centroid matrix ships as ONE ``from_json`` constant that
        folds to the identical array literals (``F.lit(list)`` recurses
        into a py4j round-trip per scalar — the ``_adc_dist``/
        ``_plane_signs_json`` pathology; k·d calls per build).

    The division keeps the composition's ``dot / (norm_v * norm_c)``
    structure, so every cosine — and therefore every argmax/sort
    tie-break downstream — is bit-identical."""
    import json
    import math

    from ratatool_spark.functions.text import _bind

    cents_json = json.dumps([[float(x) for x in cvec] for _, cvec in centroids])
    cents_sql = (
        f"from_json('{cents_json}', 'array<array<double>>')"
    )
    norms = []
    for _, cvec in centroids:
        acc = 0.0
        for x in cvec:
            acc += float(x) * float(x)
        norms.append(math.sqrt(acc))

    def _entries(nv: Column) -> Column:
        out = []
        for i, (cid, _) in enumerate(centroids):
            # lambda params named (x, y) to match PySpark's generated
            # names; CAST(0.0 AS DOUBLE) folds to the double-typed zero
            dot = F.expr(
                f"aggregate(zip_with(`{vec_col}`,"
                f" element_at({cents_sql}, {i + 1}),"
                f" (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                f" CAST(0.0 AS DOUBLE), (x, y) -> x + y)"
            )
            out.append(entry_fn(dot / (nv * F.lit(norms[i])), cid))
        return F.array(*out)

    return _bind(norm2(F.col(vec_col)), _entries)


def _topk(
    cands: DataFrame,
    k: int,
    score: Column | None = None,
    name: str = "cosine",
    distinct: bool = False,
) -> DataFrame:
    """The exact top-k tail of every ANN operator: (query_id,
    neighbor_id, ``name``, rank) from candidate pairs. Drops
    self-matches, scores (default: the qv/cv cosine), optionally
    deduplicates (a neighbor reached via several probed cells), then
    ranks per query — cosine highest first, the distances (``l2_dist``,
    ``adc_dist``) lowest first, ties by neighbor id — and keeps rank <=
    k. The window plans as a WindowGroupLimit on both sides of its
    query_id shuffle."""
    if score is None:
        score = cosine_sim(F.col("qv"), F.col("cv"))
    out = cands.where(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id", "neighbor_id", score.alias(name)
    )
    if distinct:
        out = out.distinct()
    order = F.col(name).desc() if name == "cosine" else F.col(name)
    w = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id"))
    return out.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _queries(df: DataFrame, vec_col: str, id_col: str, *extra) -> DataFrame:
    """The query side of a candidate join: (query_id, qv, *extra)."""
    return df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), *extra
    )


def _corpus(df: DataFrame, vec_col: str, id_col: str, *extra) -> DataFrame:
    """The corpus side of a candidate join: (neighbor_id, cv, *extra)."""
    return df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), *extra
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    (query_id, neighbor_id, cosine, rank), self-matches excluded. Ties
    broken by neighbor id for determinism. The query side is broadcast —
    corpus never moves, so this scales with corpus size linearly."""
    q = _queries(queries, vec_col, id_col)
    return _topk(_corpus(corpus, vec_col, id_col).crossJoin(F.broadcast(q)), k)


def brute_force_topk_l2(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact squared-L2 top-k neighbors — the metric-matched truth for
    the L2-ranked scanners (PQ's asymmetric distance approximates L2,
    not cosine, so measuring PQ recall against cosine truth conflates
    metric mismatch with quantization loss). (query_id, neighbor_id,
    l2_dist, rank), self-matches excluded, ties by neighbor id; same
    broadcast-queries/corpus-never-moves shape as
    :func:`brute_force_topk`. Distance is the order-pinned
    :func:`_sq_l2` fold, so a SQL replay ranks identically."""
    q = _queries(queries, vec_col, id_col)
    cands = _corpus(corpus, vec_col, id_col).crossJoin(F.broadcast(q))
    return _topk(cands, k, _sq_l2(F.col("qv"), F.col("cv")), "l2_dist")


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training: for
    each query, the top-k most-similar corpus vectors with a DIFFERENT
    label — the near-misses a bi-encoder must learn to push apart
    (random negatives are trivially far; hard ones carry the gradient).

    (query_id, neighbor_id, cosine, rank); ties broken by neighbor id.
    Same shape as :func:`brute_force_topk` — the query side is broadcast
    and the corpus never moves — with the label-mismatch predicate fused
    into the join, so same-label pairs are dropped BEFORE ranking. For
    corpora past brute-force scale, pre-bucket with the IVF/LSH paths
    and apply the same predicate inside each bucket."""
    q = _queries(queries, vec_col, id_col, F.col(label_col).alias("q_label"))
    c = _corpus(corpus, vec_col, id_col, F.col(label_col).alias("c_label"))
    mismatch = F.col("q_label") != F.col("c_label")
    return _topk(c.join(F.broadcast(q), mismatch, "cross"), k)


def _hyperplane_sign(plane: int, dim: int, seed: int) -> float:
    """Deterministic ±1 from the portable hash of (seed, plane, dim) —
    computed at plan-build time with the same md5 formula as
    functions.hashing.portable_hash64, so any engine evaluating the hash
    at runtime (e.g. the DuckDB oracle) derives identical signs."""
    import hashlib

    h = int(hashlib.md5(f"{seed}\x01{plane}\x01{dim}".encode()).hexdigest()[:15], 16)
    return 1.0 if h & 1 else -1.0


def _plane_signs_json(num_planes: int, dim: int, seed: int) -> str:
    """All ``num_planes`` hyperplane sign vectors as one JSON string for
    a ``from_json`` constant: ``F.lit(list)`` recurses into a py4j
    round-trip per scalar — num_planes × dim calls per lsh_bucket (same
    pathology as ``_adc_dist``'s LUT). ``from_json`` of a string literal
    is deterministic and constant-folded at optimization;
    ``element_at(signs, p + 1)`` folds to the identical array<double>
    Literals the per-plane ``F.lit`` produced (±1.0 round-trips JSON
    exactly)."""
    import json

    return json.dumps(
        [
            [_hyperplane_sign(p, i, seed) for i in range(dim)]
            for p in range(num_planes)
        ]
    )


def _proj_expr(vec_col: str, p: int, num_planes: int, dim: int, seed: int) -> Column:
    """Plane-``p`` projection dot(v, signs_p) as ONE ``F.expr`` — the
    zip_with/aggregate built with Column operators costs ~60 py4j
    round-trips per plane (lambda plumbing); the SQL string parses
    JVM-side into the identical fold. CAST(0.0 AS DOUBLE) folds to the
    double-typed zero ``F.lit(0.0)`` produced; the signs constant folds
    per :func:`_plane_signs_json`."""
    signs_sql = (
        f"from_json('{_plane_signs_json(num_planes, dim, seed)}',"
        f" 'array<array<double>>')"
    )
    # lambda params named (x, y) to match PySpark's generated names, so
    # the plan text is byte-identical to the Column-built form
    return F.expr(
        f"aggregate(zip_with(`{vec_col}`, element_at({signs_sql}, {p + 1}),"
        f" (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE),"
        f" (x, y) -> x + y)"
    )


def lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> Column:
    """Random-hyperplane LSH bucket id (0 .. 2^num_planes - 1) as a column.

    Each plane's normal has components ±1 chosen by hash — sign of
    dot(v, plane) gives one bit. With ``dim`` known (pass it — it's one
    schema lookup away), the signs are baked into the plan as literal
    arrays and the projection is a zip_with/aggregate per plane: no
    hashing in the data path at all. Without ``dim``, signs are hashed at
    runtime per element — same values, ~50x slower (an md5 per
    plane × dim × row)."""
    projs = []
    for p in range(num_planes):
        if dim is not None:
            # one array Literal, not dim scalar Literals wrapped in
            # CreateArray — the per-element form made the 8-plane plan a
            # ~4000-node tree whose analysis cost more than the scan;
            # the whole fold is one F.expr (see _proj_expr)
            proj = _proj_expr(vec_col, p, num_planes, dim, seed)
        else:
            proj = F.aggregate(
                F.transform(
                    F.col(vec_col),
                    lambda x, i: x.cast("double")
                    * F.when(
                        portable_hash64(
                            F.concat_ws(
                                "\x01", F.lit(str(seed)), F.lit(str(p)), i.cast("string")
                            )
                        ).bitwiseAND(F.lit(1))
                        == 1,
                        F.lit(1.0),
                    ).otherwise(F.lit(-1.0)),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        projs.append(proj)
    return _bucket_id(projs).alias("bucket")


def _bucket_id(projs: list[Column]) -> Column:
    """Σ_p 2^p·[proj_p > 0] as a long, summed left to right: plane p's
    projection sign is bucket bit p."""
    bits = [
        F.when(pr > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        for p, pr in enumerate(projs)
    ]
    return sum(bits[1:], bits[0])


def ivf_assign_cells(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> Column:
    """Array of the ``n_probe`` nearest centroid ids for each vector, by
    cosine — pure expressions over centroid literals (centroids are tiny;
    they live in the plan, not in a join). Per-row fold count is k+1, not
    3k (see :func:`_cos_scored_entries`); cosines bit-identical to the
    ``cosine_sim`` composition."""
    scored = _cos_scored_entries(
        vec_col,
        centroids,
        lambda c, cid: F.struct(c.alias("c"), F.lit(cid).alias("cell")),
    )
    best = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return F.transform(best, lambda s: s["cell"])


def _seed_centroids(
    corpus: DataFrame, n_centroids: int, vec_col: str, id_col: str, seed: int
) -> list[tuple[int, list[float]]]:
    """Deterministic hash-sample of corpus vectors as initial centroids."""
    from ratatool_spark.functions.hashing import hash_cols

    cents = (
        corpus.withColumn("__r", hash_cols([F.col(id_col)], seed=seed))
        .orderBy("__r")
        .limit(n_centroids)
        .select(id_col, vec_col)
        .collect()
    )
    if not cents:
        raise ValueError("empty corpus: nothing to sample centroids from")
    return [(i, list(r[vec_col])) for i, r in enumerate(cents)]


def _centroids(
    corpus: DataFrame,
    n_centroids: int,
    train_iters: int,
    vec_col: str,
    id_col: str,
    seed: int,
) -> list[tuple[int, list[float]]]:
    """IVF centroids: ``train_iters`` Lloyd's iterations
    (:func:`train_centroids`), or the train-free hash-sample when 0."""
    if train_iters > 0:
        return train_centroids(corpus, n_centroids, train_iters, vec_col, id_col, seed)
    return _seed_centroids(corpus, n_centroids, vec_col, id_col, seed)


def _cells(
    df: DataFrame, centroids: list[tuple[int, list[float]]], vec_col: str, id_col: str
) -> DataFrame:
    """The corpus side of an IVF join: (neighbor_id, cv, cell), each row
    in its nearest cell."""
    assigned = _gemm_assign(df, centroids, vec_col, id_col, 1)
    return _corpus(assigned, "v", "id", F.col("cells")[0].alias("cell"))


def _probes(
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    id_col: str,
    n_probe: int,
) -> DataFrame:
    """The query side of an IVF join: (query_id, qv, cell), one row per
    probed cell — the query's ``n_probe`` nearest."""
    assigned = _gemm_assign(queries, centroids, vec_col, id_col, n_probe)
    return _queries(assigned, "v", "id", F.explode("cells").alias("cell"))


def _ivf_meta(spark, path: str) -> tuple[dict, list[tuple[int, list[float]]]]:
    """The ``_ivf.json`` sidecar of a :func:`build_ivf_index` index and
    its centroids."""
    import json

    from ratatool_spark.sources.shards import _join, _read_text

    meta = json.loads(_read_text(spark, _join(path, "_ivf.json")))
    return meta, [(int(c), v) for c, v in meta["centroids"]]


def _gemm_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
    id_col: str,
    n_probe: int,
) -> DataFrame:
    """(id, vec, cells): the ``n_probe`` nearest centroid ids per vector by
    cosine, via one numpy GEMM per Arrow batch. Centroids ride in the
    closure (k·d floats); the expression twin (ivf_assign_cells) computes
    identical cells but pays plan-compilation + interpreted-HOF cost per
    centroid — measurable even at k=8 (see PERF.md kernel notes)."""
    import numpy as np
    import pandas as pd

    cid_arr = np.asarray([cid for cid, _ in centroids])
    cmat = np.asarray([v for _, v in centroids], dtype=np.float64)
    cn = np.sqrt((cmat * cmat).sum(axis=1))
    cn[cn == 0] = 1.0
    cmat = cmat / cn[:, None]

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    id_t = base.schema["id"].dataType.simpleString()
    v_t = base.schema["v"].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            chunk = np.asarray([list(v) for v in pdf["v"]], dtype=np.float64)
            an = np.sqrt((chunk * chunk).sum(axis=1))
            an[an == 0] = 1.0
            sims = (chunk / an[:, None]) @ cmat.T
            # stable n_probe ranking: by -cosine, ties by centroid id
            order = np.lexsort((cid_arr[None, :].repeat(len(sims), 0), -sims))
            cells = cid_arr[order[:, :n_probe]].astype(np.int32)
            yield pd.DataFrame(
                {"id": pdf["id"], "v": pdf["v"], "cells": list(cells)}
            )

    return base.mapInPandas(gen, schema=f"id {id_t}, v {v_t}, cells array<int>")


def train_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 13,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means (cosine assignment) for IVF cells, distributed:

      - assignment: argmax-cosine over centroid *literals* baked into the
        plan — a narrow map over the corpus, no shuffle of vectors;
      - update: posexplode(vector) → groupBy (cell, dim) avg — the only
        shuffle, and it carries (cell, dim, partial sum/count) thanks to
        map-side combine, never the vectors themselves;
      - the k·d centroid table returns to the driver each iteration
        (tiny), exactly like any iterative-refinement driver loop.

    Empty cells keep their previous centroid. Deterministic for a fixed
    (corpus, seed)."""
    centroids = _seed_centroids(corpus, n_centroids, vec_col, id_col, seed)
    for _ in range(iters):
        assigned = _gemm_assign(corpus, centroids, vec_col, id_col, 1).select(
            "v", F.col("cells")[0].alias("cell")
        )
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        centroids = [
            (
                cid,
                [by_cell[cid][p] for p in range(len(prev))]
                if cid in by_cell
                else prev,
            )
            for cid, prev in centroids
        ]
    return centroids


def train_centroids_exact(
    corpus: DataFrame,
    n_centroids: int = 8,
    iters: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 13,
    scale: int = 1_000_000,
) -> list[tuple[int, list[float]]]:
    """Bit-reproducible Lloyd's k-means — the deterministic sibling of
    :func:`train_centroids`.

    Floating-point centroid updates are partition-order-dependent
    (``avg`` sums doubles in whatever order the shuffle delivers them),
    so on a 1000-executor cluster every run of plain k-means trains
    slightly different centroids. This variant removes the
    nondeterminism — and with it, engine dependence:

      - assignment: the expression cosine path (left-to-right folds,
        :func:`ivf_assign_cells`) instead of the GEMM kernel — every
        engine evaluates the identical IEEE sequence;
      - update: FIXED-POINT accumulation — each element is snapped to an
        integer grid (``floor(x·scale)`` as a long), summed EXACTLY
        (integer addition is order-independent), and the mean finished
        with one fixed double-op sequence ``s / n / scale``.

    The cost is a 1/scale quantization of each centroid update —
    irrelevant next to k-means' own convergence tolerance. Same
    empty-cell rule as :func:`train_centroids` (keep previous)."""
    centroids = _seed_centroids(corpus, n_centroids, vec_col, id_col, seed)
    dim = len(centroids[0][1])
    for _ in range(iters):
        # two selects: a generator (posexplode) analyzed alongside the
        # struct-lambda argmax loses the lambda's struct field names
        assigned = corpus.select(
            F.element_at(
                ivf_assign_cells(corpus, centroids, vec_col, 1), 1
            ).alias("cell"),
            F.col(vec_col).alias("__v"),
        ).select("cell", F.posexplode("__v").alias("pos", "x"))
        sums = (
            assigned.groupBy("cell", "pos")
            .agg(
                F.sum(
                    F.floor(F.col("x").cast("double") * F.lit(float(scale)))
                    .cast("long")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cell: dict[int, list[float]] = {}
        for r in sums:
            vec = by_cell.setdefault(r["cell"], [0.0] * dim)
            vec[r["pos"]] = float(r["s"]) / float(r["n"]) / float(scale)
        centroids = [
            (cid, by_cell[cid]) if cid in by_cell else (cid, prev)
            for cid, prev in centroids
        ]
    return centroids


_IVF_DUP = "two vectors under one id would both be indexed; dedup the input first"


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 13,
    train_iters: int = 0,
    mode: str = "error",
) -> list[tuple[int, list[float]]]:
    """Persist the IVF index — the production build-once/query-many ANN
    artifact: the cell-assigned corpus as parquet (neighbor_id, cv, cell;
    one corpus scan + optional Lloyd's training here, NEVER per query
    batch) plus an ``_ivf.json`` sidecar holding the centroids and
    parameters. Cell is a low-cardinality partition column, so a probe
    of n_probe cells prunes the index scan to those directories. A
    corpus with repeated ids is rejected (one id-count aggregate) before
    anything is written."""
    import json

    from ratatool_spark.operators.dedup import _reject_duplicate_ids
    from ratatool_spark.sources.shards import _join, _write_text

    _reject_duplicate_ids(corpus, id_col, "build_ivf_index", _IVF_DUP)
    centroids = _centroids(corpus, n_centroids, train_iters, vec_col, id_col, seed)
    cb = _cells(corpus, centroids, vec_col, id_col)
    cb.write.mode(mode).partitionBy("cell").parquet(path)
    meta = {
        "n_centroids": n_centroids,
        "vec_col": vec_col,
        "id_col": id_col,
        "seed": seed,
        "train_iters": train_iters,
        "centroids": centroids,
    }
    _write_text(corpus.sparkSession, _join(path, "_ivf.json"), json.dumps(meta))
    return centroids


def query_ivf_index(
    spark,
    queries: DataFrame,
    path: str,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Probe a :func:`build_ivf_index` index: assign each query to its
    ``n_probe`` nearest stored centroids and exact-re-rank inside those
    cells only. The cell equi-join prunes the partitioned index scan to
    the probed cells; identical results to :func:`ivf_topk` with the
    same parameters (parity-tested)."""
    meta, centroids = _ivf_meta(spark, path)
    qb = _probes(queries, centroids, meta["vec_col"], meta["id_col"], n_probe)
    cands = spark.read.parquet(path).join(F.broadcast(qb), "cell")
    return _topk(cands, k, distinct=True)


def update_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
) -> dict:
    """Incrementally add vectors to a persisted IVF index (see
    :func:`build_ivf_index`) WITHOUT retraining or rescanning the stored
    corpus — the standard IVF maintenance contract: centroids are frozen
    at build time (they live in the ``_ivf.json`` sidecar, so the update
    cannot assign differently than the build), inserts are appended to
    their nearest cell's partition directory, and a periodic full
    rebuild/retrain is an explicit separate :func:`build_ivf_index` call.
    ``update(A); update(B)`` is row-identical to building once over
    A ∪ B with the same (A-seeded) centroids — pinned by the
    ``ivf_index_incremental`` oracle gate.

    Scale shape: one GEMM-assign pass over the NEW batch only; the
    stored index is scanned once, id column only (column-pruned), to
    feed the duplicate-id guard — which rides the appended rows'
    ``cv`` payload (existing-id ∩ new-id set, small by construction,
    broadcast onto the new batch + ``raise_error``; no separate count
    action). Ids repeated inside the batch are counted by the same stats
    aggregate and rejected before the write. The append job stages files
    under ``_temporary`` until job commit, so a mid-write crash leaves
    the index readable and the retry clean. Returns ``{"n_added": ...,
    "n_cells_touched": ...}`` from one aggregate of the assigned batch."""
    meta, centroids = _ivf_meta(spark, path)
    assigned = _cells(new_vectors, centroids, meta["vec_col"], meta["id_col"])
    new_ids = assigned.select("neighbor_id").distinct()
    dups = (
        spark.read.parquet(path)
        .select("neighbor_id")
        .join(new_ids.hint("broadcast"), "neighbor_id")
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    guard_cv = F.when(
        F.col("__dup").isNotNull(),
        F.raise_error(
            F.concat(
                F.lit("update_ivf_index: id already indexed: "),
                F.col("neighbor_id").cast("string"),
            )
        ).cast(assigned.schema["cv"].dataType),
    ).otherwise(F.col("cv"))
    guarded = assigned.join(dups.hint("broadcast"), "neighbor_id", "left").select(
        "neighbor_id", guard_cv.alias("cv"), "cell"
    )
    guarded = guarded.persist()
    try:
        stats = guarded.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("cell").alias("c"),
            F.countDistinct("neighbor_id").alias("ids"),
        ).collect()[0]
        if stats["ids"] < stats["n"]:
            raise ValueError(
                f"update_ivf_index: {stats['n'] - stats['ids']} duplicate id "
                f"row(s) in the batch — {_IVF_DUP}"
            )
        guarded.write.mode("append").partitionBy("cell").parquet(path)
    finally:
        guarded.unpersist()
    return {"n_added": stats["n"], "n_cells_touched": stats["c"]}


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 13,
    train_iters: int = 0,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus is partitioned into
    ``n_centroids`` cells (nearest centroid by cosine); each query probes
    its ``n_probe`` nearest cells and exact-re-ranks within.

    ``train_iters=0`` uses deterministically hash-sampled corpus vectors
    as centroids (train-free); ``train_iters>0`` runs that many Lloyd's
    iterations (train_centroids) for tighter cells — better recall at the
    same n_probe. Same scale profile as LSH either way: the join is
    cell-to-cell on a small integer key. Recall is tuned by n_probe /
    n_centroids."""
    centroids = _centroids(corpus, n_centroids, train_iters, vec_col, id_col, seed)
    cb = _cells(corpus, centroids, vec_col, id_col)
    qb = _probes(queries, centroids, vec_col, id_col, n_probe)
    return _topk(cb.join(F.broadcast(qb), "cell"), k, distinct=True)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket, exact
    cosine re-rank within. Recall is tuned by num_planes (fewer planes →
    bigger buckets → higher recall, more compute). Join is bucket-to-bucket
    — shuffle on a small integer key, no cross join. Pass ``dim`` to bake
    plane signs into the plan (see lsh_bucket)."""
    bucket = lsh_bucket(corpus, vec_col, num_planes, seed, dim=dim)
    cb = _corpus(corpus, vec_col, id_col, bucket)
    qb = _queries(queries, vec_col, id_col, bucket)
    return _topk(cb.join(F.broadcast(qb), "bucket"), k)


def multiprobe_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
    n_probe: int = 3,
) -> DataFrame:
    """Multi-probe LSH top-k (Lv et al., VLDB'07, single-bit-flip
    variant): each query probes its own bucket PLUS the ``n_probe - 1``
    buckets reached by flipping the hyperplane bits with the smallest
    projection margins |dot(v, plane)| — the planes the vector sits
    closest to, i.e. where a true neighbor most likely landed on the
    other side. Recall rises with n_probe at probe-count cost instead of
    the memory cost of extra hash tables — the standard trade for a
    100 TB single-index deployment. Corpus vectors still live in exactly
    ONE bucket (index size unchanged, and a (query, neighbor) candidate
    can never duplicate); only the broadcast query side fans out
    n_probe×. Margin ties break by plane index; everything is plan
    literals + folds, so the DuckDB oracle replays buckets, margins,
    flip order, and ranking exactly. ``dim`` is required (margins need
    the baked plane signs)."""
    if dim is None:
        raise ValueError("multiprobe_lsh_topk requires dim")
    if not 1 <= n_probe <= num_planes + 1:
        raise ValueError(f"n_probe must be in [1, {num_planes + 1}]")
    projs = [
        _proj_expr(vec_col, p, num_planes, dim, seed)
        for p in range(num_planes)
    ]
    base = _bucket_id(projs)
    margins = F.array_sort(
        F.array(
            *[
                F.struct(F.abs(pr).alias("m"), F.lit(p).alias("p"))
                for p, pr in enumerate(projs)
            ]
        )
    )
    powers = F.lit([1 << p for p in range(num_planes)])
    probes = [base] + [
        base.bitwiseXOR(
            F.element_at(
                powers, F.element_at(margins, i + 1).getField("p") + 1
            ).cast("long")
        )
        for i in range(n_probe - 1)
    ]
    cb = _corpus(corpus, vec_col, id_col, base.alias("bucket"))
    probed = F.explode(F.array(*probes)).alias("bucket")
    qb = _queries(queries, vec_col, id_col, probed)
    return _topk(cb.join(F.broadcast(qb), "bucket"), k)


def sq8_encode(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(id, codes, scale) — symmetric-int8 scalar quantization of an
    embedding column (functions.vectors.quantize_int8): one scale per
    row (max|x|/127), codes in [-127, 127]. The at-rest ANN index this
    produces is 4× smaller than float32 — at 100 TB that is the
    difference between an index that fits the page cache and one that
    doesn't. Pure expressions, zero shuffle: encoding rides the scan."""
    from ratatool_spark.functions.vectors import quantize_int8, quantize_scale

    # Two projections on purpose: `scale` is an O(d) aggregate over the
    # vector, and quantize_int8 references it inside a per-ELEMENT
    # lambda. Inlined, the aggregate re-evaluates for every element —
    # O(d^2) per row (the HOF-lambda pitfall, PERF.md). Materialized as
    # its own column first (referenced more than once, so CollapseProject
    # keeps the projection), the lambda sees a plain attribute.
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("__v"),
        quantize_scale(F.col(vec_col)).alias("scale"),
    )
    return base.select(
        "id",
        quantize_int8(F.col("__v"), F.col("scale")).alias("codes"),
        "scale",
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate cosine top-k over a scalar-quantized (SQ8) corpus —
    the FAISS ``SQ8`` flat-index strategy on DataFrames: the corpus is
    scanned as int8 codes + one scale/row (:func:`sq8_encode`), queries
    stay full-precision and broadcast, and the score is the expression
    cosine against the DEQUANTIZED codes (code·scale). Same plan shape
    as :func:`brute_force_topk` (corpus never moves, |Q|·k output) with
    a 4× lighter corpus scan; cosine is scale-invariant per row, so the
    only error is the int8 rounding (recall@k vs exact pinned ≥0.9 in
    tests on the 64-dim fixture).

    Output (query_id, neighbor_id, cosine, rank) — ``cosine`` is the
    quantized approximation."""
    from ratatool_spark.functions.vectors import dequantize

    enc = sq8_encode(corpus, vec_col, id_col)
    c = enc.select(
        F.col("id").alias("neighbor_id"),
        dequantize(F.col("codes"), F.col("scale")).alias("cv"),
    )
    return _topk(c.crossJoin(F.broadcast(_queries(queries, vec_col, id_col))), k)


def topk_recall(
    truth_df: DataFrame,
    approx_df: DataFrame,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
) -> DataFrame:
    """(query, n_truth, n_hit, recall) — per-query recall of an
    approximate top-k result against the exact one: the measurement that
    turns "LSH/IVF is faster" into an accountable trade (recall@k vs
    probe cost). Pass :func:`brute_force_topk` output as ``truth_df`` on
    a held-out query sample; both frames only need (query, neighbor)
    columns. One left join on (query, neighbor) + one per-query
    aggregate — at scale the truth side is |queries|·k rows, never the
    corpus."""
    # BOTH sides deduplicate: duplicate (query, neighbor) rows in the
    # truth frame would silently inflate n_truth and deflate recall
    # (and a duplicated approx row would double-count n_hit).
    t = truth_df.select(query_col, id_col).distinct()
    a = (
        approx_df.select(query_col, id_col)
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        t.join(a, [query_col, id_col], "left")
        .groupBy(query_col)
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.count("__hit").alias("n_hit"),
            F.round(F.count("__hit") / F.count(F.lit(1)), 6).alias("recall"),
        )
    )


# ------------------------------------------------- product quantization


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 13,
    train_iters: int = 0,
) -> list[list[list[float]]]:
    """``m`` codebooks of ``k`` centroids each over the vector's ``m``
    contiguous subspaces — product quantization (Jégou/Douze/Schmid,
    TPAMI'11): a d-dim float vector compresses to m small codes (m bytes
    at k<=256), an n·d·4-byte ANN corpus becomes n·m bytes, and
    asymmetric distance (ADC) needs m lookups per candidate instead of d
    multiplies.

    ``train_iters=0`` (the oracle mode, the IVF seed-centroid
    convention): codebook j's centroids are the j-th subvector slices of
    the same ``k`` hash-sampled corpus rows — fully engine-replayable.
    ``train_iters>0`` runs Lloyd's per subspace (squared-L2 assignment,
    mean update) — the production path, deterministic for a fixed
    (corpus, seed). Vector length must be divisible by ``m``."""
    rows = _seed_centroids(corpus, k, vec_col, id_col, seed)
    d = len(rows[0][1])
    if d % m != 0:
        raise ValueError(f"vector dim {d} not divisible by m={m}")
    sub = d // m
    books = [
        [list(vec[j * sub : (j + 1) * sub]) for _, vec in rows]
        for j in range(m)
    ]
    for _ in range(train_iters):
        codes = pq_encode(corpus, books, vec_col, id_col)
        joined = corpus.select(
            F.col(id_col), F.col(vec_col).alias("__v")
        ).join(codes, id_col)
        means = (
            joined.select(
                F.posexplode("__v").alias("pos", "x"), F.col("codes")
            )
            .select(
                (F.col("pos") / sub).cast("int").alias("sub"),
                (F.col("pos") % sub).alias("dim"),
                F.element_at("codes", (F.col("pos") / sub).cast("int") + 1).alias(
                    "code"
                ),
                F.col("x").cast("double").alias("x"),
            )
            .groupBy("sub", "code", "dim")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            got.setdefault((r["sub"], r["code"]), {})[r["dim"]] = r["mu"]
        books = [
            [
                [got[(j, c)][t] for t in range(sub)]
                if (j, c) in got
                else books[j][c]
                for c in range(k)
            ]
            for j in range(m)
        ]
    return books


def _sq_l2(a: Column, b: Column) -> Column:
    """Σ (a_i - b_i)² — left-fold order and EXPLICIT multiply (pow(x, 2)
    is not guaranteed bit-identical to x*x across engines), shared
    verbatim with the SQL twin."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>) — each vector's per-subspace argmin-
    squared-L2 centroid index (ties to the smaller index).

    One numpy GEMM per Arrow batch per subspace (the `_gemm_assign`
    discipline — codebooks ride in the closure; m·k interpreted HOF
    folds per ROW measured ~4x the whole gate's wall). The tests pin it
    against a plan-literal expression twin that any SQL engine replays
    fold-for-fold (argmin can only differ on exact distance ties,
    measure-zero for real embeddings; ties break to the smaller index in
    both)."""
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    sub = len(codebooks[0][0])
    cmats = [np.asarray(book, dtype=np.float64) for book in codebooks]
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    id_t = base.schema["id"].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.asarray([list(v) for v in pdf["v"]], dtype=np.float64)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j, cmat in enumerate(cmats):
                s = x[:, j * sub : (j + 1) * sub]
                # ||s-c||² per centroid; argmin ties -> smaller index
                d = (
                    (s * s).sum(axis=1)[:, None]
                    - 2.0 * (s @ cmat.T)
                    + (cmat * cmat).sum(axis=1)[None, :]
                )
                codes[:, j] = np.argmin(d, axis=1)  # first min = smallest c
            yield pd.DataFrame({"id": pdf["id"], "codes": list(codes)})

    return base.mapInPandas(gen, schema=f"id {id_t}, codes array<int>").select(
        F.col("id").alias(id_col), "codes"
    )


def pq_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, neighbor_id, adc_dist, rank) — approximate top-k by
    ASYMMETRIC distance: the exact query vector against each corpus
    row's quantized reconstruction, dist = Σ_j ||q_sub_j −
    codebook_j[code_j]||². The corpus side carries ONLY (id, m codes) —
    the compressed representation is all that is scanned; queries
    broadcast; per-query rank via WindowGroupLimit. Ties break on the
    smaller neighbor id. Re-rank the result's ids against raw vectors
    when exact order matters (the standard PQ + re-rank pipeline);
    measure with :func:`topk_recall`."""
    c = corpus_codes.select(F.col(id_col).alias("neighbor_id"), F.col("codes"))
    cands = c.crossJoin(F.broadcast(_queries(queries, vec_col, id_col)))
    return _topk(cands, k, _adc_dist(codebooks, "qv", "codes"), "adc_dist")


def _adc_dist(codebooks, qv_col: str, codes_col: str) -> Column:
    """Left-associated ADC term chain Σ_j ||q_sub_j − book_j[code_j]||²
    — shared by pq_topk / ivfpq_topk and replayed order-pinned in the
    oracle."""
    import json

    sub = len(codebooks[0][0])
    # ONE py4j call for the whole LUT: PySpark's F.lit(list) recurses into
    # a lit() round-trip per scalar (m*k*sub = 8192 at 8x64x16, ~3 s of
    # pure plan construction per pq_topk call, measured by cProfile as
    # 22k py4j send_commands). from_json of a string literal is
    # deterministic and CONSTANT-FOLDED at optimization — the optimized
    # plan holds the identical double Literals (json round-trips shortest
    # repr exactly), with zero per-row parse cost.
    books_lit = F.from_json(
        F.lit(
            json.dumps(
                [[[float(x) for x in cent] for cent in book] for book in codebooks]
            )
        ),
        "array<array<array<double>>>",
    )
    dist = None
    for j, book in enumerate(codebooks):
        qs = F.slice(F.col(qv_col), j * sub + 1, sub)
        lut = F.element_at(books_lit, j + 1)
        term = _sq_l2(
            qs, F.element_at(lut, F.element_at(codes_col, j + 1) + 1)
        )
        dist = term if dist is None else dist + term
    return dist


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 3,
    m: int = 8,
    pq_k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 13,
    train_iters: int = 0,
    pq_train_iters: int = 0,
) -> DataFrame:
    """(query_id, neighbor_id, adc_dist, rank) — IVF-PQ, the standard
    billion-scale ANN composition (FAISS IndexIVFPQ; Jégou et al.
    TPAMI'11): the IVF tier bounds WHICH candidates are scored (each
    query probes its ``n_probe`` nearest cells — candidates ≈
    n·n_probe/n_centroids instead of n), and the PQ tier bounds WHAT is
    scanned per candidate (m small codes instead of d floats — the
    index holds n·m bytes, not n·d·4). Ranking is asymmetric distance
    over the probed candidates only.

    ``train_iters``/``pq_train_iters`` = 0 is the fully
    engine-replayable seed mode (this operator's oracle); Lloyd-train
    both for production recall. Codebooks here are GLOBAL (non-
    residual); classic residual encoding (quantize x − centroid[cell])
    buys recall at the same m and drops in by training the books on
    residual vectors — kept out of the oracle path for replayability.
    Re-rank the returned ids against raw vectors when exact order
    matters; measure with :func:`topk_recall`."""
    centroids = _centroids(corpus, n_centroids, train_iters, vec_col, id_col, seed)
    books = train_pq_codebooks(
        corpus, m, pq_k, vec_col, id_col, seed, pq_train_iters
    )
    codes = pq_encode(corpus, books, vec_col, id_col)
    cb = _cells(corpus, centroids, vec_col, id_col).join(
        codes.select(F.col(id_col).alias("neighbor_id"), F.col("codes")),
        "neighbor_id",
    )
    qb = _probes(queries, centroids, vec_col, id_col, n_probe)
    dist = _adc_dist(books, "qv", "codes")
    return _topk(cb.join(F.broadcast(qb), "cell"), k, dist, "adc_dist", True)
