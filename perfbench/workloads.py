"""The two closed-loop workloads: ratatool's pipelines (sample, diff,
generate) and the training-data operators (near-dup pairs, snapshot
commits and scans).

One client issues the steps of a pass one after another; the next step
starts only when the previous one has written its output. A step is one
user-visible request (read -> library call -> write or collect). Every step
is checked against the planted truth or a DuckDB/numpy reference computed
by the runner on the same inputs; checks run after the pass, outside the
timed region.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np

SAMPLE_FRACTION = 0.1
SAMPLE_SEED = 7
LINE_KEYS = ["l_orderkey", "l_linenumber"]
# BigDiffy cannot diff a DATE column yet: _delta_expr casts DATE to DOUBLE,
# which Spark 4 rejects at analysis. The twin never edits l_shipdate, so
# leaving it out of the diff does not change the planted counts.
DIFF_IGNORE = frozenset({"l_shipdate"})
GEN_ROWS = 10_000
GEN_SCHEMA = ("id BIGINT, name STRING, score DOUBLE, flag BOOLEAN, "
              "tags ARRAY<STRING>, ts TIMESTAMP")
JACCARD_THRESHOLD = 0.5
MAX_DOC_FREQ = 1000               # ngram_jaccard_pairs / winnow default cap
NEAR_DUP_THRESHOLD = 0.7
LSH_BANDS, LSH_ROWS = 4, 4        # minhash_lsh_pairs / near_dedup defaults
WINNOW_K, WINNOW_W, WINNOW_MIN_SHARED = 3, 4, 2
COMPACT_TARGET_BYTES = 32 << 20
ORDER_KEYS = ["o_orderkey"]
ORDER_ATTRS = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


class CheckFailed(Exception):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Step:
    name: str
    phase: str
    seconds: float
    error: str | None = None
    check: object = None          # called with ``out`` after the pass
    out: object = None


@dataclass
class PassResult:
    wall_s: float
    steps: list[Step] = field(default_factory=list)


class Workload:
    """Shared step runner. Subclasses define ``prepare`` and ``run_pass``."""

    name = ""

    def __init__(self, spark, input_dir: str, truth: dict, seed: int):
        self.spark = spark
        self.input_dir = input_dir
        self.truth = truth
        self.seed = seed
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 2")

    def path(self, name: str) -> str:
        return os.path.join(self.input_dir, name)

    def step(self, tr, res: PassResult, name: str, owner: str, kind: str,
             phase: str, fn, check=None) -> Step:
        """Run ``fn(rec)`` as one timed step; exceptions count as failures."""
        from ratatool_spark.cache import unpersist_intermediates

        st = Step(name, phase, 0.0, check=check)
        try:
            with tr.step(name, owner, kind) as rec:
                t0 = time.perf_counter()
                try:
                    st.out = fn(rec)
                finally:
                    st.seconds = time.perf_counter() - t0
        except Exception as e:        # a failed step is counted, the pass goes on
            st.error = f"{type(e).__name__}: {str(e)[:300]}"
        unpersist_intermediates()
        res.steps.append(st)
        return st

    def check_pass(self, res: PassResult) -> None:
        for st in res.steps:
            if st.error is None and st.check is not None:
                try:
                    st.check(st.out)
                except Exception as e:
                    st.error = f"check {type(e).__name__}: {str(e)[:300]}"

    def close(self) -> None:
        self.db.close()


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def portable_hash64(s: str) -> int:
    """md5-prefix 60-bit hash, the library's cross-engine text hash."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _grams(text: str, n: int) -> list[str]:
    toks = text.strip().split(" ")
    m = max(len(toks) - (n - 1), 1)
    return [" ".join(toks[i:i + n]) for i in range(m)]


# ---------------------------------------------------------------- core
class CorePipelines(Workload):
    """sample / diff / generate on a lineitem-shaped table and its twin."""

    name = "core_pipelines"

    def prepare(self) -> None:
        f = SAMPLE_FRACTION
        self.db.execute(f"""
            CREATE TABLE lhs AS
            SELECT *, ('0x' || substr(md5(concat_ws(chr(1), '{SAMPLE_SEED}',
                     CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))),
                     1, 15))::BIGINT / 1152921504606846976.0 AS dice
            FROM read_parquet('{self.path("lhs.parquet")}')""")
        self.db.execute(f"CREATE TABLE want_det AS SELECT l_orderkey, l_linenumber "
                        f"FROM lhs WHERE dice < {f}")
        self.db.execute(f"""
            CREATE TABLE want_strat AS SELECT l_orderkey, l_linenumber FROM (
              SELECT *, row_number() OVER (PARTITION BY l_returnflag, l_linestatus
                                           ORDER BY dice) AS rn,
                     count(*) OVER (PARTITION BY l_returnflag, l_linestatus) AS nk
              FROM lhs) WHERE rn <= ceil(nk * {f})""")
        self.db.execute(f"""
            CREATE TABLE want_uniform AS SELECT l_orderkey, l_linenumber FROM (
              SELECT *, row_number() OVER (PARTITION BY l_shipmode ORDER BY dice) AS rn,
                     count(*) OVER (PARTITION BY l_shipmode) AS nk
              FROM lhs),
              (SELECT count(*) * {f} / count(DISTINCT l_shipmode) AS pop FROM lhs)
            WHERE rn <= least(ceil(pop), nk)""")
        self.gen_fingerprint = None

    def _sample_step(self, tr, res, out_root, lhs_path, name, kind, kwargs, check):
        from ratatool_spark.operators.sampler import sample
        from ratatool_spark.sources.io import read_table, write_table

        out = os.path.join(out_root, name)

        def run(rec):
            with tr.span("sources", "read_table"):
                df = read_table(self.spark, lhs_path)
            with tr.span("sampler", "sample"):
                s = sample(df, SAMPLE_FRACTION, fields=LINE_KEYS, seed=SAMPLE_SEED, **kwargs)
            with tr.span("sampler", "materialize:write_table"):
                write_table(s, out, fmt="parquet", mode="overwrite")
            return out

        self.step(tr, res, f"sample.{name}", "sampler", kind, "sample_s", run, check)

    def _same_keys(self, out: str, want: str) -> None:
        got = _parquet(out)
        n_got, n_distinct = self.db.execute(
            f"SELECT count(*), count(DISTINCT (l_orderkey, l_linenumber)) FROM {got}"
        ).fetchone()
        n_want = self.db.execute(f"SELECT count(*) FROM {want}").fetchone()[0]
        expect(n_got == n_distinct, f"{out}: duplicate keys in sample")
        expect(n_got == n_want, f"{out}: {n_got} rows, want {n_want}")
        extra = self.db.execute(
            f"SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM {got} "
            f"EXCEPT SELECT l_orderkey, l_linenumber FROM {want})").fetchone()[0]
        expect(extra == 0, f"{out}: {extra} rows outside the reference sample")

    def _murmur_ok(self, out: str) -> None:
        got = _parquet(out)
        n, nd, outside = self.db.execute(f"""
            SELECT count(*), count(DISTINCT (g.l_orderkey, g.l_linenumber)),
                   count(*) FILTER (WHERE l.l_orderkey IS NULL)
            FROM {got} g LEFT JOIN lhs l USING (l_orderkey, l_linenumber)""").fetchone()
        total = self.truth["rows_lhs"]
        mean = total * SAMPLE_FRACTION
        sd = math.sqrt(total * SAMPLE_FRACTION * (1 - SAMPLE_FRACTION))
        expect(n == nd, "murmur sample has duplicate keys")
        expect(outside == 0, "murmur sample has rows not in the input")
        expect(abs(n - mean) <= 6 * sd, f"murmur sample size {n} far from {mean:.0f}")

    def _diff_ok(self, out: str) -> None:
        t = self.truth
        g = self.db.execute(
            f"SELECT num_total, num_same, num_diff, num_missing_lhs, num_missing_rhs "
            f"FROM read_csv('{out}/global/*.csv', delim='\t', header=true)").fetchone()
        want = (t["rows_lhs"] + t["added_keys"],
                t["rows_lhs"] - t["dropped_keys"] - t["changed_keys"],
                t["changed_keys"], t["added_keys"], t["dropped_keys"])
        expect(tuple(int(v) for v in g) == want, f"diff global stats {g}, want {want}")
        fields = dict(self.db.execute(
            f"SELECT field, sum(count) FROM read_csv('{out}/fields/*.csv', delim='\t', "
            f"header=true) GROUP BY field").fetchall())
        got = {k: int(v) for k, v in fields.items()}
        expect(got == t["changed_per_field"], f"diff field counts {got}")
        keys = self.db.execute(
            f"SELECT count(*) FROM read_csv('{out}/keys/*.csv', delim='\t', header=true)"
        ).fetchone()[0]
        expect(keys == want[0], f"diff key rows {keys}, want {want[0]}")

    def _generate_ok(self, out: str) -> None:
        n, fp = self.db.execute(
            f"SELECT count(*), sum(hash(id, name, score, flag, tags, ts)) FROM {_parquet(out)}"
        ).fetchone()
        expect(n == GEN_ROWS, f"generated {n} rows, want {GEN_ROWS}")
        if self.gen_fingerprint is None:
            self.gen_fingerprint = fp
        expect(fp == self.gen_fingerprint, "generated rows differ between passes")

    def run_pass(self, tr, out_root: str) -> PassResult:
        from ratatool_spark.generators import random_dataframe
        from ratatool_spark.operators.diffy import BigDiffy
        from ratatool_spark.sources.io import read_table, write_table

        lhs_path, rhs_path = self.path("lhs.parquet"), self.path("rhs.parquet")
        res = PassResult(0.0)
        t0 = time.perf_counter()
        self._sample_step(tr, res, out_root, lhs_path, "deterministic", "sample", {},
                          lambda o: self._same_keys(o, "want_det"))
        self._sample_step(tr, res, out_root, lhs_path, "exact_stratified", "exact_sample",
                          {"strata": ["l_returnflag", "l_linestatus"], "exact": True},
                          lambda o: self._same_keys(o, "want_strat"))
        self._sample_step(tr, res, out_root, lhs_path, "uniform_exact", "exact_sample",
                          {"strata": ["l_shipmode"], "uniform": True, "exact": True},
                          lambda o: self._same_keys(o, "want_uniform"))
        self._sample_step(tr, res, out_root, lhs_path, "murmur", "sample",
                          {"hasher": "murmur"}, self._murmur_ok)

        def diff(rec):
            out = os.path.join(out_root, "diff")
            with tr.span("sources", "read_table"):
                lhs = read_table(self.spark, lhs_path)
                rhs = read_table(self.spark, rhs_path)
            with tr.span("diffy", "BigDiffy"):
                d = BigDiffy(lhs, rhs, LINE_KEYS, ignore=DIFF_IGNORE)
            with tr.span("diffy", "materialize:save_stats"):
                d.save_stats(out)
            with tr.span("diffy", "unpersist"):
                d.unpersist()
            return out

        self.step(tr, res, "diff", "diffy", "diff", "diff_s", diff, self._diff_ok)

        def generate(rec):
            out = os.path.join(out_root, "generated")
            with tr.span("generators", "random_dataframe"):
                df = random_dataframe(self.spark, GEN_SCHEMA, GEN_ROWS, seed=self.seed)
            with tr.span("generators", "materialize:write_table"):
                write_table(df, out, fmt="parquet", mode="overwrite")
            return out

        self.step(tr, res, "generate", "generators", "generate", "generate_s",
                  generate, self._generate_ok)
        res.wall_s = time.perf_counter() - t0
        return res


# --------------------------------------------------------------- dedup
class DedupCorpus(Workload):
    """Pair enumeration and composed near-dedup on a Zipf corpus."""

    name = "dedup_corpus"

    def prepare(self) -> None:
        t = self.db.execute(
            f"SELECT doc_id, text FROM read_parquet('{self.path('corpus.parquet')}') "
            "ORDER BY doc_id").fetchall()
        self.doc_ids = [int(i) for i, _ in t]
        self.shingles = {int(i): {portable_hash64(g) for g in _grams(x, 3)} for i, x in t}
        fps = []
        for i, x in t:
            h = [portable_hash64(g) for g in _grams(x, WINNOW_K)]
            m = max(1, len(h) - (WINNOW_W - 1))
            fps.extend((int(i), f) for f in {min(h[j:j + WINNOW_W]) for j in range(m)})
        self._load("sh", [(i, s) for i, ss in self.shingles.items() for s in ss])
        self._load("fp", fps)
        # pairs at J >= JACCARD_THRESHOLD: exact J over every shingle, and J
        # as ngram_jaccard_pairs counts it, without shingles in more than
        # MAX_DOC_FREQ docs (the corpus's hottest shingles pass that cap)
        self.db.execute(f"""
            CREATE TABLE jaccard_pairs AS
            WITH df AS (SELECT s, count(*) AS c FROM sh GROUP BY s),
                 sz AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
                 p AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS common,
                              count(*) FILTER (WHERE df.c <= {MAX_DOC_FREQ}) AS capped
                       FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
                       JOIN df ON df.s = a.s GROUP BY ALL)
            SELECT id_a, id_b,
                   common / (na.n + nb.n - common)::DOUBLE AS exact,
                   capped / (na.n + nb.n - capped)::DOUBLE AS jaccard
            FROM p JOIN sz na ON na.id = id_a JOIN sz nb ON nb.id = id_b
            WHERE common / (na.n + nb.n - common)::DOUBLE >= {JACCARD_THRESHOLD}""")
        self.db.execute(f"CREATE TABLE want_jaccard AS SELECT id_a, id_b, jaccard "
                        f"FROM jaccard_pairs WHERE jaccard >= {JACCARD_THRESHOLD}")
        self.db.execute(f"""
            CREATE TABLE want_winnow AS
            WITH df AS (SELECT s, count(*) AS c FROM fp GROUP BY s)
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
            FROM fp a JOIN fp b ON a.s = b.s AND a.id < b.id JOIN df ON df.s = a.s
            WHERE df.c BETWEEN 2 AND {MAX_DOC_FREQ}
            GROUP BY ALL HAVING count(*) >= {WINNOW_MIN_SHARED}""")

    def _load(self, name: str, rows: list[tuple[int, int]]) -> None:
        import pyarrow as pa

        arr = np.array(rows, dtype=np.int64).reshape(-1, 2)
        self.db.from_arrow(pa.table({"id": arr[:, 0], "s": arr[:, 1]})).create(name)

    def _pairs_equal(self, out: str, want: str, value: str) -> None:
        got = _parquet(out)
        n, nd = self.db.execute(
            f"SELECT count(*), count(DISTINCT (id_a, id_b)) FROM {got}").fetchone()
        n_want = self.db.execute(f"SELECT count(*) FROM {want}").fetchone()[0]
        expect(n == nd, f"{out}: duplicate pairs")
        expect(n == n_want, f"{out}: {n} pairs, want {n_want}")
        bad = self.db.execute(
            f"SELECT count(*) FROM {got} g FULL JOIN {want} w USING (id_a, id_b) "
            f"WHERE g.{value} IS NULL OR w.{value} IS NULL "
            f"OR abs(g.{value} - w.{value}) > 1e-9").fetchone()[0]
        expect(bad == 0, f"{out}: {bad} pairs differ from the reference")

    def _minhash_ok(self, out: str) -> None:
        got = _parquet(out)
        n, nd, bad = self.db.execute(
            f"SELECT count(*), count(DISTINCT (id_a, id_b)), count(*) FILTER ("
            f"WHERE id_a >= id_b OR est_jaccard < 0 OR est_jaccard > 1 "
            f"OR id_a < 0 OR id_b >= {len(self.doc_ids)}) FROM {got}").fetchone()
        expect(n == nd and bad == 0, f"minhash pairs malformed ({n}, {nd}, {bad})")
        # Recall over every exact pair with J >= JACCARD_THRESHOLD. With
        # b bands of r rows, LSH finds a pair with p = 1 - (1 - J^r)^b; the
        # number found must reach its expectation minus 4 sd.
        rows = self.db.execute(
            f"SELECT w.exact, g.id_a IS NOT NULL FROM jaccard_pairs w "
            f"LEFT JOIN {got} g USING (id_a, id_b)").fetchall()
        expect(len(rows) > 0, "no exact pair to measure minhash recall on")
        p = [1 - (1 - j ** LSH_ROWS) ** LSH_BANDS for j, _ in rows]
        found = sum(1 for _, hit in rows if hit)
        floor = sum(p) - 4 * math.sqrt(sum(q * (1 - q) for q in p))
        expect(found >= floor, f"minhash found {found} of {len(rows)} pairs with "
                               f"J >= {JACCARD_THRESHOLD}, want >= {floor:.1f}")

    def _near_dedup_ok(self, out: str, cand_dir: str) -> None:
        def losers(pairs):
            """Docs that are not the smallest id of their connected component."""
            parent = {}

            def find(x):
                while parent.get(x, x) != x:
                    x = parent[x]
                return x

            for a, b in pairs:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            return {x for x in parent if find(x) != x}

        def verified(a, b):
            sa, sb = self.shingles[a], self.shingles[b]
            inter = len(sa & sb)
            return inter / (len(sa) + len(sb) - inter) >= NEAR_DUP_THRESHOLD

        got = {r[0] for r in self.db.execute(f"SELECT doc_id FROM {_parquet(out)}").fetchall()}
        dropped = set(self.doc_ids) - got
        # exact reference: every pair with J >= NEAR_DUP_THRESHOLD
        exact = losers(self.db.execute(
            f"SELECT id_a, id_b FROM jaccard_pairs WHERE exact >= {NEAR_DUP_THRESHOLD}"
        ).fetchall())
        expect(len(exact) > 0, "corpus has no near-duplicate to remove")
        expect(len(dropped) > 0, f"near_dedup kept every doc, want {len(exact)} dropped")
        expect(dropped <= exact, f"near_dedup dropped {len(dropped - exact)} docs "
                                 f"with no J >= {NEAR_DUP_THRESHOLD} partner")
        # near_dedup verifies minhash candidates, so given the minhash step's
        # pairs (same hashes, bands and shingles) its survivors are exact
        cands = self.db.execute(f"SELECT id_a, id_b FROM {_parquet(cand_dir)}").fetchall()
        want = set(self.doc_ids) - losers((a, b) for a, b in cands if verified(a, b))
        expect(got == want, f"near_dedup kept {len(got)} docs, want {len(want)} "
                            f"({len(got ^ want)} differ)")

    def run_pass(self, tr, out_root: str) -> PassResult:
        from ratatool_spark.operators.dedup import (
            minhash_lsh_pairs, near_dedup, ngram_jaccard_pairs, winnow_candidate_pairs)
        from ratatool_spark.sources.io import read_table, write_table

        corpus = self.path("corpus.parquet")
        res = PassResult(0.0)

        def pairs_step(name, call, kind, phase, check):
            out = os.path.join(out_root, name)

            def run(rec):
                with tr.span("sources", "read_table"):
                    docs = read_table(self.spark, corpus)
                with tr.span("dedup", name):
                    p = call(docs)
                with tr.span("dedup", "materialize:write_table"):
                    write_table(p, out, fmt="parquet", mode="overwrite")
                return out

            return self.step(tr, res, name, "dedup", kind, phase, run, check)

        t0 = time.perf_counter()
        lsh = {"num_hashes": LSH_BANDS * LSH_ROWS, "bands": LSH_BANDS}
        mh = pairs_step("minhash_lsh_pairs", lambda d: minhash_lsh_pairs(d, **lsh),
                        "pairs", "pairs_s", self._minhash_ok)
        pairs_step("ngram_jaccard_pairs",
                   lambda d: ngram_jaccard_pairs(d, threshold=JACCARD_THRESHOLD),
                   "pairs", "pairs_s",
                   lambda o: self._pairs_equal(o, "want_jaccard", "jaccard"))
        pairs_step("winnow_candidate_pairs", winnow_candidate_pairs, "pairs", "pairs_s",
                   lambda o: self._pairs_equal(o, "want_winnow", "n_shared"))
        pairs_step("near_dedup",
                   lambda d: near_dedup(d, threshold=NEAR_DUP_THRESHOLD, **lsh),
                   "near_dedup", "near_dedup_s",
                   lambda o: self._near_dedup_ok(o, mh.out))
        res.wall_s = time.perf_counter() - t0
        return res


# ------------------------------------------------------------ snapshots
def _fingerprint(rows) -> tuple[int, int, int, int]:
    """(count, sum key, sum price cents, checksum) of order rows."""
    if not rows:
        return (0, 0, 0, 0)
    k = np.array([r[0] for r in rows], dtype=np.int64)
    cents = np.rint(np.array([r[3] for r in rows]) * 100).astype(np.int64)
    chk = (k * 1_000_003 + cents) % 2_147_483_647
    return (len(rows), int(k.sum()), int(cents.sum()), int(chk.sum()))


class SnapshotCommits(Workload):
    """Small commits beside scans on one snapshot table on disk."""

    name = "snapshot_commits"

    def prepare(self) -> None:
        """Replay the change log in Python once: the state fingerprint after
        each log entry, the change-feed counts and the SCD2 versions."""
        def load(name):
            t = self.db.execute(
                f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                f"o_orderpriority FROM read_parquet('{self.path(name)}')").fetchall()
            return {int(r[0]): tuple(r) for r in t}

        self.table_n = 0
        state = load("base.parquet")
        feed: dict[str, int] = {}
        versions: dict[int, list[tuple]] = {}      # key -> attr tuples, feed order
        self.after: list[tuple] = []               # fingerprint after each entry
        for entry in self.truth["log"]:
            kind = entry["kind"]
            if kind == "delete_mor":
                gone = [k for k in state if entry["lo"] <= k <= entry["hi"]]
                changes = [("delete", state.pop(k)) for k in gone]
            else:
                batch = load(entry["file"])
                if kind == "append":
                    changes = [("insert", r) for r in batch.values()]
                elif kind == "merge_mor":
                    changes = [("upsert", r) for r in batch.values()]
                else:
                    changes = []
                    for k, r in batch.items():
                        if k in state:
                            changes += [("update_preimage", state[k]),
                                        ("update_postimage", r)]
                        else:
                            changes.append(("insert", r))
                state.update(batch)
            for ctype, row in changes:
                feed[ctype] = feed.get(ctype, 0) + 1
                if ctype in ("insert", "update_postimage", "upsert"):
                    hist = versions.setdefault(row[0], [])
                    if not hist or hist[-1] != row[1:]:
                        hist.append(row[1:])
            self.after.append(_fingerprint(list(state.values())))
        self.feed_want = feed
        self.scd2_want = (sum(len(v) for v in versions.values()), len(versions))

    def _agg(self, df):
        from pyspark.sql import functions as F

        cents = F.round(F.col("o_totalprice") * 100).cast("long")
        r = df.agg(
            F.count(F.lit(1)), F.sum("o_orderkey"), F.sum(cents),
            F.sum((F.col("o_orderkey") * 1_000_003 + cents) % 2_147_483_647),
        ).first()
        return tuple(int(v or 0) for v in r)

    def run_pass(self, tr, out_root: str) -> PassResult:
        from pyspark.sql import functions as F

        from ratatool_spark.operators import snapshots as snap
        from ratatool_spark.operators.scd2 import scd2_history
        from ratatool_spark.sources.io import read_table

        self.table_n += 1
        table = os.path.join(out_root, f"orders-{self.table_n}")
        with tr.untraced():
            base_id = snap.commit_append(
                read_table(self.spark, self.path("base.parquet")), table)
        res = PassResult(0.0)
        head = [base_id]                            # newest published snapshot

        def commit(name, fn, batch=None):
            prev = head[0]

            def check(new_id):
                expect(isinstance(new_id, int) and new_id > prev,
                       f"{name} published no snapshot after {prev} (got {new_id})")

            def run(rec):
                if batch is not None:
                    if rec is not None:
                        rec.info["batch_bytes"] = os.path.getsize(self.path(batch))
                    with tr.span("sources", "read_table"):
                        df = read_table(self.spark, self.path(batch))
                else:
                    df = None
                with tr.span("snapshots", name):
                    return fn(df)

            st = self.step(tr, res, f"commit.{name}", "snapshots", "commit", "commit",
                           run, check)
            if isinstance(st.out, int):
                head[0] = st.out
            return st

        def scan(name, owner, fn, want):
            def check(got):
                expect(got == want, f"{name}: got {got}, want {want}")
            return self.step(tr, res, f"scan.{name}", owner, "scan", "scan_s", fn, check)

        def aggregate(snapshot_id=None):
            def run(rec):
                with tr.span("snapshots", "read_snapshot"):
                    df = snap.read_snapshot(self.spark, table, snapshot_id=snapshot_id)
                with tr.span("snapshots", "materialize:aggregate"):
                    return self._agg(df)
            return run

        t0 = time.perf_counter()
        travel = None                              # (snapshot id, log position)
        for i, entry in enumerate(self.truth["log"]):
            kind = entry["kind"]
            if kind == "append":
                commit("commit_append", lambda df: snap.commit_append(df, table),
                       entry["file"])
            elif kind == "merge_cow":
                st = commit("merge_snapshot", lambda df: snap.merge_snapshot(
                    self.spark, table, df, ORDER_KEYS), entry["file"])
            elif kind == "merge_mor":
                st = commit("merge_snapshot_mor", lambda df: snap.merge_snapshot_mor(
                    self.spark, table, df, ORDER_KEYS), entry["file"])
            elif kind == "delete_mor":
                lo, hi = entry["lo"], entry["hi"]
                commit("delete_snapshot_where_mor", lambda df: snap.delete_snapshot_where_mor(
                    self.spark, table, {"o_orderkey": (lo, hi)}))
                scan("current", "snapshots", aggregate(), self.after[i])
            if kind.startswith("merge") and travel is None:
                travel = (st.out, i)
        commit("fold_deletes", lambda df: snap.fold_deletes(self.spark, table))
        commit("compact_snapshot", lambda df: snap.compact_snapshot(
            self.spark, table, COMPACT_TARGET_BYTES))
        scan("current", "snapshots", aggregate(), self.after[-1])
        scan("time_travel", "snapshots", aggregate(travel[0]), self.after[travel[1]])

        def feed(rec):
            with tr.span("snapshots", "snapshot_change_feed"):
                f = snap.snapshot_change_feed(self.spark, table, base_id)
            with tr.span("snapshots", "materialize:count"):
                return dict(f.groupBy("_change_type").count().collect())

        scan("change_feed", "snapshots", feed, self.feed_want)

        def history(rec):
            with tr.span("snapshots", "snapshot_change_feed"):
                f = snap.snapshot_change_feed(self.spark, table, base_id).where(
                    F.col("_change_type").isin("insert", "update_postimage", "upsert"))
            with tr.span("scd2", "scd2_history"):
                h = scd2_history(f, ORDER_KEYS, "_commit_snapshot_id", ORDER_ATTRS)
            with tr.span("scd2", "materialize:aggregate"):
                r = h.agg(F.count(F.lit(1)), F.sum(F.col("is_current").cast("long"))).first()
                return (int(r[0]), int(r[1] or 0))

        scan("scd2_history", "scd2", history, self.scd2_want)
        res.wall_s = time.perf_counter() - t0
        return res


# ------------------------------------------------------- training data
class TrainingData(Workload):
    """The dedup steps, then the snapshot steps, as one pass on one input
    set: the operators that prepare training data."""

    name = "training_data"
    PARTS = (DedupCorpus, SnapshotCommits)

    def __init__(self, spark, input_dir: str, truth: dict, seed: int):
        self.parts = [cls(spark, input_dir, truth, seed) for cls in self.PARTS]

    def prepare(self) -> None:
        for part in self.parts:
            part.prepare()

    def run_pass(self, tr, out_root: str) -> PassResult:
        res = PassResult(0.0)
        for part in self.parts:
            r = part.run_pass(tr, os.path.join(out_root, part.name))
            res.wall_s += r.wall_s
            res.steps += r.steps
        return res

    def close(self) -> None:
        for part in self.parts:
            part.close()


WORKLOADS = {w.name: w for w in (CorePipelines, TrainingData)}
