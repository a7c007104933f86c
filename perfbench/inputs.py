"""Seeded benchmark inputs and their planted truth.

Built on numpy and pyarrow only, never on ``ratatool_spark``: the library
receives nothing but the files written here. Each workload's inputs live in
``<cache>/<workload>/seed-<n>/`` next to ``truth.json`` (what was planted)
and are reused when that directory already holds a finished set.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# core_pipelines: lineitem-shaped table and its perturbed twin
LINEITEM_ORDERS = 40_000          # orders; each has 1..7 lines (~160k rows)
DROP_FRAC = 0.01                  # lhs keys missing from rhs
ADD_FRAC = 0.005                  # rhs-only keys
CHANGE_FRAC = 0.10                # rows with exactly one field changed
CHANGE_FIELDS = ("l_quantity", "l_extendedprice", "l_discount",
                 "l_shipmode", "l_comment")

# training_data, part 1: Zipf vocabulary with planted near-duplicate copies
CORPUS_DOCS = 1_000
VOCAB = 4_000
ZIPF_A = 1.3
DOC_WORDS = (40, 90)
NEAR_DUP_FRAC = 0.20              # share of docs that copy an earlier original
MUTATE_FRAC = 0.10                # share of a copy's words replaced

# training_data, part 2: orders-shaped base table plus a commit log
ORDERS_BASE = 10_000
CYCLES = 2                        # commit cycles per pass
APPEND_ROWS = 2_000
MERGE_KEYS = 1_000                # key range an upsert touches
MERGE_NEW_FRAC = 0.1              # share of upsert rows with brand-new keys
DELETE_EVERY = 2                  # a range delete every DELETE_EVERY-th cycle
DELETE_KEYS = 500

_SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_DONE = "truth.json"


def ensure(workload: str, seed: int, cache_dir: str) -> tuple[str, dict, float]:
    """Return (input dir, planted truth, seconds spent generating). A
    finished set is reused (0 s); a partial one is regenerated."""
    out = os.path.join(cache_dir, workload, f"seed-{seed}")
    done = os.path.join(out, _DONE)
    if os.path.exists(done):
        with open(done) as f:
            return out, json.load(f), 0.0
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.perf_counter()
    truth = _GENERATORS[workload](np.random.default_rng(seed), out)
    elapsed = time.perf_counter() - t0
    with open(done + ".tmp", "w") as f:
        json.dump(truth, f)
    os.replace(done + ".tmp", done)
    return out, truth, elapsed


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    """Zipf(ZIPF_A) word ids folded into the vocabulary."""
    return (rng.zipf(ZIPF_A, n) - 1) % VOCAB


def _comments(rng: np.random.Generator, n: int) -> np.ndarray:
    w = rng.integers(0, 500, size=(n, 4))
    return np.array([f"c{a} c{b} c{c} c{d}" for a, b, c, d in w], dtype=object)


def _lineitem(rng: np.random.Generator, out: str) -> dict:
    lines = rng.integers(1, 8, LINEITEM_ORDERS)
    orderkey = np.repeat(np.arange(1, LINEITEM_ORDERS + 1, dtype=np.int64) * 4, lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n = len(orderkey)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(quantity * rng.uniform(900.0, 2000.0, n), 2)
    lhs = pa.table({
        "l_orderkey": orderkey,
        "l_linenumber": linenumber,
        "l_partkey": rng.integers(1, 20_000, n),
        "l_suppkey": rng.integers(1, 1_000, n),
        "l_quantity": quantity,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": _FLAGS[rng.integers(0, 3, n)],
        "l_linestatus": np.where(rng.random(n) < 0.5, "O", "F"),
        "l_shipdate": np.datetime64("1992-01-01") + rng.integers(0, 2500, n).astype(
            "timedelta64[D]"),
        "l_shipmode": _SHIPMODES[rng.integers(0, 7, n)],
        "l_comment": _comments(rng, n),
    })

    # twin: drop, change one field of, and add rows — every edit recorded
    order = rng.permutation(n)
    n_drop = int(n * DROP_FRAC)
    n_change = int(n * CHANGE_FRAC)
    dropped = np.sort(order[:n_drop])
    changed = order[n_drop:n_drop + n_change]
    field_of = rng.integers(0, len(CHANGE_FIELDS), n_change)
    cols = {c: lhs.column(c).to_numpy(zero_copy_only=False).copy()
            for c in lhs.column_names}

    def keys(idx):
        return np.stack([orderkey[idx], linenumber[idx]], axis=1).tolist()

    changed_per_field = {}
    changed_keys = {}
    for i, fname in enumerate(CHANGE_FIELDS):
        rows = changed[field_of == i]
        changed_per_field[fname] = len(rows)
        changed_keys[fname] = keys(np.sort(rows))
        if fname == "l_quantity":
            cols[fname][rows] += 1.0
        elif fname == "l_extendedprice":
            cols[fname][rows] = np.round(cols[fname][rows] + 0.5, 2)
        elif fname == "l_discount":
            cols[fname][rows] = np.round(cols[fname][rows] + 0.01, 2)
        elif fname == "l_shipmode":
            cols[fname][rows] = np.array([m.lower() for m in cols[fname][rows]], dtype=object)
        else:
            cols[fname][rows] = np.array([c + " x" for c in cols[fname][rows]], dtype=object)
    keep = np.ones(n, dtype=bool)
    keep[dropped] = False
    n_add = int(n * ADD_FRAC)
    rhs_cols = {c: v[keep] for c, v in cols.items()}
    added = rng.choice(n, n_add, replace=False)
    for c, v in cols.items():
        extra = v[added].copy()
        if c == "l_orderkey":
            extra = extra + 1 + rng.integers(0, 3, n_add)   # off the ×4 grid
        rhs_cols[c] = np.concatenate([rhs_cols[c], extra])
    rhs = pa.table({c: pa.array(v, lhs.schema.field(c).type) for c, v in rhs_cols.items()})
    pq.write_table(lhs, os.path.join(out, "lhs.parquet"))
    pq.write_table(rhs, os.path.join(out, "rhs.parquet"))
    return {
        "rows_lhs": n,
        "rows_rhs": rhs.num_rows,
        "dropped_keys": n_drop,
        "added_keys": n_add,
        "changed_keys": n_change,
        "changed_per_field": changed_per_field,
        # [l_orderkey, l_linenumber] of every planted edit
        "dropped": keys(dropped),
        "added": np.stack([rhs_cols["l_orderkey"][-n_add:],
                           rhs_cols["l_linenumber"][-n_add:]], axis=1).tolist(),
        "changed": changed_keys,
    }


def _corpus(rng: np.random.Generator, out: str) -> dict:
    # exactly NEAR_DUP_FRAC of the docs are copies, each of an earlier
    # original and never of a copy: whatever the seed, the near-dup pair
    # graph is a set of stars of the same total size, which keeps the
    # rounds of near_dedup's connected components from swinging with it
    n_copies = int(CORPUS_DOCS * NEAR_DUP_FRAC)
    is_copy = np.zeros(CORPUS_DOCS, dtype=bool)
    is_copy[rng.choice(np.arange(11, CORPUS_DOCS), n_copies, replace=False)] = True
    docs: list[np.ndarray] = []
    originals: list[int] = []
    clusters: list[list[int]] = []   # (copy id, source id)
    for i in range(CORPUS_DOCS):
        if is_copy[i]:
            src = originals[int(rng.integers(0, len(originals)))]
            words = docs[src].copy()
            hit = rng.random(len(words)) < MUTATE_FRAC
            words[hit] = _words(rng, int(hit.sum()))
            clusters.append([i, src])
        else:
            words = _words(rng, int(rng.integers(*DOC_WORDS)))
            originals.append(i)
        docs.append(words)
    text = [" ".join(f"w{w}" for w in d) for d in docs]
    table = pa.table({
        "doc_id": np.arange(CORPUS_DOCS, dtype=np.int64),
        "text": text,
    })
    pq.write_table(table, os.path.join(out, "corpus.parquet"))
    return {"docs": CORPUS_DOCS, "near_dup_copies": clusters}


def _orders(rng: np.random.Generator, out: str) -> dict:
    def rows(keys: np.ndarray) -> pa.Table:
        n = len(keys)
        return pa.table({
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(1, 15_000, n),
            "o_orderstatus": _STATUS[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1_000.0, 400_000.0, n), 2),
            "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
        })

    pq.write_table(rows(np.arange(1, ORDERS_BASE + 1)), os.path.join(out, "base.parquet"))
    log = []
    next_key = ORDERS_BASE + 1
    for c in range(1, CYCLES + 1):
        keys = np.arange(next_key, next_key + APPEND_ROWS)
        next_key += APPEND_ROWS
        name = f"append-{c}.parquet"
        pq.write_table(rows(keys), os.path.join(out, name))
        log.append({"kind": "append", "file": name})

        lo = int(rng.integers(1, next_key - MERGE_KEYS))
        n_new = int(MERGE_KEYS * MERGE_NEW_FRAC)
        upd = np.arange(lo, lo + MERGE_KEYS - n_new)
        new = np.arange(next_key, next_key + n_new)
        next_key += n_new
        name = f"merge-{c}.parquet"
        pq.write_table(rows(np.concatenate([upd, new])), os.path.join(out, name))
        log.append({"kind": "merge_cow" if c % 2 else "merge_mor", "file": name})

        if c % DELETE_EVERY == 0:
            lo = int(rng.integers(1, next_key - DELETE_KEYS))
            log.append({"kind": "delete_mor", "lo": lo, "hi": lo + DELETE_KEYS - 1})
    return {"base_rows": ORDERS_BASE, "log": log}


def _training_data(rng: np.random.Generator, out: str) -> dict:
    """The corpus and the orders table with its change log, side by side."""
    return {**_corpus(rng, out), **_orders(rng, out)}


_GENERATORS = {
    "core_pipelines": _lineitem,
    "training_data": _training_data,
}
