"""CLI mirroring the reference's three entry points
(Ratatool.scala:39-68: bigDiffy | bigSampler | directSampler), argparse
instead of scopt, DataFrames instead of Beam pipelines.

    python -m ratatool_spark.cli bigSampler --input X --output Y --fraction 0.1 \\
        [--fields a,b] [--distribution stratified|uniform --distributionFields c] \\
        [--exact] [--seed 42]
    python -m ratatool_spark.cli bigDiffy --lhs X --rhs Y --key k1,k2 --output Z \\
        [--ignore f1,f2] [--unordered f3] [--ignoreNan]
    python -m ratatool_spark.cli directSampler --input X --output Y -n 100 [--head]

Every subcommand is one ``_command`` entry: its help line, its flags and
a runner ``(spark, args)``. Most runners are an ``_Op`` (read the declared
inputs, call one library function); verbs that do more are functions.
A runner returns a DataFrame, which ``main`` writes to ``--output``, or
an exit code (None = 0).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from typing import Any, Callable, NamedTuple


def _csv(s: str) -> list[str]:
    return [x for x in s.split(",") if x]


def _split(spec: str, n: int, flag: str, shape: str, sep: str = ":",
           maxsplit: int = -1, blanks: bool = False,
           right: bool = False) -> list[str]:
    """One ``flag`` value as ``n`` fields (``maxsplit=1``: the last field
    keeps further separators, the first one with ``right``; ``blanks``:
    empty fields allowed), or exit 1 naming the flag and the shape it
    expects."""
    parts = (spec.rsplit if right else spec.split)(sep, maxsplit)
    if len(parts) != n or not (blanks or all(parts)):
        raise SystemExit(f"{flag} expects {shape}, got {spec!r}")
    return parts


def _col_pairs(specs: list[str]) -> list[tuple[str, str]]:
    """``left:right`` column pairs; a bare ``col`` pairs with itself."""
    pairs = []
    for spec in specs:
        lc, sep, rc = spec.partition(":")
        pairs.append((lc, rc if sep else lc))
    return pairs


def _emit(obj: Any, **kw: Any) -> None:
    print(json.dumps(obj, **kw))


# ------------------------------------------------------------------ table


def _arg(*flags: str, **kw: Any) -> tuple[tuple[str, ...], dict]:
    return flags, kw


_IN = _arg("--input", required=True)
_OUT = _arg("--output", required=True)
_FMT = _arg("--format", default=None, help="override input format sniffing")
_TEXT = _arg("--textField", default="text")
_ID = _arg("--idField", default="doc_id")

# name -> (help, flags, runner); insertion order is the --help order
_COMMANDS: dict[str, tuple[str, tuple, Callable]] = {}

# command -> --mode -> the flags that mode needs beyond argparse's own
_MODE_FLAGS: dict[str, dict[str, tuple[str, ...]]] = {
    "scd2": {"apply": ("history",)},
    "logreg": {"train": ("label",), "score": ("output",)},
    "snapshot": {
        "append": ("input",),
        "rename-column": ("column", "to"),
        "widen-column": ("column", "to"),
        "evolve-spec": ("spec",),
        "create-branch": ("branch",),
        "append-branch": ("input", "branch"),
        "read-branch-snapshot": ("branch", "output"),
        "fast-forward": ("branch",),
        "delete-branch": ("branch",),
        "metadata": ("metadataKind",),
        "tag": ("tagName",),
        "untag": ("tagName",),
        "set-bloom": ("bloomCols",),
        "stage": ("input", "branch"),
        "read-branch": ("branch", "output"),
        "publish": ("branch",),
        "discard": ("branch",),
        "add-constraint": ("name", "expr"),
        "drop-constraint": ("name",),
        "delete-rows": ("predicate",),
        "drop-partition": ("partition",),
        "read": ("output",),
        "merge": ("input", "keys"),
        "merge-mor": ("input", "keys"),
        "changes": ("fromId", "output"),
        "mirror": ("source", "checkpoint"),
        "delete": ("where",),
        "delete-mor": ("where",),
        "cluster": ("zorderBy",),
        "rollback": ("snapshotId",),
    },
}

# snapshot --mode -> (main function, branch function); the branch one
# takes the branch name right after the table path
_SNAP_BRANCHED = {
    "merge": ("merge_snapshot", "merge_branch"),
    "merge-mor": ("merge_snapshot_mor", "merge_branch_mor"),
    "fold": ("fold_deletes", "fold_branch_deletes"),
    "delete": ("delete_snapshot_where", "delete_branch_where"),
    "delete-mor": ("delete_snapshot_where_mor", "delete_branch_where_mor"),
    "cluster": ("cluster_snapshot", "cluster_branch"),
    "compact": ("compact_snapshot", "compact_branch"),
}


def _command(name: str, text: str, *flags: tuple, run: Callable | None = None):
    """Register a subcommand; without ``run``, decorate its runner."""
    def register(fn: Callable) -> Callable:
        _COMMANDS[name] = (text, flags, fn)
        return fn

    return register if run is None else register(run)


def _read(spark, args: argparse.Namespace, dest: str, fmt: str | None = None):
    """The table named by ``args.<dest>``, in ``fmt`` else ``--format``,
    with ``--rowRestriction`` applied where the verb has one."""
    from ratatool_spark.sources.io import read_table, row_restriction

    fmt = fmt or getattr(args, "format", None)
    df = read_table(spark, getattr(args, dest), fmt=fmt)
    if getattr(args, "rowRestriction", None):
        df = row_restriction(df, args.rowRestriction)
    return df


def _write(out, path: str) -> None:
    from ratatool_spark.sources.io import write_table

    write_table(out, path, mode="overwrite")


def _val(args: argparse.Namespace, v: str | Callable) -> Any:
    return v(args) if callable(v) else getattr(args, v)


class _Op(NamedTuple):
    """Read ``inputs`` (a dest, or ``(dest, fmt)``), then call ``fn``
    (``"module:function"`` under ``ratatool_spark``, imported at dispatch)
    with the tables, then ``pos`` and ``kw`` (each a dest or a callable of
    ``args``). A ``sink`` writes ``--output`` itself."""

    fn: str
    inputs: tuple
    pos: tuple
    kw: dict
    sink: bool

    def __call__(self, spark, args: argparse.Namespace):
        import importlib

        mod, _, name = self.fn.partition(":")
        fn = getattr(importlib.import_module(f"ratatool_spark.{mod}"), name)
        dfs = [_read(spark, args, *(i if isinstance(i, tuple) else (i,)))
               for i in self.inputs]
        pos = [_val(args, v) for v in self.pos]
        kw = {k: _val(args, v) for k, v in self.kw.items()}
        if not self.sink:
            return fn(*dfs, *pos, **kw)
        fn(*dfs, args.output, *pos, mode="overwrite", **kw)


def _op(fn: str, *pos: str | Callable, inputs: tuple = ("input",),
        sink: bool = False, **kw: str | Callable) -> _Op:
    return _Op(fn, inputs, pos, kw, sink)


_command(
    "bigSampler", "distributed sampling",
    _IN, _OUT,
    _arg(
        "--fraction",
        "--sample",  # the reference's flag name (BigSampler usage: --sample=<pct>)
        dest="fraction",
        type=float,
        required=True,
    ),
    _arg("--fields", type=_csv, default=None, help="deterministic hash fields"),
    _arg("--distribution", choices=["stratified", "uniform"], default=None),
    _arg("--distributionFields", type=_csv, default=None),
    _arg("--exact", action="store_true"),
    _arg("--seed", type=int, default=42),
    _arg("--hashAlgorithm", choices=["portable", "xx", "farm", "murmur"],
         default="portable",
         help="dice hash backend (Util.scala:85-103 farm|murmur parity; "
         "portable = md5 cross-engine default, xx = fastest Spark-native)"),
    _arg("--byteEncoding", choices=["hex", "base64"], default="hex",
         help="bytes-field pre-hash encoding (ByteHasher.scala parity; "
         "raw is documented-rejected — see functions/hashing.py)"),
    _arg("--rowRestriction", default=None,
         help="SQL predicate applied at the scan (the reference's BigQuery "
         "row restriction, pushed into the parquet read here)"),
    _FMT,
    run=_op("operators.sampler:sample", "fraction", fields="fields",
            strata=lambda a: a.distributionFields if a.distribution else None,
            uniform=lambda a: a.distribution == "uniform", exact="exact",
            seed="seed", hasher="hashAlgorithm", byte_encoding="byteEncoding"),
)


@_command(
    "bigDiffy", "pairwise keyed dataset diff",
    _arg("--lhs", required=True),
    _arg("--rhs", required=True),
    _arg("--key", type=_csv, required=True),
    _OUT,
    _arg("--ignore", type=_csv, default=[]),
    _arg("--unordered", type=_csv, default=[]),
    _arg("--unorderedFieldKey", type=_csv, default=[],
         help="path:key pairs for keyed unordered nested-record arrays "
         "(BigDiffy --unorderedFieldKey=fieldPath:fieldKey,...)"),
    _arg("--rowRestriction", default=None,
         help="SQL predicate applied to BOTH sides at the scan"),
    _arg("--ignoreNan", action="store_true"),
)
def _big_diffy(spark, args):
    from ratatool_spark.operators.diffy import BigDiffy

    unordered_keys = {}
    for pair in args.unorderedFieldKey:
        path, key = _split(pair, 2, "--unorderedFieldKey",
                           "non-empty path:key pairs", maxsplit=1)
        if path in unordered_keys:
            raise SystemExit(f"--unorderedFieldKey repeats path {path!r}")
        unordered_keys[path] = key
    BigDiffy(
        _read(spark, args, "lhs"), _read(spark, args, "rhs"), keys=args.key,
        ignore=set(args.ignore), unordered=set(args.unordered),
        unordered_keys=unordered_keys or None, ignore_nan=args.ignoreNan,
    ).save_stats(args.output)


@_command(
    "directSampler", "local head/random sample",
    _IN, _OUT,
    _arg("-n", type=int, required=True),
    _arg("--head", action="store_true"),
    _arg("--seed", type=int, default=42),
)
def _direct_sampler(spark, args):
    from ratatool_spark.operators.sampler import head_sample, reservoir_sample

    df = _read(spark, args, "input")
    if args.head:
        return head_sample(df, args.n)
    return reservoir_sample(df, args.n, args.seed)


_command(
    "nearDedup",
    "near-duplicate removal: minhash-LSH -> jaccard verify -> "
    "connected components -> keep min-id doc per cluster",
    _IN, _OUT, _TEXT, _ID,
    _arg("--threshold", type=float, default=0.7, help="jaccard keep-threshold"),
    _arg("--numHashes", type=int, default=16),
    _arg("--bands", type=int, default=4),
    _arg("--shingleN", type=int, default=3),
    _arg("--hasher", choices=["portable", "xx"], default="portable",
         help="xx = Spark-native fast path (not cross-engine reproducible)"),
    _FMT,
    _arg("--scoreField", default=None,
         help="quality column: each duplicate cluster keeps its max-score doc "
         "(ties -> min id) instead of the min-id doc"),
    run=_op("operators.dedup:near_dedup", text_col="textField", id_col="idField",
            num_hashes="numHashes", bands="bands", shingle_n="shingleN",
            threshold="threshold", hasher="hasher", score_col="scoreField"),
)

_command(
    "substringDedup",
    "substring-containment pairs: docs whose token sequence occurs "
    "verbatim inside another doc (anchored inverted index + verify)",
    _IN, _OUT, _TEXT, _ID,
    _arg("--shingleLen", type=int, default=8),
    _arg("--maxDocFreq", type=int, default=None,
         help="skip docs whose rarest anchor shingle is hotter than this "
         "(recall envelope; bounds candidate fan-out)"),
    _FMT,
    run=_op("operators.dedup:substring_containment_pairs", text_col="textField",
            id_col="idField", shingle_len="shingleLen", max_doc_freq="maxDocFreq"),
)


@_command(
    "generate", "schema-driven random records",
    _arg("--schema", required=True, help="DDL string, e.g. 'a bigint, b string'"),
    _arg("-n", type=int, required=True),
    _OUT,
    _arg("--seed", type=int, default=42),
)
def _generate(spark, args):
    from ratatool_spark.generators import random_dataframe

    return random_dataframe(spark, args.schema, args.n, seed=args.seed)


_command(
    "packSequences",
    "assign docs to fixed-token-budget training bins "
    "(concat-and-chunk; grouped windows, parallel by group)",
    _IN, _OUT,
    _arg("--tokenField", required=True),
    _arg("--budget", type=int, required=True),
    _arg("--orderBy", type=_csv, required=True),
    _arg("--groupBy", type=_csv, default=None),
    _arg("--offsetField", default=None),
    _FMT,
    run=_op("operators.packing:pack_sequences", "tokenField", "budget",
            order_cols="orderBy", group_cols="groupBy", offset_col="offsetField"),
)

_command(
    "dedupLines",
    "C4/Gopher line dedup: drop lines repeated past a threshold "
    "(corpus-wide boilerplate or intra-document junk), reassemble docs",
    _IN, _OUT, _TEXT, _ID,
    _arg("--maxOccurrences", type=int, default=1),
    _arg("--minLineChars", type=int, default=2),
    _arg("--scope", choices=["corpus", "document"], default="corpus"),
    _FMT,
    run=_op("operators.corpus:remove_duplicate_lines", text_col="textField",
            id_col="idField", max_occurrences="maxOccurrences",
            min_line_chars="minLineChars", scope="scope"),
)


@_command(
    "upsert",
    "keyed upsert into a stored table (replace same-key rows, "
    "append new keys, optional delete flag; tmp-write + rename swap)",
    _arg("--base", required=True, help="table path to merge into"),
    _arg("--updates", required=True),
    _arg("--keys", type=_csv, required=True),
    _arg("--deleteField", default=None),
    _arg("--format", default="parquet"),
    _arg("--updatesFormat", default=None, help="override sniffing"),
)
def _upsert(spark, args):
    from ratatool_spark.sources.io import read_table, upsert_table

    updates = read_table(spark, args.updates, fmt=args.updatesFormat)
    _emit(upsert_table(spark, args.base, updates, args.keys, fmt=args.format,
                       delete_col=args.deleteField))


@_command(
    "bpeLearn",
    "train BPE merges over a corpus; writes an ordered JSON merge "
    "list (tokenizer-training inner loop, distributed)",
    _IN,
    _arg("--output", required=True, help="merges JSON path (any Hadoop scheme)"),
    _TEXT,
    _arg("--nMerges", type=int, default=100),
    _arg("--batch", type=int, default=1,
         help="merges admitted per round (pairwise symbol-disjoint); "
         ">1 = batched selection, O(n/yield) jobs instead of one per merge"),
    _arg("--pool", type=int, default=128, help="candidate pool per round"),
    _arg("--rounds", type=int, default=None,
         help="explicit round schedule (default ceil(nMerges/batch))"),
    _FMT,
)
def _bpe_learn(spark, args):
    from ratatool_spark.operators.corpus import bpe_learn
    from ratatool_spark.sources.shards import _write_text

    merges = bpe_learn(_read(spark, args, "input"), text_col=args.textField,
                       n_merges=args.nMerges, batch=args.batch, pool=args.pool,
                       rounds=args.rounds)
    _write_text(spark, args.output, json.dumps(merges))


@_command(
    "bpeEncode",
    "segment a corpus with a learned merge list (adds bpe_syms + "
    "n_bpe_tokens; Arrow-batched kernel past 16 merges)",
    _IN, _OUT,
    _arg("--merges", required=True, help="merges JSON from bpeLearn"),
    _TEXT, _FMT,
)
def _bpe_encode(spark, args):
    from ratatool_spark.operators.corpus import bpe_segment
    from ratatool_spark.sources.shards import _read_text

    merges = [tuple(m) for m in json.loads(_read_text(spark, args.merges))]
    return bpe_segment(_read(spark, args, "input"), merges, text_col=args.textField)


_command(
    "unigramTrain",
    "train a unigram-LM tokenizer (SentencePiece model: seed "
    "substrings -> EM over word lattices -> pruned vocab); writes a "
    "(piece, p, logp) parquet artifact",
    _IN,
    _arg("--output", required=True, help="vocab parquet path"),
    _TEXT,
    _arg("--vocabSize", type=int, default=512),
    _arg("--maxPieceLen", type=int, default=4),
    _arg("--emRounds", type=int, default=2),
    _arg("--minSeedCount", type=int, default=2),
    _arg("--maxWordLen", type=int, default=16),
    _FMT,
    run=_op("operators.unigram:unigram_train", text_col="textField",
            vocab_size="vocabSize", max_piece_len="maxPieceLen",
            em_rounds="emRounds", min_seed_count="minSeedCount",
            max_word_len="maxWordLen"),
)

_command(
    "unigramSegment",
    "apply a trained unigram tokenizer to a corpus (per-doc "
    "token/piece/OOV counts; Viterbi computed once per distinct word)",
    _IN, _OUT,
    _arg("--vocab", required=True, help="vocab parquet from unigramTrain"),
    _TEXT, _ID,
    _arg("--maxWordLen", type=int, default=16),
    _FMT,
    run=_op("operators.unigram:segment_docs", inputs=("input", ("vocab", "parquet")),
            text_col="textField", id_col="idField", max_word_len="maxWordLen"),
)


@_command(
    "wordpieceTrain",
    "train a WordPiece tokenizer (BERT model: likelihood-scored "
    "merges over ##-marked symbols, batched disjoint selection); "
    "writes a JSON artifact (merges + inference vocab)",
    _IN,
    _arg("--output", required=True, help="tokenizer JSON path"),
    _TEXT,
    _arg("--nMerges", type=int, default=64),
    _arg("--batch", type=int, default=16),
    _arg("--pool", type=int, default=64),
    _arg("--rounds", type=int, default=None),
    _FMT,
)
def _wordpiece_train(spark, args):
    from ratatool_spark.operators.wordpiece import (
        save_wordpiece_tokenizer,
        wordpiece_learn,
        wordpiece_vocab,
    )

    df = _read(spark, args, "input")
    merges = wordpiece_learn(df, text_col=args.textField, n_merges=args.nMerges,
                             batch=args.batch, pool=args.pool, rounds=args.rounds)
    vocab = wordpiece_vocab(df, merges, text_col=args.textField)
    save_wordpiece_tokenizer(spark, args.output, merges, vocab=vocab)


@_command(
    "wordpieceSegment",
    "apply a trained WordPiece tokenizer to a corpus — "
    "--mode replay (training-order merge replay) or match (BERT "
    "greedy longest-match against the frozen vocab, [UNK] fallback)",
    _IN, _OUT,
    _arg("--tokenizer", required=True, help="JSON artifact from wordpieceTrain"),
    _arg("--mode", choices=["replay", "match"], default="replay"),
    _TEXT,
    _arg("--unk", default="[UNK]"),
    _FMT,
)
def _wordpiece_segment(spark, args):
    from ratatool_spark.operators.wordpiece import (
        load_wordpiece_tokenizer,
        wordpiece_match_segment,
        wordpiece_segment,
    )

    df = _read(spark, args, "input")
    merges, vocab = load_wordpiece_tokenizer(spark, args.tokenizer)
    if args.mode == "replay":
        return wordpiece_segment(df, merges, text_col=args.textField)
    if vocab is None:
        raise SystemExit(
            "--mode match needs an artifact with a vocab "
            "(wordpieceTrain writes one)"
        )
    return wordpiece_match_segment(df, vocab, text_col=args.textField, unk=args.unk)


_command(
    "tfidfDedup",
    "sparse TF-IDF cosine near-dup pairs (inverted-index term "
    "join; idf auto-drops corpus-wide boilerplate)",
    _IN, _OUT, _TEXT, _ID,
    _arg("--threshold", type=float, default=0.5),
    _arg("--maxDocFreq", type=int, default=1000),
    _FMT,
    run=_op("operators.dedup:tfidf_cosine_pairs", text_col="textField",
            id_col="idField", threshold="threshold", max_doc_freq="maxDocFreq"),
)


def _all_group(df, args):
    """A build input, with the ``__all__`` column when no group is given."""
    from pyspark.sql import functions as F

    return df.withColumn("__all__", F.lit("all")) if args.groupBy == ["__all__"] else df


def _sketch(spark, args, path: str):
    from ratatool_spark.sources.io import read_table

    return read_table(spark, path, fmt=args.format or "parquet")


def _sketches(spark, args) -> list:
    if not args.inputs or len(args.inputs) < 2:
        raise SystemExit("merge mode needs --inputs a,b[,...]")
    return [_sketch(spark, args, p) for p in args.inputs]


@_command(
    "quantileSketch",
    "mergeable deterministic bottom-k (KMV) quantile sketch "
    "tables: build per-batch, merge losslessly, estimate any quantile",
    _arg("--mode", choices=["build", "merge", "estimate"], required=True),
    _arg("--input", help="input table (build/estimate)"),
    _arg("--inputs", type=_csv, help="sketch tables to merge"),
    _OUT,
    _arg("--groupBy", type=_csv, default=["__all__"], help="group columns (build)"),
    _arg("--valueField", default="value"),
    _arg("--keyFields", type=_csv, default=None,
         help="unique row key columns (build)"),
    _arg("--k", type=int, default=1024),
    _arg("--quantiles", type=_csv, default=["0.5", "0.9", "0.99"],
         help="estimate mode"),
    _FMT,
)
def _quantile_sketch(spark, args):
    from ratatool_spark.operators.timeagg import (
        build_quantile_sketches,
        estimate_quantiles,
        merge_quantile_sketches,
    )

    if args.mode == "build":
        if not args.input or not args.keyFields:
            raise SystemExit("build mode needs --input and --keyFields")
        df = _all_group(_read(spark, args, "input"), args)
        return build_quantile_sketches(df, args.groupBy, args.valueField,
                                       args.keyFields, k=args.k)
    if args.mode == "merge":
        return merge_quantile_sketches(*_sketches(spark, args))
    if not args.input:
        raise SystemExit("estimate mode needs --input (a sketch table)")
    return estimate_quantiles(_sketch(spark, args, args.input),
                              [float(q) for q in args.quantiles])


_command(
    "dsirSelect",
    "DSIR importance resampling: weight docs by target-vs-raw "
    "unigram log-ratio, select top-n by deterministic Gumbel-top-k",
    _IN,
    _arg("--targetFreqs", required=True,
         help="build_token_freqs parquet of the target corpus"),
    _arg("--rawFreqs", required=True,
         help="build_token_freqs parquet of the raw pool"),
    _OUT,
    _arg("--n", type=int, required=True),
    _TEXT, _ID,
    _arg("--smoothing", type=float, default=0.5),
    _arg("--seed", type=int, default=0),
    _FMT,
    run=_op("operators.corpus:dsir_select", "n",
            inputs=("input", ("targetFreqs", "parquet"), ("rawFreqs", "parquet")),
            text_col="textField", id_col="idField", smoothing="smoothing",
            seed="seed"),
)

_command(
    "fuzzyJoin",
    "blocked fuzzy join (entity resolution): equality blocking "
    "key + Levenshtein/token-Jaccard verify, optional best link per "
    "left id",
    _arg("--leftInput", required=True),
    _arg("--rightInput", required=True),
    _OUT,
    _arg("--leftId", required=True),
    _arg("--rightId", required=True),
    _arg("--blockField", type=_csv, required=True,
         help="one or more blocking keys (comma-separated: multi-pass "
         "recall net, candidates unioned and deduped); must exist on "
         "both sides"),
    _arg("--compare", type=_csv, required=True,
         help="column pairs left:right (e.g. name:name,addr:address)"),
    _arg("--method", choices=["lev_ratio", "token_jaccard"], default="lev_ratio"),
    _arg("--threshold", type=float, default=0.85),
    _arg("--keepBest", action="store_true"),
    _arg("--maxBlockSize", type=int, default=1000),
    _FMT,
    run=_op("operators.fuzzy:fuzzy_join", "leftId", "rightId", "blockField",
            lambda a: _col_pairs(a.compare), inputs=("leftInput", "rightInput"),
            method="method", threshold="threshold", keep_best="keepBest",
            max_block_size="maxBlockSize"),
)


@_command(
    "freqSketch",
    "mergeable count-min frequency sketch tables: build "
    "per-batch, merge (exact counter sum), estimate key counts",
    _arg("--mode", choices=["build", "merge", "estimate"], required=True),
    _arg("--input", help="input table (build/estimate)"),
    _arg("--inputs", type=_csv, help="sketch tables to merge"),
    _OUT,
    _arg("--groupBy", type=_csv, default=["__all__"], help="group columns (build)"),
    _arg("--keyField", default="key", help="counted key column"),
    _arg("--depth", type=int, default=4),
    _arg("--width", type=int, default=1024),
    _arg("--seed", type=int, default=0),
    _arg("--keys", type=_csv, default=None, help="probe keys (estimate mode)"),
    _FMT,
)
def _freq_sketch(spark, args):
    from ratatool_spark.operators.freq import (
        build_freq_sketches,
        estimate_freqs,
        merge_freq_sketches,
    )

    if args.mode == "build":
        if not args.input:
            raise SystemExit("build mode needs --input")
        df = _all_group(_read(spark, args, "input"), args)
        return build_freq_sketches(df, args.groupBy, args.keyField, depth=args.depth,
                                   width=args.width, seed=args.seed)
    if args.mode == "merge":
        return merge_freq_sketches(*_sketches(spark, args))
    if not args.input or not args.keys:
        raise SystemExit("estimate mode needs --input (a sketch table) and --keys")
    keys_df = spark.createDataFrame(
        [(k,) for k in args.keys], f"{args.keyField} string"
    )
    return estimate_freqs(_sketch(spark, args, args.input), keys_df, args.keyField,
                          seed=args.seed)


_command(
    "heavyHitters",
    "exact top-k most frequent keys per group (two-stage "
    "aggregate + window group limit; deterministic tie-break)",
    _IN, _OUT,
    _arg("--groupBy", type=_csv, default=[], help="group columns"),
    _arg("--keyField", required=True),
    _arg("--k", type=int, default=10),
    _FMT,
    run=_op("operators.freq:heavy_hitters", "groupBy", "keyField", k="k"),
)

_command(
    "skewReport",
    "per-column hot-value report (share + skew-vs-uniform "
    "ratio): the pre-salting join-key diagnostic, one scan",
    _IN, _OUT,
    _arg("--columns", type=_csv, required=True),
    _arg("--topK", type=int, default=5),
    _FMT,
    run=_op("operators.freq:skew_report", "columns", top_k="topK"),
)

_command(
    "capPerGroup",
    "deterministic 'at most N rows per group' cap (C4 per-domain "
    "rule): keeps each group's smallest-hash rows",
    _IN, _OUT,
    _arg("--groupField", default="source"),
    _arg("--maxRows", type=int, default=100),
    _arg("--diceFields", type=_csv, default=["doc_id"]),
    _arg("--seed", type=int, default=0),
    _FMT,
    run=_op("operators.corpus:cap_per_group", group_col="groupField",
            max_rows="maxRows", dice_cols="diceFields", seed="seed"),
)

_command(
    "profilePii",
    "column-level PII scan: per-column email/IP/phone/SSN/card "
    "match counts (+ Luhn-verified cards), one pass, optional "
    "deterministic sample",
    _IN, _OUT,
    _arg("--columns", type=_csv, default=None, help="default: all string columns"),
    _arg("--sampleFraction", type=float, default=None),
    _arg("--seed", type=int, default=0),
    _FMT,
    run=_op("operators.profile:profile_pii", columns="columns",
            sample_fraction="sampleFraction", seed="seed"),
)

_command(
    "mixtureSample",
    "resample toward a target per-source mixture "
    "(deterministic portable dice; broadcast rates, no driver collect)",
    _IN, _OUT,
    _arg("--shares", required=True,
         help="comma list source=share, e.g. web=0.6,books=0.3,code=0.1"),
    _arg("--sourceField", default="source"),
    _arg("--diceFields", type=_csv, default=["doc_id"]),
    _arg("--seed", type=int, default=0),
    _FMT,
    run=_op("operators.corpus:mixture_sample",
            lambda a: {k: float(v) for k, v in
                       (_split(kv, 2, "--shares", "source=share pairs", sep="=",
                               maxsplit=1, blanks=True) for kv in _csv(a.shares))},
            source_col="sourceField", dice_cols="diceFields", seed="seed"),
)

_command(
    "contamination",
    "n-gram-overlap train/test leakage check against a benchmark set",
    _IN,
    _arg("--benchmark", required=True),
    _OUT, _TEXT, _ID,
    _arg("--shingleN", type=int, default=3),
    _FMT,
    run=_op("operators.corpus:contamination", inputs=("input", "benchmark"),
            text_col="textField", id_col="idField", n="shingleN"),
)


@_command(
    "dedupAgainst",
    "incremental near-dedup: drop new-batch docs that "
    "near-duplicate an existing corpus (banded LSH + verified Jaccard)",
    _arg("--input", required=True, help="the new batch"),
    _arg("--corpus", required=True, help="the existing corpus"),
    _arg("--output", required=True, help="kept (non-duplicate) rows"),
    _TEXT, _ID,
    _arg("--threshold", type=float, default=0.7),
    _arg("--numHashes", type=int, default=16),
    _arg("--bands", type=int, default=8),
    _arg("--shingleN", type=int, default=3),
    _arg("--hasher", choices=["portable", "xx"], default="portable"),
    _arg("--corpusSigs", default=None,
         help="path of a saveSignatures table: skips the per-batch corpus "
         "shingle/signature pass (parameters validated from the sidecar)"),
    _FMT,
)
def _dedup_against(spark, args):
    from ratatool_spark.operators.dedup import filter_against, load_signatures

    new = _read(spark, args, "input")
    corpus = _read(spark, args, "corpus")
    corpus_sigs = None
    if args.corpusSigs:
        corpus_sigs, meta = load_signatures(spark, args.corpusSigs)
        for cli_v, meta_k in (
            (args.numHashes, "num_hashes"),
            (args.shingleN, "shingle_n"),
            (args.hasher, "hasher"),
        ):
            if meta.get(meta_k) != cli_v:
                raise SystemExit(
                    f"--corpusSigs was saved with {meta_k}="
                    f"{meta.get(meta_k)!r} but the command asks for "
                    f"{cli_v!r}; align the flags or resave"
                )
    return filter_against(
        new, corpus, threshold=args.threshold, text_col=args.textField,
        id_col=args.idField, num_hashes=args.numHashes, bands=args.bands,
        shingle_n=args.shingleN, hasher=args.hasher, corpus_sigs=corpus_sigs,
    )


_command(
    "exactDedupAgainst",
    "exact incremental dedup: keep new-batch rows whose key "
    "columns have no exact match in the corpus (Bloom-routed — the "
    "corpus is scanned, never shuffled)",
    _arg("--input", required=True, help="the new batch"),
    _arg("--corpus", required=True, help="the existing corpus"),
    _OUT,
    _arg("--keyFields", type=_csv, required=True),
    _arg("--fpp", type=float, default=0.01, help="Bloom false-positive rate"),
    _arg("--noBloom", action="store_true",
         help="plain anti-join (new batch comparable to corpus size)"),
    _FMT,
    run=_op("operators.dedup:exact_filter_against", inputs=("input", "corpus"),
            cols="keyFields", fpp="fpp", use_bloom=lambda a: not a.noBloom),
)

_command(
    "saveSignatures",
    "persist a corpus minhash signature table (+ parameter "
    "sidecar) for corpus-size-independent incremental dedup",
    _IN, _OUT, _TEXT, _ID,
    _arg("--numHashes", type=int, default=16),
    _arg("--shingleN", type=int, default=3),
    _arg("--hasher", choices=["portable", "xx"], default="portable"),
    _FMT,
    run=_op("operators.dedup:save_signatures", sink=True, text_col="textField",
            id_col="idField", num_hashes="numHashes", shingle_n="shingleN",
            hasher="hasher"),
)

_command(
    "profile",
    "single-pass per-column profile (completeness/cardinality/range)",
    _IN, _OUT,
    _arg("--columns", type=_csv, default=None),
    _arg("--exactDistinct", action="store_true"),
    _FMT,
    run=_op("operators.profile:profile_table", cols="columns",
            exact_distinct="exactDistinct"),
)


@_command(
    "runChecks",
    "declarative data-quality gate from a JSON check-suite file; "
    "exit 1 if any check fails",
    _IN,
    _arg("--checks", required=True,
         help="JSON file: list of check dicts (see operators/checks.py)"),
    _OUT, _FMT,
)
def _run_checks(spark, args):
    from ratatool_spark.operators.checks import run_checks
    from ratatool_spark.sources.io import read_table

    with open(args.checks) as f:
        suite = json.load(f)
    # foreign_key refs come as paths in the JSON form
    for c in suite:
        if c.get("kind") == "foreign_key" and isinstance(c.get("ref"), str):
            c["ref"] = read_table(spark, c["ref"])
    report = run_checks(_read(spark, args, "input"), suite)
    # the report is one row per check — collect it ONCE, then both
    # write and derive the exit status from the collected rows
    # (write_table(report) + a second .count() would re-execute
    # the whole suite: full scan, unique groupBy, FK anti-join)
    rows = report.collect()
    _write(spark.createDataFrame(rows, report.schema), args.output)
    return int(any(not r["passed"] for r in rows))


_SHARDS = _op("sources.shards:write_training_shards", "numShards", "keyFields",
              sink=True)


@_command(
    "writeShards",
    "write deterministic training shards + integrity manifest "
    "(portable-hash assignment, shard=N layout, per-shard checksums)",
    _IN, _OUT,
    _arg("--numShards", type=int, required=True),
    _arg("--keyFields", type=_csv, required=True),
    _arg("--verify", action="store_true",
         help="re-read and verify against the manifest after writing"),
    _FMT,
)
def _write_shards(spark, args):
    from ratatool_spark.sources.shards import verify_shards

    _SHARDS(spark, args)
    return int(args.verify and not verify_shards(spark, args.output)["ok"])


@_command(
    "compact",
    "small-files compaction: rewrite a table into size-targeted, "
    "optionally sort-clustered files (min/max pruning locality)",
    _IN, _OUT,
    _arg("--sortBy", type=_csv, default=None),
    _arg("--zorderBy", type=_csv, default=None),
    _arg("--targetFileMb", type=float, default=128),
    _FMT,
)
def _compact(spark, args):
    from ratatool_spark.sources.io import compact_files

    compact_files(spark, args.input, args.output, sort_cols=args.sortBy,
                  zorder_cols=args.zorderBy, target_file_mb=args.targetFileMb,
                  fmt=args.format, mode="overwrite")


_command(
    "dedupSpans",
    "exact duplicated-span removal (Lee et al. substring dedup): "
    "drop every word span of >= L tokens repeated past a threshold, "
    "reassemble docs from surviving tokens",
    _IN, _OUT, _TEXT, _ID,
    _arg("--spanTokens", type=int, default=50),
    _arg("--maxOccurrences", type=int, default=1),
    _arg("--scope", choices=["corpus", "document"], default="corpus"),
    _FMT,
    run=_op("operators.corpus:remove_duplicate_spans", text_col="textField",
            id_col="idField", span_tokens="spanTokens",
            max_occurrences="maxOccurrences", scope="scope"),
)


@_command(
    "semanticDedup",
    "SemDeDup: cluster embeddings, drop within-cell near-dups "
    "(cosine >= tau), keeping the duplicate farthest from its centroid",
    _IN, _OUT,
    _arg("--tau", type=float, required=True),
    _arg("--idField", default="vec_id"),
    _arg("--vecField", default="embedding"),
    _arg("--nCentroids", type=int, default=8),
    _arg("--trainIters", type=int, default=0),
    _arg("--seed", type=int, default=13),
    _arg("--keptOnly", action="store_true",
         help="write only surviving rows instead of the full kept-flag report"),
    _FMT,
)
def _semantic_dedup(spark, args):
    from pyspark.sql import functions as F

    from ratatool_spark.operators.dedup import semantic_dedup

    df = _read(spark, args, "input")
    rep = semantic_dedup(df, tau=args.tau, n_centroids=args.nCentroids,
                         id_col=args.idField, vec_col=args.vecField,
                         train_iters=args.trainIters, seed=args.seed)
    if not args.keptOnly:
        return rep
    kept = rep.where(F.col("kept")).select(args.idField)
    return df.join(kept, args.idField, "left_semi")


@_command(
    "nbClassify",
    "train a multi-class NB text classifier over hashed word "
    "n-grams from a labeled table, then classify an input table",
    _arg("--train", required=True, help="labeled training table"),
    _arg("--labelField", required=True),
    _arg("--input", required=True, help="table to classify"),
    _OUT, _TEXT, _ID,
    _arg("--n", type=int, default=1, help="word n-gram order"),
    _arg("--nBuckets", type=int, default=10000),
    _arg("--smoothing", type=float, default=0.5),
    _arg("--seed", type=int, default=0),
    _FMT,
)
def _nb_classify(spark, args):
    from ratatool_spark.operators.corpus import nb_classify, train_nb_class_weights

    w, pri = train_nb_class_weights(
        _read(spark, args, "train"), args.labelField, text_col=args.textField,
        n=args.n, n_buckets=args.nBuckets, smoothing=args.smoothing, seed=args.seed,
    )
    return nb_classify(_read(spark, args, "input"), w, pri, args.nBuckets,
                       text_col=args.textField, id_col=args.idField, n=args.n,
                       seed=args.seed)


@_command(
    "qualityClassify",
    "train an NBSVM-style quality classifier (positive corpus vs "
    "negative/raw pool) over hashed n-grams, score every input doc "
    "with mean log-odds + sigmoid",
    _arg("--posInput", required=True, help="trusted/positive corpus"),
    _arg("--negInput", required=True, help="negative / raw pool"),
    _arg("--input", required=True, help="docs to score"),
    _OUT, _TEXT, _ID,
    _arg("--n", type=int, default=2, help="word n-gram order"),
    _arg("--nBuckets", type=int, default=10000),
    _arg("--bias", type=float, default=0.0),
    _arg("--seed", type=int, default=0),
    _FMT,
)
def _quality_classify(spark, args):
    from ratatool_spark.operators.corpus import (
        build_hashed_ngram_freqs,
        quality_classifier_score,
        train_quality_weights,
    )

    def freqs(dest):
        return build_hashed_ngram_freqs(_read(spark, args, dest),
                                        text_col=args.textField, n=args.n,
                                        n_buckets=args.nBuckets, seed=args.seed)

    w = train_quality_weights(freqs("posInput"), freqs("negInput"),
                              n_buckets=args.nBuckets)
    return quality_classifier_score(
        _read(spark, args, "input"), w, n_buckets=args.nBuckets,
        text_col=args.textField, id_col=args.idField, n=args.n, bias=args.bias,
        seed=args.seed,
    )


_command(
    "imageDedup",
    "perceptual image near-dup pairs: dHash over the real "
    "decoders + Manku Hamming-blocked self-join",
    _arg("--input", required=True, help="media table (media_id, content)"),
    _OUT,
    _arg("--maxHamming", type=int, default=6),
    _arg("--gridRows", type=int, default=10),
    _arg("--gridCols", type=int, default=6),
    _FMT,
    run=_op("operators.multimodal:image_near_dup_pairs", max_hamming="maxHamming",
            rows="gridRows", cols="gridCols"),
)

_command(
    "chunkDocs",
    "split documents into fixed-token-count chunks with overlap "
    "(context-window construction; trailing partial kept)",
    _IN, _OUT, _TEXT, _ID,
    _arg("--chunkSize", type=int, default=256),
    _arg("--overlap", type=int, default=32),
    _FMT,
    run=_op("operators.corpus:chunk_documents", text_col="textField",
            id_col="idField", chunk_size="chunkSize", overlap="overlap"),
)

_command(
    "vocabCoverage",
    "per-document OOV rate against a frozen vocab table "
    "(vocab side broadcast; column named by --tokenField)",
    _IN,
    _arg("--vocab", required=True, help="vocab table path"),
    _OUT, _TEXT, _ID,
    _arg("--tokenField", default="token"),
    _FMT,
    run=_op("operators.corpus:vocab_coverage", inputs=("input", "vocab"),
            text_col="textField", id_col="idField", token_col="tokenField"),
)


@_command(
    "kAnonymity",
    "k-anonymity audit over quasi-identifier columns: "
    "per-class sizes + at-risk flags, or the one-row summary",
    _IN, _OUT,
    _arg("--quasiFields", type=_csv, required=True),
    _arg("--k", type=int, default=10),
    _arg("--summary", action="store_true",
         help="write the one-row verdict instead of per-class rows"),
    _FMT,
)
def _k_anonymity(spark, args):
    from ratatool_spark.operators.profile import k_anonymity, k_anonymity_summary

    fn = k_anonymity_summary if args.summary else k_anonymity
    return fn(_read(spark, args, "input"), args.quasiFields, k=args.k)


@_command(
    "bm25Search",
    "BM25 top-k lexical retrieval (fixed-point scores); "
    "optionally against / into a persisted parquet index",
    _arg("--corpus", help="document table (or use --index)"),
    _arg("--queries", required=True, help="(query_id, qtext) table"),
    _OUT,
    _arg("--index", help="persisted index dir (see --saveIndex)"),
    _arg("--saveIndex", help="build + persist the index here first"),
    _arg("--k", type=int, default=10),
    _arg("--k1", type=float, default=1.2),
    _arg("--b", type=float, default=0.75),
    _TEXT, _ID,
    _arg("--maxDf", type=int, default=None),
    _FMT,
)
def _bm25_search(spark, args):
    from ratatool_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_index,
        save_bm25_index,
    )

    q = _read(spark, args, "queries")
    scoring = dict(k=args.k, k1=args.k1, b=args.b, max_df=args.maxDf)
    if args.index and not args.corpus:
        return bm25_topk_index(spark, args.index, q, **scoring)
    if not args.corpus:
        raise SystemExit("bm25Search needs --corpus or --index")
    docs = _read(spark, args, "corpus")
    cols = dict(id_col=args.idField, text_col=args.textField)
    if not args.saveIndex:
        return bm25_topk(docs, q, **scoring, **cols)
    save_bm25_index(docs, args.saveIndex, **cols)
    return bm25_topk_index(spark, args.saveIndex, q, **scoring)


@_command(
    "rrfFuse",
    "reciprocal-rank fusion of N per-query rankings "
    "(hybrid lexical + vector retrieval)",
    _arg("--inputs", type=_csv, required=True,
         help="comma-separated ranking tables (query_id, doc_id, rank)"),
    _OUT,
    _arg("--kRrf", type=int, default=60),
    _arg("--topk", type=int, default=None),
    _FMT,
)
def _rrf_fuse(spark, args):
    from ratatool_spark.operators.retrieval import rrf_fuse
    from ratatool_spark.sources.io import read_table

    rankings = [read_table(spark, p, fmt=args.format) for p in args.inputs]
    return rrf_fuse(rankings, k_rrf=args.kRrf, topk=args.topk)


@_command(
    "c4Filter",
    "C4 page/line cleaning (terminal-punct line filter, "
    "lorem-ipsum/brace/badword page flags)",
    _IN, _OUT, _TEXT, _ID,
    _arg("--minWordsPerLine", type=int, default=5),
    _arg("--minKeptLines", type=int, default=3),
    _arg("--badwords", type=_csv, default=[]),
    _arg("--keepOnly", action="store_true",
         help="write only pages passing every rule"),
    _FMT,
)
def _c4_filter(spark, args):
    from ratatool_spark.operators.corpus import c4_page_filter

    out = c4_page_filter(_read(spark, args, "input"), id_col=args.idField,
                         text_col=args.textField,
                         min_words_per_line=args.minWordsPerLine,
                         min_kept_lines=args.minKeptLines,
                         badwords=tuple(args.badwords))
    return out.where("keep") if args.keepOnly else out


_command(
    "normalizeText",
    "unicode normalization (NFC/NFKC), control-char strip, "
    "whitespace squash — the pre-dedup canonicalization pass",
    _IN, _OUT, _TEXT,
    _arg("--form", default="NFC", choices=["NFC", "NFD", "NFKC", "NFKD", "none"]),
    _arg("--keepControls", action="store_true"),
    _arg("--keepWhitespace", action="store_true"),
    _arg("--lowercase", action="store_true"),
    _FMT,
    run=_op("operators.corpus:normalize_text", text_col="textField",
            form=lambda a: None if a.form == "none" else a.form,
            strip_controls=lambda a: not a.keepControls,
            squash_whitespace=lambda a: not a.keepWhitespace,
            lowercase="lowercase"),
)

_command(
    "pageRank",
    "fixed-point PageRank over an edge list "
    "(link-graph quality prior; bit-reproducible)",
    _arg("--input", required=True, help="edge table"),
    _OUT,
    _arg("--srcField", default="src"),
    _arg("--dstField", default="dst"),
    _arg("--iterations", type=int, default=10),
    _arg("--dampingNum", type=int, default=85),
    _arg("--dampingDen", type=int, default=100),
    _FMT,
    run=_op("operators.graph:pagerank", src="srcField", dst="dstField",
            iterations="iterations", damping_num="dampingNum",
            damping_den="dampingDen"),
)


@_command(
    "urlNormalize",
    "canonicalize a URL column (scheme/host case, default "
    "ports, tracking params, fragments) + host and eTLD+1 domain",
    _IN, _OUT,
    _arg("--urlField", default="url"),
    _FMT,
)
def _url_normalize(spark, args):
    from pyspark.sql import functions as F

    from ratatool_spark.functions.urls import normalize_url, registered_domain, url_host

    u = F.col(args.urlField)
    return _read(spark, args, "input").withColumns({
        "url_norm": normalize_url(u),
        "host": url_host(u),
        "domain": registered_domain(url_host(u)),
    })


_command(
    "mutualInfo",
    "pairwise mutual information / entropies / normalized "
    "leakage score between column pairs",
    _IN,
    _arg("--pairs", type=_csv, required=True,
         help="colon-separated column pairs, comma-delimited: a:b,c:d"),
    _OUT, _FMT,
    run=_op("operators.profile:mutual_information",
            lambda a: [tuple(_split(p, 2, "--pairs", "colon-separated pairs",
                                    maxsplit=1)) for p in a.pairs]),
)

_command(
    "madOutliers",
    "robust per-group outlier flags via the MAD modified "
    "z-score (Iglewicz-Hoaglin)",
    _IN, _OUT,
    _arg("--valueField", required=True),
    _arg("--groupBy", type=_csv, default=[]),
    _arg("--cutoff", type=float, default=3.5),
    _arg("--exact", action="store_true",
         help="exact percentiles (default: mergeable approx sketches)"),
    _FMT,
    run=_op("operators.profile:mad_outliers", "valueField",
            lambda a: a.groupBy or None, k="cutoff",
            approx=lambda a: not a.exact),
)

_command(
    "sketchJoinSize",
    "estimate equi-join output cardinality from two count-min "
    "sketch tables (no fact rescan)",
    _arg("--sketchA", required=True),
    _arg("--sketchB", required=True),
    _OUT,
    run=_op("operators.freq:sketch_join_size",
            inputs=(("sketchA", "parquet"), ("sketchB", "parquet"))),
)

_command(
    "driftReport",
    "PSI drift between two table snapshots "
    "(categorical top-k pooled bins, numeric equi-width bins)",
    _arg("--lhs", required=True),
    _arg("--rhs", required=True),
    _OUT,
    _arg("--categorical", type=_csv, default=[]),
    _arg("--numeric", type=_csv, default=[]),
    _arg("--buckets", type=int, default=10),
    _arg("--topK", type=int, default=20),
    _FMT,
    run=_op("operators.profile:drift_report", inputs=("lhs", "rhs"),
            categorical=lambda a: a.categorical or None,
            numeric=lambda a: a.numeric or None, n_buckets="buckets",
            top_k="topK"),
)


@_command(
    "updateIvfIndex",
    "append vectors to a persisted IVF ANN index against its "
    "frozen centroids (no retrain)",
    _arg("--index", required=True),
    _arg("--input", required=True, help="new vector table"),
    _FMT,
)
def _update_ivf_index(spark, args):
    from ratatool_spark.operators.similarity import update_ivf_index

    _emit(update_ivf_index(spark, args.index, _read(spark, args, "input")))


_command(
    "neymanSampler",
    "exact-count stratified sample under Neyman (variance-"
    "optimal) allocation: n_h proportional to N_h*stddev(value)",
    _IN, _OUT,
    _arg("--totalN", type=int, required=True),
    _arg("--valueField", required=True),
    _arg("--strata", type=_csv, required=True),
    _arg("--fields", type=_csv, required=True, help="dice fields"),
    _arg("--seed", type=int, default=42),
    _FMT,
    run=_op("operators.sampler:sample_neyman", total_n="totalN",
            value_col="valueField", strata="strata", fields="fields", seed="seed"),
)


@_command(
    "zorderWrite",
    "rewrite a table clustered by the z-order (Morton) key of "
    "the given columns so parquet min/max stats prune scans on every "
    "z-column",
    _IN, _OUT,
    _arg("--by", type=_csv, required=True, help="z-order columns"),
    _arg("--bits", type=int, default=16),
    _arg("--numPartitions", type=int, default=None),
    _arg("--curve", choices=["zorder", "hilbert"], default="zorder",
         help="space-filling curve (hilbert: tighter boxes, same write shape)"),
    _FMT,
)
def _zorder_write(spark, args):
    from ratatool_spark.operators.layout import hilbert_repartition, zorder_repartition

    rep = hilbert_repartition if args.curve == "hilbert" else zorder_repartition
    return rep(_read(spark, args, "input"), args.by, bits=args.bits,
               num_partitions=args.numPartitions)


@_command(
    "rendezvousShard",
    "assign rows to named shards by rendezvous (HRW) hashing — "
    "adding/removing a shard moves only that shard's keys",
    _IN, _OUT,
    _arg("--keyField", required=True),
    _arg("--shards", type=_csv, required=True),
    _arg("--seed", type=int, default=0),
    _FMT,
)
def _rendezvous_shard(spark, args):
    from pyspark.sql import functions as F

    from ratatool_spark.operators.layout import rendezvous_shard

    shard = rendezvous_shard(F.col(args.keyField), args.shards, args.seed)
    return _read(spark, args, "input").withColumn("shard", shard)


_command(
    "recordLinkage",
    "Fellegi-Sunter probabilistic record linkage over blocked "
    "candidate pairs (compare spec: col:m:u, repeatable)",
    _arg("--lhs", required=True),
    _arg("--rhs", required=True),
    _OUT,
    _arg("--lhsId", required=True),
    _arg("--rhsId", required=True),
    _arg("--blockField", required=True),
    _arg("--compare", action="append", required=True,
         help="field:m:u (e.g. phone:0.95:0.001); repeat per field"),
    _arg("--threshold", type=float, default=0.0),
    _arg("--maxBlockSize", type=int, default=1000),
    _FMT,
    run=_op("operators.fuzzy:fellegi_sunter_links", "lhsId", "rhsId", "blockField",
            lambda a: [(col, col, float(m), float(u)) for col, m, u in
                       (_split(spec, 3, "--compare", "field:m:u", maxsplit=2,
                               blanks=True, right=True) for spec in a.compare)],
            inputs=("lhs", "rhs"), threshold="threshold",
            max_block_size="maxBlockSize"),
)


@_command(
    "linkage",
    "probabilistic record linkage (Fellegi-Sunter): train m/u "
    "by EM over blocked candidate pairs, score links with trained "
    "or supplied weights",
    _arg("--mode", choices=["train", "score", "auto"], required=True),
    _arg("--leftInput", required=True),
    _arg("--rightInput", required=True),
    _arg("--output", required=True, help="links table, or model JSON for train"),
    _arg("--leftId", required=True),
    _arg("--rightId", required=True),
    _arg("--blockField", type=_csv, required=True,
         help="one or more blocking keys (comma-separated, multi-pass)"),
    _arg("--compare", type=_csv, required=True,
         help="train/auto: column pairs left:right; score: "
         "left:right:m:u quadruples"),
    _arg("--model", help="score mode: model JSON from train"),
    _arg("--iters", type=int, default=5),
    _arg("--threshold", type=float, default=0.0),
    _arg("--maxBlockSize", type=int, default=1000),
    _FMT,
)
def _linkage(spark, args):
    from ratatool_spark.operators.fuzzy import fellegi_sunter_em, fellegi_sunter_links
    from ratatool_spark.sources.shards import _read_text, _write_text

    left = _read(spark, args, "leftInput")
    right = _read(spark, args, "rightInput")
    on = (left, right, args.leftId, args.rightId, args.blockField)
    if args.mode == "score" and args.model:
        fields = json.loads(_read_text(spark, args.model))["fields"]
    elif args.mode == "score":
        fields = []
        for spec in args.compare:
            lc, rc, m, u = _split(spec, 4, "--compare in score mode", "left:right:m:u")
            fields.append({"left": lc, "right": rc, "m": float(m), "u": float(u)})
    else:
        pairs = _col_pairs(args.compare)
        model = fellegi_sunter_em(*on, pairs, n_iters=args.iters,
                                  max_block_size=args.maxBlockSize)
        fields = [{"left": lc, "right": rc, "m": m, "u": u}
                  for (lc, rc), (m, u) in zip(pairs, model["fields"])]
        if args.mode == "train":
            model_json = json.dumps({"lam": model["lam"], "fields": fields})
            _write_text(spark, args.output, model_json)
            return None
    compares = [(f["left"], f["right"], f["m"], f["u"]) for f in fields]
    return fellegi_sunter_links(*on, compares, threshold=args.threshold,
                                max_block_size=args.maxBlockSize)


@_command(
    "zorderAudit",
    "row-group skip audit from parquet footer min/max stats: "
    "how many groups a conjunctive range predicate scans vs prunes",
    _arg("--input", required=True, help="parquet file or directory"),
    _arg("--box", type=_csv, required=True,
         help="col:lo:hi triples (comma-separated) — the range predicate"),
)
def _zorder_audit(spark, args):
    from ratatool_spark.operators.layout import row_group_skip_audit, row_group_stats

    box = {}
    for spec in args.box:
        col, lo, hi = _split(spec, 3, "--box", "col:lo:hi triples")
        box[col] = (float(lo), float(hi))
    stats = row_group_stats(args.input, list(box))
    n_groups, n_scanned = row_group_skip_audit(stats, box)
    _emit({"n_row_groups": n_groups, "n_scanned": n_scanned,
           "n_pruned": n_groups - n_scanned})


@_command(
    "scd2",
    "SCD Type-2 history: build versioned dimension rows from a "
    "changelog, or merge a change batch into an existing history "
    "(incremental == rebuild)",
    _arg("--mode", choices=["history", "apply"], required=True),
    _arg("--input", required=True, help="change stream table"),
    _arg("--history", help="apply mode: existing SCD2 table"),
    _OUT,
    _arg("--key", type=_csv, required=True, help="business key column(s)"),
    _arg("--ts", required=True, help="change timestamp column"),
    _arg("--attrs", type=_csv, required=True, help="tracked attribute column(s)"),
    _arg("--changeId", default=None, help="tie-break column for equal timestamps"),
    _arg("--keepChangeId", action="store_true",
         help="carry the change id into the output so later applies replay "
         "ties exactly"),
    _arg("--noCollapse", action="store_true", help="keep no-op versions"),
    _FMT,
)
def _scd2(spark, args):
    from ratatool_spark.operators.scd2 import scd2_apply, scd2_history

    changes = _read(spark, args, "input")
    spec = (args.key, args.ts, args.attrs)
    kw = dict(change_id=args.changeId, collapse=not args.noCollapse,
              keep_change_id=args.keepChangeId)
    if args.mode == "history":
        return scd2_history(changes, *spec, **kw)
    return scd2_apply(_read(spark, args, "history"), changes, *spec, **kw)


_command(
    "compactionPlan",
    "bin-pack a file/partition manifest into ~targetBytes "
    "compaction bins (size-desc cumulative-sum assignment)",
    _arg("--input", required=True, help="manifest table (one row per file)"),
    _OUT,
    _arg("--sizeField", required=True),
    _arg("--orderField", type=_csv, required=True, help="tie-break column(s)"),
    _arg("--targetBytes", type=int, required=True),
    _FMT,
    run=_op("operators.layout:compaction_plan", "sizeField", "orderField",
            "targetBytes"),
)


@_command(
    "logreg",
    "fixed-point logistic regression: bit-reproducible "
    "full-batch gradient descent over integer count features "
    "(train writes a weights JSON; score applies one)",
    _arg("--mode", choices=["train", "score"], required=True),
    _IN,
    _arg("--features", type=_csv, required=True, help="integer feature column(s)"),
    _arg("--label", help="train mode: 0/1 label column"),
    _arg("--scales", type=_csv, default=None,
         help="per-feature scale constants (default 1.0 each)"),
    _arg("--lr", type=float, default=1.0),
    _arg("--iters", type=int, default=4),
    _arg("--model", required=True,
         help="weights JSON path (written by train, read by score)"),
    _arg("--output", help="score mode: scored table destination"),
    _FMT,
)
def _logreg(spark, args):
    from ratatool_spark.operators.linear import lr_score, train_lr_fixed_point
    from ratatool_spark.sources.shards import _read_text, _write_text

    df = _read(spark, args, "input")
    if args.mode == "score":
        meta = json.loads(_read_text(spark, args.model))
        return lr_score(df, meta["features"], meta["scales"], meta["weights"])
    scales = [float(x) for x in args.scales] if args.scales else None
    w = train_lr_fixed_point(df, args.features, args.label, scales=scales,
                             lr=args.lr, n_iters=args.iters)
    _write_text(spark, args.model, json.dumps({
        "version": 1, "features": args.features,
        "scales": scales or [1.0] * len(args.features),
        "weights": w,
    }))
    _emit({"weights": w})


def _where_box(triples: list[str]) -> dict:
    box = {}
    for trip in triples:
        c, lo, hi = _split(trip, 3, "--where", "col:lo:hi triples")
        try:
            box[c] = (int(lo), int(hi))
        except ValueError:
            box[c] = (float(lo), float(hi))
    return box


def _parse_spec(items: list[str] | None) -> list[dict] | None:
    spec = []
    for item in items or ():
        parts = item.split(":")
        d = {"col": parts[0], "transform": parts[1] if len(parts) > 1 else "identity"}
        if len(parts) > 2:
            d["param"] = int(parts[2])
        spec.append(d)
    return spec or None


@_command(
    "snapshot",
    "snapshot-manifest table maintenance: atomic append/replace "
    "commits, time-travel read, bin-packed compaction, expiry",
    _arg("--mode",
         choices=["append", "read", "compact", "cluster", "merge",
                  "merge-mor", "fold", "delete", "delete-mor", "delete-rows",
                  "drop-partition", "expire", "vacuum",
                  "changes", "mirror", "rollback", "log",
                  "stage", "read-branch", "publish", "discard",
                  "create-branch", "append-branch", "read-branch-snapshot",
                  "fast-forward", "delete-branch", "branches",
                  "metadata",
                  "add-constraint", "drop-constraint",
                  "rename-column", "widen-column", "evolve-spec",
                  "tag", "untag", "tags", "set-bloom", "count", "agg"],
         required=True),
    _arg("--table", required=True, help="snapshot table root"),
    _arg("--input", help="append/merge mode: data to commit"),
    _arg("--keys", type=_csv, default=None,
         help="merge/merge-mor mode: upsert key column(s)"),
    _arg("--fromId", type=int, default=None,
         help="changes mode: feed from this snapshot (exclusive)"),
    _arg("--source", default=None,
         help="mirror mode: source snapshot table to subscribe to"),
    _arg("--checkpoint", default=None,
         help="mirror mode: streaming checkpoint location"),
    _arg("--zorderBy", type=_csv, default=None,
         help="cluster mode: z-order column(s)"),
    _arg("--curve", choices=["zorder", "hilbert"], default="zorder",
         help="cluster mode: space-filling curve"),
    _arg("--where", type=_csv, default=None,
         help="delete/read mode: col:lo:hi triples (conjunctive ranges)"),
    _arg("--output", help="read/log mode: where to write the result"),
    _arg("--snapshotId", type=int, default=None,
         help="read mode: time-travel to this snapshot (default: current)"),
    _arg("--targetBytes", type=int, default=512 * 1024 * 1024,
         help="compact mode: bin size (default 512 MiB)"),
    _arg("--keepLast", type=int, default=1,
         help="expire mode: snapshots to retain (default 1)"),
    _arg("--dryRun", action="store_true",
         help="expire/vacuum mode: list deletable files without deleting"),
    _arg("--partitionBy", type=_csv, default=None,
         help="append mode, first commit only: partition spec items as "
         "col:transform[:param] (identity/truncate/bucket/month)"),
    _arg("--predicate", default=None,
         help="delete-rows mode: SQL predicate selecting rows to remove "
         "(merge-on-read position delete)"),
    _arg("--partition", type=_csv, default=None,
         help="drop-partition mode: name=value pairs (value 'null' "
         "matches the NULL partition)"),
    _arg("--branch", default=None,
         help="stage/read-branch/publish/discard mode (write-audit-"
         "publish) and create-branch/append-branch/read-branch-snapshot/"
         "fast-forward/delete-branch (named multi-commit branches): "
         "branch name; with merge/merge-mor/delete/delete-mor/fold the "
         "write lands on the BRANCH head instead of main"),
    _arg("--metadataKind", default=None,
         choices=["files", "snapshots", "history", "partitions", "refs"],
         help="metadata mode: which inspection table to emit"),
    _arg("--name", default=None,
         help="add-constraint/drop-constraint mode: constraint name"),
    _arg("--expr", default=None,
         help="add-constraint mode: CHECK expression (SQL; NULL passes)"),
    _arg("--olderThan", type=float, default=6 * 3600.0,
         help="vacuum mode: only remove orphans older than this many "
         "seconds (default 6h) — protects in-flight commits whose "
         "manifest has not been published yet"),
    _arg("--column", default=None,
         help="rename-column/widen-column mode: the column to evolve"),
    _arg("--to", default=None,
         help="rename-column: the new name; widen-column: the wider type "
         "(exact promotions only: tinyint→smallint→int→bigint, "
         "float→double)"),
    _arg("--spec", type=_csv, default=None,
         help="evolve-spec mode: new partition spec items as "
         "col:transform[:param] — future writes route through it; "
         "existing files keep their layout"),
    _arg("--tagName", default=None,
         help="tag/untag mode: the tag name (tag also accepts "
         "--snapshotId; default current); read mode: time-travel to the "
         "tagged snapshot. Tagged snapshots never expire."),
    _arg("--minmaxCols", type=_csv, default=None,
         help="agg mode: columns to MIN/MAX alongside COUNT(*)"),
    _arg("--whereEq", type=_csv, default=None,
         help="agg mode: col:value equality conjunction (identity "
         "partition value, or the granule string on a time transform)"),
    _arg("--bloomCols", type=_csv, default=None,
         help="set-bloom mode: columns to build per-file bloom filters "
         "on (future writes; point lookups and scattered-key merges "
         "then skip non-holding files)"),
    _arg("--bitsPerKey", type=int, default=10,
         help="set-bloom mode: bloom bits per row (default 10, ~1%% "
         "false positives)"),
    _FMT,
)
def _snapshot(spark, args):
    """Each mode returns a dict (printed as one JSON line), a DataFrame
    (written to ``--output``) or None (it printed or wrote itself)."""
    from ratatool_spark.operators import snapshots as snap
    from ratatool_spark.sources.io import write_table

    t, branch = args.table, args.branch
    if args.mode in ("read", "count") and args.tagName is not None \
            and args.snapshotId is None:
        args.snapshotId = snap.read_tag(t, args.tagName)

    def head(*rest, **kw):  # the mode's main or branch commit
        main_fn, branch_fn = _SNAP_BRANCHED[args.mode]
        fn = getattr(snap, branch_fn if branch else main_fn)
        return fn(*((spark, t, branch) if branch else (spark, t)), *rest, **kw)

    def sid(v, flag=None):
        return {"snapshot_id": v, flag: v is not None} if flag else {"snapshot_id": v}

    def removed(dead):
        return {"n_removed": len(dead), "removed": dead}

    def data():
        return _read(spark, args, "input")

    def inspected(out):  # inspection writes keep the error-if-exists default
        write_table(out, args.output, fmt=args.format)
        return {"rows": out.count(), "output": args.output}

    def metadata():
        out = snap.metadata_table(spark, t, args.metadataKind,
                                  snapshot_id=args.snapshotId, branch=branch)
        if args.output:
            return inspected(out)
        for r in out.collect():
            _emit(r.asDict(), default=str)

    def agg():
        where = dict(
            _split(p, 2, "--whereEq", "col:value pairs", maxsplit=1, blanks=True)
            for p in args.whereEq
        ) if args.whereEq else None
        out, md = snap.scan_aggregate(
            spark, t, minmax_cols=tuple(args.minmaxCols or ()),
            snapshot_id=args.snapshotId, where=where,
        )
        return {**out.collect()[0].asDict(), "from_metadata": md}

    def set_bloom():
        os.makedirs(t, exist_ok=True)
        snap.set_bloom_filter(t, args.bloomCols, bits_per_key=args.bitsPerKey)
        return snap.table_properties(t)

    def add_constraint():
        snap.add_constraint(spark, t, args.name, args.expr)
        return {"added": args.name}

    def partition():
        vals = {}
        for pair in args.partition:
            k, v = _split(pair, 2, "--partition", "name=value pairs", sep="=",
                          maxsplit=1, blanks=True)
            vals[k] = None if v == "null" else v
        return vals

    def mirror():
        from ratatool_spark.streaming.snapshots import stream_snapshot_mirror

        q = stream_snapshot_mirror(spark, args.source, t, args.checkpoint)
        q.awaitTermination()
        return sid(snap.current_snapshot_id(t))

    def log():
        out = snap.snapshot_log(spark, t)
        if args.output:
            return out
        for r in out.orderBy("snapshot_id").collect():
            _emit(r.asDict())

    modes = {
        "append": lambda: sid(snap.commit_append(
            data(), t, partition_spec=_parse_spec(args.partitionBy))),
        "rename-column": lambda: sid(snap.rename_column(t, args.column, args.to)),
        "widen-column": lambda: sid(snap.widen_column_type(t, args.column, args.to)),
        "evolve-spec": lambda: sid(
            snap.evolve_partition_spec(t, _parse_spec(args.spec))),
        "create-branch": lambda: {"branch": branch, "base": snap.create_branch(
            t, branch, snapshot_id=args.snapshotId)},
        "append-branch": lambda: {"branch": branch, "branch_snapshot_id":
                                  snap.commit_append_branch(data(), t, branch)},
        "read-branch-snapshot": lambda: inspected(snap.read_branch_snapshot(
            spark, t, branch, snapshot_id=args.snapshotId)),
        "fast-forward": lambda: {"branch": branch, "snapshot_id":
                                 snap.fast_forward_branch(t, branch, spark=spark)},
        "delete-branch": lambda: {"branch": branch,
                                  "existed": snap.delete_branch(t, branch)},
        "branches": lambda: snap.table_branches(t),
        "metadata": metadata,
        "tag": lambda: {"tag": args.tagName, "snapshot_id": snap.create_tag(
            t, args.tagName, snapshot_id=args.snapshotId)},
        "untag": lambda: {"tag": args.tagName,
                          "existed": snap.delete_tag(t, args.tagName)},
        "tags": lambda: snap.table_tags(t),
        "count": lambda: {"rows": snap.snapshot_rowcount(t, args.snapshotId),
                          "snapshot_id": args.snapshotId
                          or snap.current_snapshot_id(t)},
        "agg": agg,
        "set-bloom": set_bloom,
        "stage": lambda: {"staged_on": snap.stage_append(data(), t, branch),
                          "branch": branch},
        "read-branch": lambda: snap.read_branch(spark, t, branch),
        "publish": lambda: sid(snap.publish_branch(spark, t, branch)),
        "discard": lambda: {"discarded": snap.discard_branch(t, branch)},
        "add-constraint": add_constraint,
        "drop-constraint": lambda: {"dropped": snap.drop_constraint(t, args.name)},
        "delete-rows": lambda: sid(
            snap.delete_snapshot_rows_mor(spark, t, args.predicate)),
        "drop-partition": lambda: sid(snap.drop_partition(spark, t, partition())),
        "read": lambda: snap.read_snapshot(
            spark, t, args.snapshotId, where=_where_box(args.where or []) or None),
        "merge": lambda: sid(head(data(), args.keys)),
        "merge-mor": lambda: sid(head(data(), args.keys)),
        "fold": lambda: sid(head(), "folded"),
        "changes": lambda: snap.snapshot_change_feed(
            spark, t, args.fromId, args.snapshotId),
        "mirror": mirror,
        "delete": lambda: sid(head(_where_box(args.where))),
        "delete-mor": lambda: sid(head(_where_box(args.where))),
        "cluster": lambda: sid(head(args.zorderBy, curve=args.curve)),
        "compact": lambda: sid(head(args.targetBytes), "compacted"),
        "rollback": lambda: sid(snap.rollback_snapshot(t, args.snapshotId)),
        "expire": lambda: removed(snap.expire_snapshots(
            t, keep_last=args.keepLast, delete=not args.dryRun)),
        "vacuum": lambda: removed(snap.vacuum_orphans(
            t, delete=not args.dryRun, older_than=args.olderThan)),
        "log": log,
    }
    out = modes[args.mode]()
    if not isinstance(out, dict):
        return out
    _emit(out)


@_command(
    "decontaminate",
    "drop corpus docs that fuzzy-match a benchmark corpus "
    "(cross-corpus MinHash-LSH flag + anti-join)",
    _IN,
    _arg("--benchmark", required=True),
    _OUT, _TEXT, _ID,
    _arg("--minEstJaccard", type=float, default=0.5),
    _arg("--numHashes", type=int, default=16),
    _arg("--bands", type=int, default=4),
    _FMT,
)
def _decontaminate(spark, args):
    from pyspark.sql import functions as F

    from ratatool_spark.operators.dedup import minhash_lsh_cross_pairs

    df = _read(spark, args, "input")
    pairs = minhash_lsh_cross_pairs(
        df, _read(spark, args, "benchmark"), text_col=args.textField,
        id_col=args.idField, num_hashes=args.numHashes, bands=args.bands,
        min_est_jaccard=args.minEstJaccard,
    )
    flagged = pairs.select(F.col("left_id").alias(args.idField)).distinct()
    return df.join(flagged, args.idField, "left_anti")


# ------------------------------------------------------------------ entry


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ratatool_spark")
    sub = p.add_subparsers(dest="command", required=True)
    for name, (text, flags, _) in _COMMANDS.items():
        s = sub.add_parser(name, help=text)
        for option_strings, kw in flags:
            s.add_argument(*option_strings, **kw)
    return p


def _require(args: argparse.Namespace) -> None:
    """Exit 1 unless every flag the chosen ``--mode`` needs is set."""
    dests = _MODE_FLAGS.get(args.command, {}).get(getattr(args, "mode", None), ())
    if any(getattr(args, d) in (None, "", []) for d in dests):
        flags = " and ".join(f"--{d}" for d in dests)
        verb = "is" if len(dests) == 1 else "are"
        raise SystemExit(f"{flags} {verb} required with --mode {args.mode}")


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    _require(args)
    from pyspark.sql import DataFrame, SparkSession

    from ratatool_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(f"ratatool_{args.command}")
    try:
        out = _COMMANDS[args.command][2](spark, args)
        if isinstance(out, DataFrame):
            _write(out, args.output)
            return 0
        return out or 0
    finally:
        if not preexisting:  # don't tear down a session we joined
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
