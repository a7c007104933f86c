"""CLI surface: the parser golden, the subcommands and snapshot modes no
other test drives, malformed ``a:b`` flags, and the README verb list.

Regenerate the parser golden (only when a flag is meant to change) with
``python tests/test_cli.py``.
"""

import argparse
import io
import json
import pathlib
import re
from contextlib import redirect_stdout

import pytest

GOLDEN = pathlib.Path(__file__).parent / "cli_parser_golden.json"


def _action(a: argparse.Action) -> dict:
    t = a.type
    return {
        "option_strings": list(a.option_strings),
        "dest": a.dest,
        "default": a.default,
        "type": None if t is None else t.__name__,
        "choices": None if a.choices is None else list(a.choices),
        "nargs": a.nargs,
        "required": a.required,
        "const": a.const,
        "help": a.help,
        "action": type(a).__name__,
    }


def _serialise(parser: argparse.ArgumentParser) -> dict:
    """Every subcommand's help line, its actions (sorted by dest) and
    their declaration order, which fixes the ``--help`` layout."""
    sub = next(
        a for a in parser._actions if isinstance(a, argparse._SubParsersAction)
    )
    helps = {a.dest: a.help for a in sub._choices_actions}
    out = {}
    for name, sp in sub.choices.items():
        out[name] = {
            "help": helps[name],
            "order": [a.dest for a in sp._actions],
            "actions": [
                _action(a) for a in sorted(
                    sp._actions, key=lambda a: (a.dest, a.option_strings)
                )
            ],
        }
    return {"command_required": sub.required, "subcommands": out}


def _golden_text() -> str:
    from ratatool_spark.cli import build_parser

    return json.dumps(_serialise(build_parser()), indent=1, sort_keys=True) + "\n"


def test_parser_golden():
    """Every flag, alias, default, choice, type and help text, frozen."""
    assert _golden_text() == GOLDEN.read_text()


def test_build_parser_imports_only_cli():
    import subprocess
    import sys

    code = (
        "import sys, ratatool_spark.cli as c; c.build_parser(); "
        "print(sorted(m for m in sys.modules if m.startswith('ratatool_spark')))"
    )
    got = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True,
        cwd=pathlib.Path(__file__).parent.parent,
    ).stdout.strip()
    assert got == "['ratatool_spark', 'ratatool_spark.cli']"


def test_readme_lists_every_subcommand():
    """README's CLI row names exactly the parser's subcommands."""
    from ratatool_spark.cli import build_parser

    sub = next(
        a for a in build_parser()._actions
        if isinstance(a, argparse._SubParsersAction)
    )
    readme = (pathlib.Path(__file__).parent.parent / "README.md").read_text()
    row = re.search(r"^\| CLI: (.*?) \|", readme, re.M)
    assert row, "README no longer has the CLI row"
    assert sorted(v.strip() for v in row[1].split(" / ")) == sorted(sub.choices)


def _run(*argv) -> list[dict]:
    from ratatool_spark.cli import main

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(list(argv)) == 0
    return [json.loads(ln) for ln in buf.getvalue().splitlines() if ln]


DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cat sat on the hat"),
    (3, "a dog ran in the park"),
]


def test_cli_direct_sampler(spark, tmp_path):
    src, head, rnd = (str(tmp_path / n) for n in ("in", "head", "rnd"))
    spark.range(50).write.parquet(src)
    _run("directSampler", "--input", src, "--output", head, "-n", "7", "--head")
    _run("directSampler", "--input", src, "--output", rnd, "-n", "5",
         "--seed", "3")
    assert spark.read.parquet(head).count() == 7
    got = [r.id for r in spark.read.parquet(rnd).collect()]
    assert len(got) == len(set(got)) == 5 and set(got) <= set(range(50))


def test_cli_wordpiece_train_then_segment(spark, tmp_path):
    src, tok = str(tmp_path / "docs"), str(tmp_path / "wp.json")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(src)
    _run("wordpieceTrain", "--input", src, "--output", tok, "--nMerges", "8",
         "--batch", "2", "--pool", "8")
    meta = json.loads(pathlib.Path(tok).read_text())
    assert meta["algo"] == "wordpiece" and meta["merges"] and meta["vocab"]
    for mode in ("replay", "match"):
        out = str(tmp_path / mode)
        _run("wordpieceSegment", "--input", src, "--output", out,
             "--tokenizer", tok, "--mode", mode)
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 3
        assert all(r.n_wp_tokens == len(r.wp_syms) > 0 for r in rows)


def test_cli_chunk_docs(spark, tmp_path):
    src, out = str(tmp_path / "docs"), str(tmp_path / "out")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(src)
    _run("chunkDocs", "--input", src, "--output", out, "--chunkSize", "4",
         "--overlap", "1")
    per_doc = {}
    for r in spark.read.parquet(out).collect():
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    assert per_doc == {1: 2, 2: 2, 3: 2}  # 6 tokens, stride 3: [0:4], [3:6]


def test_cli_vocab_coverage(spark, tmp_path):
    src, voc, out = (str(tmp_path / n) for n in ("docs", "vocab", "out"))
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(src)
    spark.createDataFrame(
        [(w,) for w in "the cat sat on mat".split()], "token string"
    ).write.parquet(voc)
    _run("vocabCoverage", "--input", src, "--vocab", voc, "--output", out)
    got = {r.doc_id: r.n_oov for r in spark.read.parquet(out).collect()}
    assert got == {1: 0, 2: 1, 3: 5}


def test_cli_k_anonymity(spark, tmp_path):
    src, rows, summ = (str(tmp_path / n) for n in ("in", "rows", "summ"))
    spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 1), ("b", 2)], "zip string, age int"
    ).write.parquet(src)
    _run("kAnonymity", "--input", src, "--output", rows,
         "--quasiFields", "zip,age", "--k", "2")
    _run("kAnonymity", "--input", src, "--output", summ,
         "--quasiFields", "zip,age", "--k", "2", "--summary")
    got = {r.zip: (r.class_size, r.at_risk)
           for r in spark.read.parquet(rows).collect()}
    assert got == {"a": (3, False), "b": (1, True)}
    (s,) = spark.read.parquet(summ).collect()
    assert (s.k_min, s.n_classes, s.n_rows_at_risk) == (1, 2, 1)


def test_cli_snapshot_maintenance_modes(spark, tmp_path):
    """tag/untag/tags, rollback, column and spec evolution, MoR range
    delete, branch snapshot read and delete, bloom and vacuum."""
    root = str(tmp_path)
    tbl = f"{root}/tbl"
    spark.createDataFrame(
        [(i, i * 10, "ab"[i % 2]) for i in range(10)],
        "id long, val int, g string",
    ).write.parquet(f"{root}/in")
    spark.createDataFrame(
        [(i, i * 10, "a") for i in range(10, 14)], "id long, val int, g string"
    ).write.parquet(f"{root}/in2")

    def snap(mode, *rest):
        return _run("snapshot", "--mode", mode, "--table", tbl, *rest)

    assert snap("append", "--input", f"{root}/in",
                "--partitionBy", "g")[0]["snapshot_id"] == 1
    assert snap("append", "--input", f"{root}/in2")[0]["snapshot_id"] == 2
    assert snap("tag", "--tagName", "v1", "--snapshotId", "1") == [
        {"tag": "v1", "snapshot_id": 1}]
    assert snap("tags")[0]["v1"]["snapshot_id"] == 1
    assert snap("untag", "--tagName", "v1") == [{"tag": "v1", "existed": True}]
    assert snap("untag", "--tagName", "v1") == [{"tag": "v1", "existed": False}]
    assert snap("tags") == [{}]
    assert snap("rollback", "--snapshotId", "1") == [{"snapshot_id": 3}]
    assert snap("count")[0] == {"rows": 10, "snapshot_id": 3}
    assert snap("rename-column", "--column", "val", "--to", "value") == [
        {"snapshot_id": 4}]
    assert snap("widen-column", "--column", "value", "--to", "bigint") == [
        {"snapshot_id": 5}]
    assert snap("evolve-spec", "--spec", "g,id:bucket:2") == [
        {"snapshot_id": 6}]
    assert snap("delete-mor", "--where", "id:0:2") == [{"snapshot_id": 7}]
    assert snap("create-branch", "--branch", "dev")[0]["base"] == 7
    out = f"{root}/dev_rows"
    assert snap("read-branch-snapshot", "--branch", "dev",
                "--output", out) == [{"rows": 7, "output": out}]
    got = spark.read.parquet(out)
    assert sorted(r.id for r in got.collect()) == list(range(3, 10))
    assert dict(got.dtypes)["value"] == "bigint"
    assert snap("delete-branch", "--branch", "dev") == [
        {"branch": "dev", "existed": True}]
    assert snap("branches") == [{}]
    props = snap("set-bloom", "--bloomCols", "id", "--bitsPerKey", "8")[0]
    assert "id" in json.dumps(props)
    (vac,) = snap("vacuum", "--dryRun")
    assert vac["n_removed"] == len(vac["removed"])


@pytest.mark.parametrize("argv, flag", [
    (["snapshot", "--mode", "delete", "--where", "a:1"], "--where"),
    (["snapshot", "--mode", "drop-partition", "--partition", "zz"],
     "--partition"),
    (["snapshot", "--mode", "agg", "--whereEq", "z"], "--whereEq"),
    (["recordLinkage", "--lhs", "{in}", "--rhs", "{in}", "--output", "{out}",
      "--lhsId", "id", "--rhsId", "id", "--blockField", "g",
      "--compare", "phone:0.9"], "--compare"),
    (["mixtureSample", "--input", "{in}", "--output", "{out}",
      "--shares", "web"], "--shares"),
])
def test_malformed_pair_flags_exit_with_message(spark, tmp_path, argv, flag):
    """Each malformed ``a:b`` value exits 1 naming the flag and the value,
    not with a bare ValueError traceback."""
    from ratatool_spark.cli import main

    tbl = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "x")], "id long, g string").write.parquet(
        str(tmp_path / "in")
    )
    main(["snapshot", "--mode", "append", "--table", tbl,
          "--input", str(tmp_path / "in"), "--partitionBy", "g"])
    args = [a.replace("{in}", str(tmp_path / "in"))
            .replace("{out}", str(tmp_path / "out")) for a in argv]
    if argv[0] == "snapshot":
        args += ["--table", tbl]
    with pytest.raises(SystemExit) as e:
        main(args)
    assert isinstance(e.value.code, str)
    assert e.value.code.startswith(f"{flag} expects ")
    assert repr(argv[-1]) in e.value.code


if __name__ == "__main__":
    import sys

    sys.path.insert(0, str(GOLDEN.parent.parent))
    GOLDEN.write_text(_golden_text())
