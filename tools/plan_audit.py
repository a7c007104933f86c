"""Generate PLANS.md: a physical-plan audit of every queries() entry.

For each query: shuffle-exchange count, broadcast joins, join strategies,
scans with pushed filters and read-column counts, Python-boundary nodes
(ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas), and whole-stage
codegen spans. This is the evidence trail for the 100 TB design claims in
PERF.md — regenerate after plan-affecting changes:

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def strip_initial_plans(plan: str) -> str:
    """Drop every AQE "== Initial Plan ==" section — the NOT-executed
    pre-adaptive plan that toString prints alongside the final plan for
    each (sub)query. Counting it would double every exchange/scan of a
    materialized cached build."""
    lines = plan.split("\n")
    out, i = [], 0
    while i < len(lines):
        line = lines[i]
        if "== Initial Plan ==" in line:
            ind = len(line) - len(line.lstrip())
            i += 1
            while i < len(lines) and lines[i].strip() and (
                len(lines[i]) - len(lines[i].lstrip()) > ind
            ):
                i += 1
            continue
        out.append(line)
        i += 1
    return "\n".join(out)


def strip_cached_builds(plan: str) -> str:
    """Keep each InMemoryRelation's BUILD subtree once, drop repeats.

    A persisted relation prints its build plan inline under EVERY
    InMemoryTableScan that consumes it, so naive textual counting
    re-counts the (executed-once) build per consumer — e.g.
    tfidf_cosine_pairs showed 12 parquet scans / 19 shuffles when
    execution performs the build once (6 scans) and serves both join
    sides from the cache. The build subtree is the run of following
    lines at deeper indent; relations are keyed by their printed output
    column list."""
    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-*(0123456789)":
            i += 1
        return i

    lines = plan.split("\n")
    # collect each InMemoryRelation's subtree; the header line carries the
    # consumer's aliases but the printed build plan underneath is the
    # ORIGINAL plan (stable attr ids), so the subtree text is the identity
    out, seen, i = [], set(), 0
    while i < len(lines):
        line = lines[i]
        out.append(line)
        i += 1
        if "InMemoryRelation" not in line:
            continue
        d = depth(line)
        sub = []
        while i < len(lines) and lines[i].strip() and depth(lines[i]) > d:
            sub.append(lines[i])
            i += 1
        # canonicalize the build text the way Spark's own CacheManager
        # canonicalizes logical plans: tree-drawing prefixes, codegen
        # stage ids, AQE query-stage ids, AND expression ids (#123) all
        # vary per consumer print of the SAME cache — two builds that
        # are identical modulo those ARE one cache entry (CacheManager
        # dedups by canonicalized plan), so counting them twice
        # overstates work that executes once. Distinct relations stay
        # distinct through their literal content (file paths, filters,
        # aggregate expressions).
        key = "\n".join(
            re.sub(
                r"#\d+",
                "#",
                re.sub(
                    r"(ResultQueryStage|ShuffleQueryStage|"
                    r"BroadcastQueryStage|TableCacheQueryStage) \d+",
                    r"\1",
                    re.sub(r"\*\(\d+\)", "*", re.sub(r"^[ :+\-]*", "", s)),
                ),
            )
            for s in sub
        )
        if key not in seen:
            seen.add(key)
            out.extend(sub)
    return "\n".join(out)


def audit(plan: str) -> dict:
    plan = strip_cached_builds(strip_initial_plans(plan))
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    return {
        "shuffles": len(
            re.findall(
                r"Exchange hashpartitioning|Exchange rangepartitioning|Exchange SinglePartition",
                plan,
            )
        ),
        "broadcasts": plan.count("BroadcastExchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "nested_loop": plan.count("NestedLoopJoin") + plan.count("CartesianProduct"),
        "windows": len(re.findall(r"\bWindow\b", plan)),
        "scans": [len([c for c in s.split(",") if c]) for s in scans],
        "pushed": sum(1 for p in pushed if p.strip()),
        "python": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInArrow"),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
    }


def unpartitioned_windows(jvm, plan) -> int:
    """``WindowExec`` nodes with an empty partition spec (each one a
    single-task stage) in a Java physical plan: the tree under AQE, query
    stages, subqueries and cached builds, each cached build counted once."""
    n, seen, stack = 0, set(), [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif name == "InMemoryTableScanExec":
            build = node.relation().cacheBuilder()
            if jvm.System.identityHashCode(build) not in seen:
                seen.add(jvm.System.identityHashCode(build))
                stack.append(build.cachedPlan())
        else:
            if name == "WindowExec":
                n += node.partitionSpec().isEmpty()
            for seq in (node.children(), node.subqueries()):
                stack.extend(seq.apply(i) for i in range(seq.size()))
    return n


def main() -> None:
    import __spark_entry__ as entry_mod
    from ratatool_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    rows = []
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, sf_dir)
            jplan = df._jdf.queryExecution().executedPlan()
            a = audit(jplan.toString())
            a["win1"] = unpartitioned_windows(spark._jvm, jplan)
            a["out_cols"] = len(df.schema)
            a["out_heavy"] = sum(
                1
                for f in df.schema.fields
                if f.dataType.typeName() in ("string", "array", "struct", "map", "binary")
            )
            rows.append((name, a))
        except Exception as e:  # pragma: no cover
            print(f"# audit error {name}: {e}", file=sys.stderr)

    lines = [
        "# PLANS — physical-plan audit of every driver query",
        "",
        f"Generated by `python tools/plan_audit.py` at `{sf_dir}`. Columns:",
        "shuffle exchanges / broadcast exchanges / join strategies /",
        "scan column counts (pruning evidence) / scans with pushed filters /",
        "Python-boundary operators (Arrow-batched; 0 = fully JVM) /",
        "whole-stage-codegen span count. `win` counts window operators;",
        "`win1` counts those with no partition spec.",
        "",
        "| query | shuffles | bcast | BHJ | SMJ | NLJ | win | win1 | scan cols "
        "| pushed | py | wscg |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        scans = ",".join(str(c) for c in a["scans"]) or "-"
        lines.append(
            f"| {name} | {a['shuffles']} | {a['broadcasts']} | {a['bhj']} | "
            f"{a['smj']} | {a['nested_loop']} | {a['windows']} | {a['win1']} | "
            f"{scans} | {a['pushed']} | {a['python']} | {a['codegen']} |"
        )
    w1 = [f"`{n}` ({a['win1']})" for n, a in rows if a["win1"]]
    lines += [
        "",
        "**Unpartitioned windows** (`win1`): a `WindowExec` with no "
        "partition spec moves all its input to one task (Spark logs "
        "`No Partition Defined for Window operation`). Queries with one: "
        f"{', '.join(w1) or 'none'}.",
    ]
    nl = [(n, a["nested_loop"]) for n, a in rows if a["nested_loop"]]
    lines += [
        "",
        f"**Invariants**: nested-loop/cartesian joins appear only in "
        f"{', '.join(n for n, _ in nl) or 'none'} — `ann_brute_force_topk` "
        "and `ann_sq8_topk` "
        "are the *deliberate* |Q|·n broadcast cross products (the exact "
        "baseline/verifier and its int8-scan sibling; the corpus never "
        "moves); the others are "
        "ONE-ROW scalar broadcasts (q11/q22 threshold, drift's combined "
        "min/max range row, mixture keep-rate "
        "K, tfidf's corpus-size N, bm25's n_docs/total_dl stats row) — a "
        "BroadcastNestedLoopJoin over a "
        "single row, the standard scalar-subquery shape — or the sketch "
        "families' deliberate sketch-sized broadcasts (the one-row "
        "geometry/k merge guard; the CMS probe list onto the groups "
        "table: groups x probes rows, never fact data). Every dedup/ANN "
        "candidate join is an equi-join on a block key (enforced by "
        "tests/test_plans.py). Cached (persisted) relations' build plans "
        "are counted ONCE — the audit strips the per-consumer reprints "
        "Spark embeds under each InMemoryTableScan.",
        "",
    ]
    # §1.4 wide-output audit: bench.py times `.count()`, which lets the
    # optimizer prune output columns a real consumer would materialize —
    # the widest-output queries are where that underpricing concentrates.
    # Keeping the list regenerated here keeps the known measurement bias
    # visible without changing the timed action (round-over-round
    # comparability; see OPTIMIZATION_r11/r12.md).
    wide = sorted(rows, key=lambda na: -na[1]["out_cols"])[:12]
    lines += [
        "## Wide-output queries (bench §1.4 `.count()` underpricing audit)",
        "",
        "The bench's `.count()` action can prune output-only columns; the",
        "queries below have the widest declared outputs and are therefore",
        "the ones whose full-materialization cost (noop sink) exceeds the",
        "benched cost the most. `heavy` counts string/array/struct/map/",
        "binary output columns (the expensive ones to materialize).",
        "",
        "| query | out cols | heavy cols |",
        "|---|---|---|",
    ] + [
        f"| {n} | {a['out_cols']} | {a['out_heavy']} |" for n, a in wide
    ] + [""]
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
