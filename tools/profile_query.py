"""Time individual queries() entries in isolation (guide §1).

    python tools/profile_query.py [--sf DIR] [--n N] [--noop] query [query ...]

Per query: N timed runs (fn build + action). Default action is .count()
(bench.py's methodology); --noop uses the noop sink (times every column,
guide §1.4). Prints per-run seconds and the min. Use alongside
tools/compare.py (correctness) and tools/plan_audit.py (plan shape).
"""

from __future__ import annotations

import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    n = 3
    noop = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif a == "--n":
            n = int(args[i + 1])
            i += 2
        elif a == "--noop":
            noop = True
            i += 1
        else:
            names.append(a)
            i += 1

    import __spark_entry__ as entry_mod

    from ratatool_spark.cache import unpersist_intermediates
    from ratatool_spark.session import get_spark
    from ratatool_spark.sources.io import load_tables

    spark = get_spark("ratatool_spark_profile")
    load_tables(spark, sf_dir)
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    qs = entry_mod.queries()
    tracker = spark.sparkContext.statusTracker()
    for name in names:
        fn = qs[name]
        runs = []
        for k in range(n):
            grp = f"prof-{name}-{k}"
            spark.sparkContext.setJobGroup(grp, f"{name}#{k}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            jobs_build = len(tracker.getJobIdsForGroup(grp))
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            dt = time.perf_counter() - t0
            jobs_total = len(tracker.getJobIdsForGroup(grp))
            unpersist_intermediates()
            runs.append((dt, t_build))
            print(
                f"{name} run{k}: total={dt:.3f}s build={t_build:.3f}s "
                f"action={dt - t_build:.3f}s jobs={jobs_total} "
                f"(build {jobs_build})",
                flush=True,
            )
        best = min(r[0] for r in runs)
        print(f"{name}: min={best:.3f}s over {n} runs", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
