"""Write .explain("formatted") for named queries to files.

    python tools/capture_plans.py OUTDIR SUFFIX [--sf DIR] query [query ...]

Produces OUTDIR/<query><SUFFIX>.txt (e.g. plans/r11/snapshot_mor_merge_before.txt).
"""

from __future__ import annotations

import os
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    sf_dir = "/root/testdata/sf0.01"
    names = []
    i = 0
    while i < len(rest):
        if rest[i] == "--sf":
            sf_dir = rest[i + 1]
            i += 2
        else:
            names.append(rest[i])
            i += 1
    os.makedirs(outdir, exist_ok=True)

    import __spark_entry__ as entry_mod

    from ratatool_spark.cache import unpersist_intermediates
    from ratatool_spark.session import get_spark
    from ratatool_spark.sources.io import load_tables

    spark = get_spark("ratatool_spark_plans")
    load_tables(spark, sf_dir)
    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}{suffix}.txt"), "w") as f:
            f.write(plan)
        unpersist_intermediates()
        print(f"wrote {name}{suffix}.txt", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
