"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, column names, and values TWO ways:

1. loose  — python-value multiset with float normalization (engine parity);
2. strict — pandas-rendered frames (Spark ``toPandas`` vs DuckDB ``.df()``),
   cells rendered with ``str`` so dtype drift is visible: this mimics the
   driver's hash gate, where ``Decimal('153078.0000')`` vs float ``153078.0``
   or int64 vs HUGEINT→float64 is a FAIL even when values are equal.

The SparkSession is built VANILLA (no ratatool_spark.session confs) on
purpose: the driver's harness constructs its own session, so any query that
only works under our builder's confs must fail here too.

    python tools/compare.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def norm_cell(v):
    import numpy as np

    if v is None:
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return str(v).lower()
    if isinstance(v, (float, np.floating)):
        # in a pandas frame NaN IS the null marker (DuckDB .df() uses NaN
        # where Spark toPandas uses None in object columns) — fold together
        if math.isnan(v):
            return "∅"
        # round to 9 significant-ish decimals to absorb engine fp noise
        return f"{float(v):.9g}"
    return str(v)


def df_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort()
    return [cols[i] for i in order], out


def render_pandas(pdf):
    """Dtype-sensitive rendering of a pandas frame: columns sorted by name,
    rows sorted by rendered tuple, each cell ``str()``-rendered (so Decimal
    keeps its trailing zeros and float64 its repr — exactly the drift the
    driver's hasher sees)."""
    import pandas as pd

    cols = sorted(pdf.columns)
    rows = []
    for t in pdf[cols].itertuples(index=False, name=None):
        cells = []
        for v in t:
            if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
                cells.append("∅")
            else:
                cells.append(str(v))
        rows.append(tuple(cells))
    rows.sort()
    return cols, rows


def main():
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1 and "/" in sys.argv[1]
        else "/root/testdata/sf0.01"
    )
    only = [a for a in sys.argv[1:] if "/" not in a]

    # Deliberately vanilla: mimic the driver's harness session.
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .appName("compare")
        .getOrCreate()
    )
    con = duckdb.connect()
    from ratatool_spark import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
            scols = list(spdf.columns)
            srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(srows)} rows) [rows-only check]")
            continue
        try:
            dpdf = con.execute(oracles[name]).df()
            dcols = list(dpdf.columns)
            drows = [tuple(r) for r in dpdf.itertuples(index=False, name=None)]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error {e}")
            continue
        sc, sm = df_to_multiset(scols, srows)
        dc, dm = df_to_multiset(dcols, drows)
        if sc != dc:
            failures.append(name)
            print(f"FAIL {name}: columns spark={sc} duckdb={dc}")
            continue
        if len(sm) != len(dm):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(sm)} duckdb={len(dm)}")
            continue
        bad = [(a, b) for a, b in zip(sm, dm) if a != b]
        if bad:
            failures.append(name)
            print(f"FAIL {name}: {len(bad)} loose-mismatched rows; first: {bad[0]}")
            continue
        # strict: driver-hash mimic over pandas-rendered frames
        _, sr = render_pandas(spdf)
        _, dr = render_pandas(dpdf)
        badh = [(a, b) for a, b in zip(sr, dr) if a != b]
        if badh:
            failures.append(name)
            print(
                f"FAIL {name}: values equal but {len(badh)} render-mismatched "
                f"rows (driver hash would fail); first: {badh[0]}"
            )
            continue
        print(f"OK   {name}: {len(sm)} rows, cols={sc}")

    print(f"\n{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
