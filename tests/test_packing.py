"""Sequence packing (operators/packing.py): bin assignment invariants."""

import pytest
from pyspark.sql import functions as F

from ratatool_spark.operators.packing import pack_sequences


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"s{i % 3}", 10 + (i * 7) % 50) for i in range(200)]
    return spark.createDataFrame(rows, "doc_id long, src string, tok long")


def test_bins_monotone_and_offsets(spark, docs):
    out = pack_sequences(
        docs, "tok", 128, ["doc_id"], ["src"], offset_col="off"
    ).collect()
    by_src = {}
    for r in sorted(out, key=lambda r: (r["src"], r["doc_id"])):
        by_src.setdefault(r["src"], []).append(r)
    for rows in by_src.values():
        run = 0
        prev_bin = 0
        for r in rows:
            assert r["off"] == run  # exclusive prefix sum
            assert r["bin_id"] == run // 128  # chunk where the doc starts
            assert r["bin_id"] >= prev_bin  # monotone, no gaps backwards
            prev_bin = r["bin_id"]
            run += r["tok"]


def test_bin_budget_overflow_bounded(spark, docs):
    """A bin's total exceeds the budget by less than its last doc
    (straddle semantics), never more."""
    out = pack_sequences(docs, "tok", 128, ["doc_id"], ["src"])
    agg = (
        out.groupBy("src", "bin_id")
        .agg(F.sum("tok").alias("total"), F.max("tok").alias("mx"))
        .collect()
    )
    for r in agg:
        assert r["total"] < 128 + r["mx"]


def test_deterministic_and_group_independent(spark, docs):
    a = pack_sequences(docs, "tok", 64, ["doc_id"], ["src"]).collect()
    b = pack_sequences(docs, "tok", 64, ["doc_id"], ["src"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # packing one group alone matches its slice of the full run
    one = pack_sequences(
        docs.where(F.col("src") == "s1"), "tok", 64, ["doc_id"], ["src"]
    ).collect()
    full = [r for r in a if r["src"] == "s1"]
    assert sorted(map(tuple, one)) == sorted(map(tuple, full))


def test_budget_validation(spark, docs):
    with pytest.raises(ValueError):
        pack_sequences(docs, "tok", 0, ["doc_id"])


# ---------------------------------- int8 embedding quantization invariants


def test_quantization_error_bounded(spark):
    """|x - dequant(quant(x))| <= scale/2 + eps for every element, and the
    quantized-vs-full cosine stays near 1 for non-degenerate vectors."""
    from pyspark.sql import Row

    from ratatool_spark.functions.vectors import (
        cosine_sim,
        dequantize,
        quantize_int8,
        quantize_scale,
    )

    vecs = [
        [1.0, -1.0, 0.5, 0.25],
        [0.0, 0.0, 0.0, 0.0],  # all-zero: scale fallback 1.0, codes 0
        [127.0, -127.0, 63.5, 0.1],
        [1e-4, -1e-4, 5e-5, 0.0],
    ]
    df = spark.createDataFrame(
        [Row(i=i, v=v) for i, v in enumerate(vecs)], "i long, v array<double>"
    )
    nonzero = F.aggregate(
        F.col("v"), F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x))
    ) > 0
    out = (
        df.select(
            "i",
            "v",
            quantize_scale(F.col("v")).alias("s"),
            dequantize(
                quantize_int8(F.col("v"), quantize_scale(F.col("v"))),
                quantize_scale(F.col("v")),
            ).alias("w"),
        )
        # zero vector → zero norms → ANSI division error; guard the cosine
        .withColumn(
            "cos", F.when(nonzero, cosine_sim(F.col("v"), F.col("w")))
        )
        .collect()
    )
    for r in out:
        for x, y in zip(r["v"], r["w"], strict=True):
            assert abs(x - y) <= r["s"] / 2 + 1e-12
        if any(x != 0 for x in r["v"]):
            assert r["cos"] > 0.999


def test_quantize_codes_in_int8_range(spark):
    from pyspark.sql import Row

    from ratatool_spark.functions.vectors import quantize_int8, quantize_scale

    df = spark.createDataFrame(
        [Row(v=[3.7, -3.7, 1.23, -0.004, 0.0])], "v array<double>"
    )
    codes = df.select(
        quantize_int8(F.col("v"), quantize_scale(F.col("v"))).alias("q")
    ).first()["q"]
    assert all(-127 <= c <= 127 for c in codes)
    assert 127 in (max(codes), -min(codes))  # the max-|x| element saturates


def test_global_packing_distributed_matches_window_reference(spark, docs):
    """The no-group_cols path (range exchange + per-partition running
    sums + driver prefix) must equal the single-window formulation
    bin-for-bin and offset-for-offset — and emit no RuntimeWarning."""
    import warnings

    from pyspark.sql import Window

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = {
            r["doc_id"]: (r["bin_id"], r["off"])
            for r in pack_sequences(
                docs.repartition(7), "tok", 64, ["doc_id"],
                offset_col="off",
            ).collect()
        }
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    ref = {
        r["doc_id"]: (r["bin"], r["off"])
        for r in docs.withColumn(
            "off", F.coalesce(F.sum("tok").over(w), F.lit(0))
        ).withColumn("bin", F.floor(F.col("off") / 64)).collect()
    }
    assert got == ref
