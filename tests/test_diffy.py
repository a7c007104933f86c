"""BigDiffy tests — expectations lifted from the reference's test suite
(BigDiffyTest.scala:62-252, AvroDiffyTest.scala:38-244): identical inputs ⇒
all SAME; constant +10.0 shift ⇒ exact mean 10 / variance 0; duplicate keys
raise; nested + array + unordered + ignore semantics."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ratatool_spark.operators.diffy import (
    DIFFERENT,
    MISSING_LHS,
    MISSING_RHS,
    SAME,
    BigDiffy,
    diff,
)


@pytest.fixture(scope="module")
def base(spark):
    rows = [Row(id=i, x=float(i % 7), s=f"s{i % 5}", v=[1.0, float(i % 3)]) for i in range(1000)]
    return spark.createDataFrame(rows).cache()


def test_identical_all_same(spark, base):
    d = diff(base, base, ["id"])
    g = d.global_stats.collect()[0]
    assert g["num_total"] == 1000
    assert g["num_same"] == 1000
    assert g["num_diff"] == 0
    assert d.deltas.count() == 0


def test_constant_shift_exact_stats(spark, base):
    """BigDiffyTest.scala:78-118: +10.0 on a double field over every key ⇒
    numeric delta mean exactly 10.0, variance exactly 0.0."""
    rhs = base.withColumn("x", F.col("x") + 10.0)
    d = diff(base, rhs, ["id"])
    g = d.global_stats.collect()[0]
    assert (g["num_same"], g["num_diff"]) == (0, 1000)
    fs = {r["field"]: r for r in d.field_stats.collect()}
    assert set(fs) == {"x"}
    assert fs["x"]["count"] == 1000
    assert fs["x"]["delta_type"] == "NUMERIC"
    assert fs["x"]["mean"] == pytest.approx(10.0, abs=1e-12)
    assert fs["x"]["variance"] == pytest.approx(0.0, abs=1e-9)
    assert fs["x"]["stddev"] == pytest.approx(0.0, abs=1e-6)
    assert fs["x"]["fraction"] == pytest.approx(1.0)


def test_missing_sides(spark, base):
    lhs = base.where(F.col("id") < 900)   # ids 900-999 missing on lhs
    rhs = base.where(F.col("id") >= 100)  # ids 0-99 missing on rhs
    g = diff(lhs, rhs, ["id"]).global_stats.collect()[0]
    assert g["num_total"] == 1000
    assert g["num_missing_lhs"] == 100
    assert g["num_missing_rhs"] == 100
    assert g["num_same"] == 800
    ks = diff(lhs, rhs, ["id"]).key_stats
    assert ks.where(F.col("diff_type") == MISSING_LHS).count() == 100
    assert ks.where(F.col("diff_type") == MISSING_RHS).count() == 100


def test_string_delta_levenshtein(spark):
    lhs = spark.createDataFrame([Row(id=1, s="kitten")])
    rhs = spark.createDataFrame([Row(id=1, s="sitting")])
    d = diff(lhs, rhs, ["id"]).deltas.collect()
    assert len(d) == 1
    assert d[0]["delta_type"] == "STRING"
    assert d[0]["delta"] == 3.0
    assert (d[0]["left"], d[0]["right"]) == ("kitten", "sitting")


def test_vector_cosine_delta(spark):
    lhs = spark.createDataFrame([Row(id=1, v=[1.0, 0.0])])
    rhs = spark.createDataFrame([Row(id=1, v=[0.0, 1.0])])
    d = diff(lhs, rhs, ["id"]).deltas.collect()
    assert d[0]["delta_type"] == "VECTOR"
    assert d[0]["delta"] == pytest.approx(1.0)  # orthogonal ⇒ cos-dist 1


def test_vector_length_mismatch_unknown(spark):
    """AvroDiffy.scala:117-142: size mismatch ⇒ UNKNOWN."""
    lhs = spark.createDataFrame([Row(id=1, v=[1.0, 2.0])])
    rhs = spark.createDataFrame([Row(id=1, v=[1.0, 2.0, 3.0])])
    d = diff(lhs, rhs, ["id"]).deltas.collect()
    assert d[0]["delta_type"] == "UNKNOWN"
    assert d[0]["delta"] is None


def test_nested_struct_paths(spark):
    lhs = spark.createDataFrame([Row(id=1, rec=Row(a=1, b="x"))])
    rhs = spark.createDataFrame([Row(id=1, rec=Row(a=2, b="x"))])
    d = diff(lhs, rhs, ["id"]).deltas.collect()
    assert len(d) == 1
    assert d[0]["field"] == "rec.a"
    assert d[0]["delta"] == 1.0


def test_one_sided_null_unknown(spark):
    lhs = spark.createDataFrame([Row(id=1, x=1.0)])
    rhs = spark.createDataFrame([Row(id=1, x=None)], schema=lhs.schema)
    d = diff(lhs, rhs, ["id"]).deltas.collect()
    assert d[0]["delta_type"] == "UNKNOWN"
    assert d[0]["right"] is None


def test_ignore_fields(spark, base):
    rhs = base.withColumn("x", F.col("x") + 1).withColumn("s", F.lit("zzz"))
    d = BigDiffy(base, rhs, ["id"], ignore={"s"})
    assert {r["field"] for r in d.deltas.select("field").distinct().collect()} == {"x"}


def test_unordered_array(spark):
    """Diffy.sortList:131-140: unordered arrays equal after sorting."""
    lhs = spark.createDataFrame([Row(id=1, v=[3.0, 1.0, 2.0])])
    rhs = spark.createDataFrame([Row(id=1, v=[1.0, 2.0, 3.0])])
    assert diff(lhs, rhs, ["id"]).deltas.count() == 1  # ordered: differs
    d = BigDiffy(lhs, rhs, ["id"], unordered={"v"})
    assert d.deltas.count() == 0  # unordered: same multiset


def test_duplicate_key_raises_by_default(spark):
    """BigDiffy.scala:240-243: >1 value per key ⇒ error, ALWAYS ON — the
    guard is fused into the diff plan and fires on first materialization."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    dup = spark.createDataFrame([Row(id=1, x=1.0), Row(id=1, x=2.0)])
    ok = spark.createDataFrame([Row(id=1, x=1.0)])
    d = BigDiffy(dup, ok, ["id"])
    with pytest.raises((PySparkException, Py4JJavaError), match="duplicate key"):
        d.global_stats.collect()
    # rhs side named too
    d2 = BigDiffy(ok, dup, ["id"])
    with pytest.raises((PySparkException, Py4JJavaError), match="rhs has duplicate key"):
        d2.deltas.collect()


def test_duplicate_key_escape_hatch(spark):
    """allow_duplicate_keys=True restores the raw fan-out join (documented
    many-to-many exploratory mode)."""
    dup = spark.createDataFrame([Row(id=1, x=1.0), Row(id=1, x=2.0)])
    ok = spark.createDataFrame([Row(id=1, x=1.0)])
    d = BigDiffy(dup, ok, ["id"], allow_duplicate_keys=True)
    # 2 lhs rows x 1 rhs row for the key
    assert d.key_stats.count() == 2


def test_multikey_null_semantics(spark):
    """String.valueOf(null) = "null" key parts (BigDiffy.scala:631-634)."""
    lhs = spark.createDataFrame([Row(a=1, b=None, x=1.0)], "a int, b string, x double")
    rhs = spark.createDataFrame([Row(a=1, b=None, x=2.0)], "a int, b string, x double")
    ks = diff(lhs, rhs, ["a", "b"]).key_stats.collect()
    assert ks[0]["key"] == "1_null"
    assert ks[0]["diff_type"] == DIFFERENT


def test_ignore_nan(spark):
    lhs = spark.createDataFrame([Row(id=1, x=1.0), Row(id=2, x=2.0)])
    rhs = spark.createDataFrame([Row(id=1, x=float("nan")), Row(id=2, x=5.0)])
    d_with = BigDiffy(lhs, rhs, ["id"], ignore_nan=False)
    d_without = BigDiffy(lhs, rhs, ["id"], ignore_nan=True)
    assert d_with.field_stats.collect()[0]["count"] == 2
    assert d_without.field_stats.collect()[0]["count"] == 1
    assert d_without.field_stats.collect()[0]["mean"] == pytest.approx(3.0)


def test_date_field_numeric_delta_in_days(spark):
    """A DATE field diffs as a NUMERIC delta in days since epoch (Avro's
    ``date`` encoding); the rendered sides stay ISO dates."""
    import datetime as dt

    day0 = dt.date(2024, 1, 1)
    lhs = spark.createDataFrame(
        [(i, day0 + dt.timedelta(days=i)) for i in range(10)], "id int, d date"
    )
    rhs = lhs.withColumn(
        "d", F.when(F.col("id") % 2 == 0, F.date_add("d", 3)).otherwise(F.col("d"))
    )
    d = diff(lhs, rhs, ["id"])
    rows = d.deltas.where(F.col("key") == "0").collect()
    assert (rows[0]["field"], rows[0]["delta_type"]) == ("d", "NUMERIC")
    assert rows[0]["delta"] == 3.0
    assert (rows[0]["left"], rows[0]["right"]) == ("2024-01-01", "2024-01-04")
    fs = {r["field"]: r for r in d.field_stats.collect()}
    assert set(fs) == {"d"}
    assert fs["d"]["delta_type"] == "NUMERIC"
    assert fs["d"]["count"] == 5
    assert fs["d"]["mean"] == pytest.approx(3.0)


def test_save_stats_tsv(spark, base, tmp_path):
    rhs = base.withColumn("x", F.col("x") + 10.0)
    d = diff(base, rhs, ["id"])
    d.save_stats(str(tmp_path / "out"))
    import os

    assert os.path.exists(tmp_path / "out" / "global" / "_SUCCESS")
    import glob

    files = glob.glob(str(tmp_path / "out" / "global" / "*.csv"))
    text = open(files[0]).read()
    assert "num_total" in text and "1000" in text


def test_schema_evolution_diff(spark, tmp_path):
    """The reference's Parquet schema-evolution e2e (BigDiffyTest:397-446):
    rhs written with an added field diffs cleanly against the old lhs —
    the added field reads as null on the old side and surfaces as deltas,
    while common fields diff normally."""
    from ratatool_spark.operators.diffy import diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id bigint, price double"
    )
    new = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 25.0, "b")], "id bigint, price double, label string"
    )
    old.write.parquet(str(tmp_path / "lhs"))
    new.write.parquet(str(tmp_path / "rhs"))
    d = diff(
        spark.read.parquet(str(tmp_path / "lhs")),
        spark.read.parquet(str(tmp_path / "rhs")),
        ["id"],
    )
    deltas = {(r["key"], r["field"]): r for r in d.deltas.collect()}
    # evolved field: old side is null -> UNKNOWN delta for every key
    assert deltas[("1", "label")]["delta_type"] == "UNKNOWN"
    assert deltas[("1", "label")]["left"] is None
    assert deltas[("1", "label")]["right"] == "a"
    # common field still diffs numerically
    assert deltas[("2", "price")]["delta"] == 5.0
    assert ("1", "price") not in deltas  # identical values -> no delta row
    g = d.global_stats.collect()[0]
    assert g["num_total"] == 2 and g["num_missing_lhs"] == 0


def test_schema_evolution_type_change_raises(spark):
    from ratatool_spark.operators.diffy import diff
    from ratatool_spark.plans.schema import SchemaCompatibilityError

    a = spark.createDataFrame([(1, 1.0)], "id bigint, v double")
    b = spark.createDataFrame([(1, "x")], "id bigint, v string")
    with pytest.raises(SchemaCompatibilityError):
        diff(a, b, ["id"])
