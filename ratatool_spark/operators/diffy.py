"""BigDiffy re-expressed Spark-first (SURVEY.md §2.9, D1-D10, J1, A1).

The reference diffs two keyed datasets by (1) tagging each side, unioning,
``groupByKey``-ing and pairing per key (BigDiffy.computeDeltas:222-262), then
(2) recursively walking the record pair emitting per-field ``Delta``s
(AvroDiffy.scala:71-183), then (3) one fused semigroup aggregation producing
global / key / field statistics (BigDiffy.computeGlobalAndFieldStats:264-308).

Spark redesign:

* The union+groupByKey becomes a **full-outer join** on the key columns —
  Catalyst picks sort-merge or shuffled-hash; at 100 TB this is the one
  unavoidable shuffle, and both sides shuffle by the same key exactly once.
* The recursive record walk becomes a **schema-driven expression compiler**:
  we know both schemas statically, so for every leaf path we emit a typed
  delta struct *as a Column expression* (no runtime type trials — the
  reference's try-numeric/try-string/try-vector dispatch, Diffy.scala:97-115,
  is resolved at plan time). All deltas for a row live in one
  ``F.array(...)`` that is filtered+exploded — narrow ops, fully codegen'd,
  zero Python in the hot path.
* Delta typing parity (Diffy.scala:30-75): NUMERIC (y-x after double
  coercion), STRING (Levenshtein — ``F.levenshtein`` is built in), VECTOR
  (1 - cosine similarity over numeric arrays, Diffy.CosineDistance:168-184),
  UNKNOWN (anything else / one-sided nulls / array-length mismatch).
* The fused stats aggregation becomes plain ``groupBy().agg()`` over the
  exploded deltas — partial aggregation (map-side combine) is what Spark's
  HashAggregate does anyway, which is exactly the algebird-semigroup trick
  the reference uses. Moments are computed from power sums so they are
  population moments like algebird's (BigDiffyTest.scala:116 expects
  variance 0.0 for constant deltas).
* The four outputs (deltas / keyStats / globalStats / fieldStats) hang off
  one cached join, mirroring the reference's shared lazy ``_deltas``
  (BigDiffy.scala:156-190).

Key semantics (BigDiffy.avroKeyFn:621-643, MultiKey:64-70): multi-part keys
are stringified and joined with ``_``; bytes hex-encoded; nulls render as
the string "null" (java String.valueOf(null)).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NUMERIC = "NUMERIC"
STRING = "STRING"
VECTOR = "VECTOR"
UNKNOWN = "UNKNOWN"

SAME = "SAME"
DIFFERENT = "DIFFERENT"
MISSING_LHS = "MISSING_LHS"
MISSING_RHS = "MISSING_RHS"

_L, _R, _KEY = "__rt_l", "__rt_r", "__rt_key"

_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


@dataclass
class DiffConfig:
    """Mirrors the reference Diffy constructor knobs (Diffy.scala:88-92):
    ``ignore`` = field paths dropped from the diff; ``unordered`` = array
    paths compared order-insensitively (sorted before compare,
    Diffy.sortList:131-140); ``ignore_nan`` = drop NaN deltas from stats
    (BigDiffy.scala:280-284)."""

    ignore: frozenset[str] = dc_field(default_factory=frozenset)
    unordered: frozenset[str] = dc_field(default_factory=frozenset)
    ignore_nan: bool = False


def multikey(cols: list[str | Column], schema: T.StructType | None = None) -> Column:
    """Stringified multi-part key: `_`-joined, bytes→hex, null→"null"
    (BigDiffy.scala:621-643, MultiKey.toString:64-66)."""
    parts = []
    for c in cols:
        col = F.col(c) if isinstance(c, str) else c
        if schema is not None and isinstance(c, str) and isinstance(
            schema[c].dataType, T.BinaryType
        ):
            col = F.lower(F.hex(col))
        parts.append(F.coalesce(col.cast("string"), F.lit("null")))
    return F.concat_ws("_", *parts)


def _leaf_paths(schema: T.StructType, prefix: str = "") -> list[tuple[str, T.DataType]]:
    """Flatten a (possibly nested) schema to leaf paths. Structs recurse
    (AvroDiffy.scala:87-97); arrays and maps are leaves handled by typed
    delta rules."""
    out: list[tuple[str, T.DataType]] = []
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            out.extend(_leaf_paths(f.dataType, prefix=f"{path}."))
        else:
            out.append((path, f.dataType))
    return out


def _render(col: Column, dtype: T.DataType) -> Column:
    """Human-readable string form of a value for delta output."""
    if isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
        return F.to_json(col)
    if isinstance(dtype, T.BinaryType):
        return F.lower(F.hex(col))
    return col.cast("string")


def _cosine_delta(l: Column, r: Column) -> Column:
    """1 - cosine similarity of two numeric arrays (Diffy.CosineDistance:
    168-184). Pure higher-order functions — stays JVM-side."""
    dot = F.aggregate(
        F.zip_with(l, r, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nl = F.sqrt(F.aggregate(l, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))
    nr = F.sqrt(F.aggregate(r, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")))
    return F.lit(1.0) - dot / (nl * nr)


def _delta_expr(path: str, dtype: T.DataType, cfg: DiffConfig) -> Column:
    """Compile one leaf path into a delta struct Column:
    struct(field, left, right, delta_type, delta) — null when values match.

    Typing resolved statically from the schema instead of the reference's
    runtime trial dispatch (Diffy.delta:97-115)."""
    l, r = F.col(f"{_L}.{path}"), F.col(f"{_R}.{path}")

    if isinstance(dtype, T.ArrayType) and path in cfg.unordered:
        l, r = F.sort_array(l), F.sort_array(r)

    both = l.isNotNull() & r.isNotNull()
    differs = ~l.eqNullSafe(r)

    if isinstance(dtype, _NUMERIC_TYPES):
        dtype_col = F.when(both, F.lit(NUMERIC)).otherwise(F.lit(UNKNOWN))
        delta = F.when(both, r.cast("double") - l.cast("double"))
    elif isinstance(dtype, T.StringType):
        dtype_col = F.when(both, F.lit(STRING)).otherwise(F.lit(UNKNOWN))
        delta = F.when(both, F.levenshtein(l, r).cast("double"))
    elif isinstance(dtype, (T.TimestampType, T.DateType)):
        # numeric delta in Avro's encoding of each type, which the
        # reference diffs numerically: epoch seconds for TIMESTAMP, days
        # since epoch for DATE (Spark rejects a DATE → DOUBLE cast)
        enc = F.unix_date if isinstance(dtype, T.DateType) else (lambda c: c)
        dtype_col = F.when(both, F.lit(NUMERIC)).otherwise(F.lit(UNKNOWN))
        delta = F.when(both, enc(r).cast("double") - enc(l).cast("double"))
    elif isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, _NUMERIC_TYPES):
        # numeric vectors: cosine distance when same length, else UNKNOWN
        # (AvroDiffy.scala:117-142: size mismatch ⇒ UNKNOWN)
        same_len = F.size(l) == F.size(r)
        dtype_col = F.when(both & same_len, F.lit(VECTOR)).otherwise(F.lit(UNKNOWN))
        delta = F.when(both & same_len, _cosine_delta(l, r))
    else:
        dtype_col = F.lit(UNKNOWN)
        delta = F.lit(None).cast("double")

    return F.when(
        differs,
        F.struct(
            F.lit(path).alias("field"),
            _render(l, dtype).alias("left"),
            _render(r, dtype).alias("right"),
            dtype_col.alias("delta_type"),
            delta.alias("delta"),
        ),
    )


def _keyed_array_deltas(
    path: str, dtype: T.ArrayType, key_field: str
) -> Column:
    """Keyed repeated-record compare (D5 — ``unorderedFieldKeys``,
    AvroDiffy.scala:99-115, semantics test AvroDiffyTest.scala:185-212):
    treat array<struct> as a map keyed by ``key_field``; per key present on
    both sides diff each child field as ``path[key].child``; a key present
    on one side only yields ``path[key]`` with UnknownDelta.

    Pure expression implementation: map_from_entries on both sides, union
    of keys, one flattened transform — no explode/join/shuffle, the whole
    compare happens inside the row. Both maps are BOUND once per row and
    each key's (left, right) pair once per key (lambda values): referenced
    as plain column expressions, every per-key/per-field access would
    re-run map_from_entries over the whole array (interpreted HOFs, no
    CSE) — O(keys x fields x n) map rebuilds per row."""
    assert isinstance(dtype.elementType, T.StructType)
    elem: T.StructType = dtype.elementType
    l_arr, r_arr = F.col(f"{_L}.{path}"), F.col(f"{_R}.{path}")

    def to_map(arr: Column) -> Column:
        return F.map_from_entries(
            F.transform(
                F.coalesce(arr, F.array()),
                lambda x: F.struct(
                    F.coalesce(x[key_field].cast("string"), F.lit("null")).alias("k"),
                    x.alias("v"),
                ),
            )
        )

    def _pair_deltas(lv: Column, rv: Column, kk: Column) -> Column:
        label = F.concat(F.lit(f"{path}["), kk, F.lit("]"))
        missing = F.when(
            lv.isNull() | rv.isNull(),
            F.struct(
                label.alias("field"),
                F.to_json(lv).alias("left"),
                F.to_json(rv).alias("right"),
                F.lit(UNKNOWN).alias("delta_type"),
                F.lit(None).cast("double").alias("delta"),
            ),
        )
        children = []
        for cf in elem.fields:
            if cf.name == key_field:
                continue
            cl, cr = lv[cf.name], rv[cf.name]
            differs = lv.isNotNull() & rv.isNotNull() & ~cl.eqNullSafe(cr)
            both = cl.isNotNull() & cr.isNotNull()
            if isinstance(cf.dataType, _NUMERIC_TYPES):
                dt = F.when(both, F.lit(NUMERIC)).otherwise(F.lit(UNKNOWN))
                dv = F.when(both, cr.cast("double") - cl.cast("double"))
            elif isinstance(cf.dataType, T.StringType):
                dt = F.when(both, F.lit(STRING)).otherwise(F.lit(UNKNOWN))
                dv = F.when(both, F.levenshtein(cl, cr).cast("double"))
            else:
                dt = F.lit(UNKNOWN)
                dv = F.lit(None).cast("double")
            children.append(
                F.when(
                    differs,
                    F.struct(
                        F.concat(label, F.lit(f".{cf.name}")).alias("field"),
                        _render(cl, cf.dataType).alias("left"),
                        _render(cr, cf.dataType).alias("right"),
                        dt.alias("delta_type"),
                        dv.alias("delta"),
                    ),
                )
            )
        return F.array_compact(F.array(missing, *children))

    def _from_maps(lm: Column, rm: Column) -> Column:
        union_keys = F.array_distinct(F.concat(F.map_keys(lm), F.map_keys(rm)))

        def deltas_for_key(kk: Column) -> Column:
            pair = F.struct(
                F.element_at(lm, kk).alias("l"), F.element_at(rm, kk).alias("r")
            )
            return F.element_at(
                F.transform(
                    F.array(pair), lambda p: _pair_deltas(p["l"], p["r"], kk)
                ),
                1,
            )

        return F.flatten(F.transform(union_keys, deltas_for_key))

    maps = F.struct(to_map(l_arr).alias("l"), to_map(r_arr).alias("r"))
    return F.element_at(
        F.transform(F.array(maps), lambda ms: _from_maps(ms["l"], ms["r"])), 1
    )


def _align_to(df: DataFrame, merged: T.StructType) -> DataFrame:
    """Project ``df`` onto the merged schema: fields it lacks become typed
    nulls, column order follows the merge (lhs fields, then rhs-only)."""
    from ratatool_spark.plans.schema import SchemaCompatibilityError

    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in merged.fields:
        mine = have.get(f.name)
        if mine is None:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif mine.dataType != f.dataType:
            raise SchemaCompatibilityError(
                f"nested evolution of field {f.name!r} not supported: "
                f"{mine.dataType} vs merged {f.dataType}"
            )
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


class BigDiffy:
    """Pairwise keyed dataset diff with field-level statistics (D1).

    One full-outer join, cached; four DataFrame views computed from it
    lazily — the Spark shape of the reference's shared lazy SCollections
    (BigDiffy.scala:148-191).
    """

    def __init__(
        self,
        lhs: DataFrame,
        rhs: DataFrame,
        keys: list[str],
        ignore: set[str] | frozenset[str] = frozenset(),
        unordered: set[str] | frozenset[str] = frozenset(),
        unordered_keys: dict[str, str] | None = None,
        ignore_nan: bool = False,
        allow_duplicate_keys: bool = False,
    ) -> None:
        """``unordered_keys`` maps an array-of-struct field path to the
        child field that identifies elements (the reference's
        ``unorderedFieldKeys``, Diffy.scala:88-92).

        Key identity is the STRINGIFIED multikey — deliberate reference
        parity: BigDiffy's MultiKey is the '_'-joined string of the key
        fields (BigDiffy.scala:64-70) with String.valueOf null rendering
        (:631-634), so distinct tuples like ('a_b','c') vs ('a','b_c')
        conflate there exactly as here (and the duplicate guard below
        sees them as one key). Pick keys without '_' collisions, as
        reference users must.

        Key uniqueness is enforced ALWAYS-ON, matching the reference's
        unconditional duplicate-key error (BigDiffy.scala:240-243) — with
        duplicates, a full-outer join silently fans out rows and every
        downstream statistic is quietly wrong. The check is fused into the
        diff plan at zero extra scans: each side is pre-aggregated by key
        (count + payload) on the same shuffle the join needs anyway, and a
        ``raise_error`` branch fires on the first key with count > 1
        (surfaces as a Spark ``SparkRuntimeException`` whose message names
        the side and key). ``allow_duplicate_keys=True`` is the explicit
        escape hatch: it restores the raw fan-out join (every lhs×rhs pair
        per key is diffed — sometimes useful for exploratory many-to-many
        comparison, never for correctness-grade stats)."""
        self.keys = list(keys)
        self.cfg = DiffConfig(frozenset(ignore), frozenset(unordered), ignore_nan)
        self.unordered_keys = dict(unordered_keys or {})

        # Schema evolution (BigDiffy.scala:765-772 canRead validation +
        # mergeFields:549-579): when the sides differ, diff over the merged
        # schema — a field absent on one side reads as null there (exactly
        # what an evolved-schema reader does), so added/removed fields
        # surface as UNKNOWN deltas instead of erroring. Top-level only;
        # a changed *type* for a common field is a hard error from
        # merge_schemas, same as the reference's mode/type assertion.
        if lhs.schema != rhs.schema:
            from ratatool_spark.plans.schema import merge_schemas

            merged = merge_schemas(lhs.schema, rhs.schema)
            lhs = _align_to(lhs, merged)
            rhs = _align_to(rhs, merged)

        non_key = [c for c in lhs.columns if c not in self.keys]
        self._value_schema = T.StructType([lhs.schema[c] for c in non_key])
        self._leaves = [
            (p, t)
            for p, t in _leaf_paths(self._value_schema)
            if p not in self.cfg.ignore and p not in self.unordered_keys
        ]

        lk = lhs.select(
            multikey(self.keys, lhs.schema).alias(_KEY),
            F.struct(*[F.col(c) for c in non_key]).alias(_L),
        )
        rk = rhs.select(
            multikey(self.keys, rhs.schema).alias(_KEY),
            F.struct(*[F.col(c) for c in non_key]).alias(_R),
        )
        dup_guard = None
        if not allow_duplicate_keys:
            # fused uniqueness check (BigDiffy.scala:240-243 parity): the
            # per-key aggregate rides the exact shuffle the join needs, so
            # the guard costs no extra scan or exchange; first() is safe
            # because any key where it would be ambiguous raises instead
            lk = lk.groupBy(_KEY).agg(
                F.count(F.lit(1)).alias("__lcnt"), F.first(_L).alias(_L)
            )
            rk = rk.groupBy(_KEY).agg(
                F.count(F.lit(1)).alias("__rcnt"), F.first(_R).alias(_R)
            )
            dup_guard = [
                (
                    F.coalesce(F.col("__lcnt"), F.lit(0)) > 1,
                    F.concat(F.lit("lhs has duplicate key: "), F.col(_KEY)),
                ),
                (
                    F.coalesce(F.col("__rcnt"), F.lit(0)) > 1,
                    F.concat(F.lit("rhs has duplicate key: "), F.col(_KEY)),
                ),
            ]
        self._joined = lk.join(rk, on=_KEY, how="full_outer")

        delta_structs = [_delta_expr(p, t, self.cfg) for p, t in self._leaves]
        deltas_arr = F.array_compact(F.array(*delta_structs))
        for ka_path, key_field in self.unordered_keys.items():
            ka_type = self._value_schema
            for part in ka_path.split("."):
                ka_type = ka_type[part].dataType  # type: ignore[index]
            deltas_arr = F.concat(
                deltas_arr, _keyed_array_deltas(ka_path, ka_type, key_field)
            )
        diff_type = (
            F.when(F.col(_L).isNull(), F.lit(MISSING_LHS))
            .when(F.col(_R).isNull(), F.lit(MISSING_RHS))
            .when(F.size(deltas_arr) > 0, F.lit(DIFFERENT))
            .otherwise(F.lit(SAME))
        )
        if dup_guard is not None:
            guarded = F.when(dup_guard[0][0], F.raise_error(dup_guard[0][1]))
            guarded = guarded.when(dup_guard[1][0], F.raise_error(dup_guard[1][1]))
            diff_type = guarded.otherwise(diff_type)
        self._rows = self._joined.select(
            F.col(_KEY).alias("key"),
            diff_type.alias("diff_type"),
            F.when(
                F.col(_L).isNotNull() & F.col(_R).isNotNull(), deltas_arr
            ).alias("deltas"),
        ).cache()

    # -------------------------------------------------------------- views

    @property
    def deltas(self) -> DataFrame:
        """(key, field, left, right, delta_type, delta) — one row per
        differing field per key (D8 output schema, Diffy.scala:30-75)."""
        d = (
            self._rows.where(F.col("diff_type") == DIFFERENT)
            .select("key", F.explode("deltas").alias("d"))
            .select("key", "d.field", "d.left", "d.right", "d.delta_type", "d.delta")
        )
        return d

    @property
    def key_stats(self) -> DataFrame:
        """(key, diff_type) per key (KeyStats, BigDiffy.scala:404-436)."""
        return self._rows.select("key", "diff_type")

    @property
    def global_stats(self) -> DataFrame:
        """One row: numTotal / numSame / numDiff / numMissingLhs /
        numMissingRhs (GlobalStats; reference counters BigDiffy.scala:233-236
        derived from the same aggregate rather than metric counters)."""
        return self._rows.agg(
            F.count(F.lit(1)).alias("num_total"),
            F.sum(F.when(F.col("diff_type") == SAME, 1).otherwise(0)).alias("num_same"),
            F.sum(F.when(F.col("diff_type") == DIFFERENT, 1).otherwise(0)).alias("num_diff"),
            F.sum(F.when(F.col("diff_type") == MISSING_LHS, 1).otherwise(0)).alias(
                "num_missing_lhs"
            ),
            F.sum(F.when(F.col("diff_type") == MISSING_RHS, 1).otherwise(0)).alias(
                "num_missing_rhs"
            ),
        )

    @property
    def field_stats(self) -> DataFrame:
        """Per-field delta statistics (FieldStats, BigDiffy.scala:264-308):
        count, fraction (= count / numDiff keys), and for typed deltas
        min/max/mean/variance/stddev/skewness/kurtosis as *population*
        moments (algebird Moments parity) computed from power sums.
        """
        d = self.deltas
        if self.cfg.ignore_nan:
            d = d.where(F.col("delta").isNull() | ~F.isnan("delta"))
        num_diff = (
            self._rows.where(F.col("diff_type") == DIFFERENT).count()
        )
        x = F.col("delta")
        agg = d.groupBy("field", "delta_type").agg(
            F.count(F.lit(1)).alias("count"),
            F.count(x).alias("_n"),
            F.min(x).alias("min"),
            F.max(x).alias("max"),
            F.sum(x).alias("_s1"),
            F.sum(x * x).alias("_s2"),
            F.sum(x * x * x).alias("_s3"),
            F.sum(x * x * x * x).alias("_s4"),
        )
        n = F.col("_n").cast("double")
        mean = F.col("_s1") / n
        m2 = F.col("_s2") / n - mean * mean
        m3 = F.col("_s3") / n - 3 * mean * F.col("_s2") / n + 2 * mean * mean * mean
        m4 = (
            F.col("_s4") / n
            - 4 * mean * F.col("_s3") / n
            + 6 * mean * mean * F.col("_s2") / n
            - 3 * mean * mean * mean * mean
        )
        return agg.select(
            "field",
            "delta_type",
            "count",
            (F.col("count") / F.lit(max(num_diff, 1))).alias("fraction"),
            "min",
            "max",
            mean.alias("mean"),
            m2.alias("variance"),
            F.sqrt(F.greatest(m2, F.lit(0.0))).alias("stddev"),
            F.when(m2 > 1e-300, m3 / F.pow(m2, 1.5)).otherwise(F.lit(0.0)).alias("skewness"),
            F.when(m2 > 1e-300, m4 / (m2 * m2) - 3.0).otherwise(F.lit(0.0)).alias("kurtosis"),
        )

    # ------------------------------------------------------------- output

    def save_stats(self, output_dir: str, mode: str = "overwrite") -> None:
        """Write the three stats views as TSV-with-header directories —
        saveStats (BigDiffy.scala:439-547) in its TSV output mode."""
        from ratatool_spark.sources.io import write_table

        write_table(self.key_stats, f"{output_dir}/keys", mode=mode, header="x")
        write_table(self.field_stats, f"{output_dir}/fields", mode=mode, header="x")
        write_table(self.global_stats, f"{output_dir}/global", mode=mode, header="x")

    def unpersist(self) -> None:
        self._rows.unpersist()


def diff(
    lhs: DataFrame,
    rhs: DataFrame,
    keys: list[str],
    **kwargs,
) -> BigDiffy:
    """Convenience constructor mirroring ``BigDiffy.diff`` (BigDiffy.scala:311-318)."""
    return BigDiffy(lhs, rhs, keys, **kwargs)


def diff_dicts(
    spark,
    lhs: list[dict],
    rhs: list[dict],
    keys: list[str],
    schema: T.StructType | str | None = None,
    **kwargs,
) -> BigDiffy:
    """Diff two lists of plain Python dicts/dataclass-dumps — the
    CaseClassDiffy capability (D7, CaseClassDiffy.scala:158-191): local
    records lifted into DataFrames, then the same engine."""
    from pyspark.sql import Row

    def lift(rows):
        if schema is not None:
            return spark.createDataFrame(rows, schema=schema)
        return spark.createDataFrame([Row(**r) for r in rows])

    return BigDiffy(lift(lhs), lift(rhs), keys, **kwargs)
