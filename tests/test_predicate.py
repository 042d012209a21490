"""Predicate AST three-valued pruning (reference src/predicate.rs +
src/row_group_filter.rs analog)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orc_rust_spark.operators.encode import encode_table
from orc_rust_spark.operators.predicate import (
    And,
    Comparison,
    IsNotNull,
    IsNull,
    Not,
    Or,
)
from orc_rust_spark.operators.pruned_read import (
    prune_chunks_predicate,
    pruned_scan,
    rg_summaries,
    to_spark,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def encoded(spark):
    # 3 range chunks: ids 0-99 (no nulls), 100-199 (some null names), 200-299
    rows = []
    for i in range(300):
        name = None if 100 <= i < 200 and i % 10 == 0 else f"n{i:04d}"
        rows.append((i, name))
    df = spark.createDataFrame(rows, SCHEMA).repartitionByRange(3, "id")
    src = df
    chunks = encode_table(df, plan={}).cache()
    assert chunks.select("part_id", "chunk_ord").distinct().count() == 3
    return src, chunks


def _kept(chunks, pred):
    return prune_chunks_predicate(chunks, pred).count()


def test_and_intersects(spark, encoded):
    _, chunks = encoded
    p = And(Comparison("id", ">=", 120), Comparison("id", "<=", 180))
    assert _kept(chunks, p) == 1


def test_or_unions(spark, encoded):
    _, chunks = encoded
    p = Or(Comparison("id", "<", 50), Comparison("id", ">", 250))
    assert _kept(chunks, p) == 2


def test_not_pushdown(spark, encoded):
    _, chunks = encoded
    # NOT(id < 100) == id >= 100 -> skips the first chunk
    assert _kept(chunks, Not(Comparison("id", "<", 100))) == 2
    # double negation keeps original semantics
    assert _kept(chunks, Not(Not(Comparison("id", "<", 100)))) == 1


def test_is_null_keeps_only_nullable_chunks(spark, encoded):
    _, chunks = encoded
    assert _kept(chunks, IsNull("name")) == 1
    assert _kept(chunks, IsNotNull("name")) == 3


def test_neq_skips_constant_chunk(spark):
    a = [(1, "x")] * 10 + [(2, "y")] * 10
    df = spark.createDataFrame(a, SCHEMA).repartitionByRange(2, "id")
    chunks = encode_table(df, plan={})
    assert _kept(chunks, Comparison("id", "!=", 1)) == 1
    assert _kept(chunks, Comparison("id", "!=", 3)) == 2


def test_string_comparison(spark, encoded):
    _, chunks = encoded
    assert _kept(chunks, Comparison("name", "=", "n0250")) == 1
    assert _kept(chunks, Comparison("name", "<", "n0100")) == 1


def test_pruned_scan_end_to_end(spark, encoded):
    src, chunks = encoded
    pred = And(
        Or(Comparison("id", "<", 20), Comparison("id", ">=", 280)),
        IsNotNull("name"),
    )
    rows, keys = pruned_scan(chunks, SCHEMA, pred)
    got = sorted(r.id for r in rows.collect())
    want = sorted(
        r.id for r in src.where(to_spark(pred)).collect()
    )
    assert got == want and len(got) == 40
    assert keys.count() == 2  # middle chunk pruned


def test_rg_keep_composition_intersects_and_unions():
    """VERDICT r2 missing #3: multi-column predicates must COMPOSE per-
    column row-group keep lists (And intersects, Or unions — reference
    src/row_selection.rs:32-260) instead of pruning on one column only."""
    from orc_rust_spark.operators.predicate import (
        And,
        Comparison,
        IsNotNull,
        Not,
        Or,
    )

    # two indexed columns over 4 groups of 10 rows
    rg_a = {"codec": "rle_v2", "n": [10] * 4, "nulls": [0] * 4,
            "min": ["0", "100", "200", "300"], "max": ["99", "199", "299", "399"]}
    rg_b = {"codec": "direct", "n": [10] * 4, "nulls": [0, 10, 0, 0],
            "min": ["a", "e", "k", "p"], "max": ["d", "j", "o", "z"]}
    rgs = {"a": rg_summaries(rg_a), "b": rg_summaries(rg_b)}

    a_cond = Comparison("a", ">=", 150)        # groups {1,2,3}
    # groups {0,1} by min/max, but group 1 of b is all NULL, where no
    # comparison holds
    b_cond = Comparison("b", "<", "k")
    assert a_cond.keep(rgs, 4) == {1, 2, 3}
    assert b_cond.keep(rgs, 4) == {0}
    # And: intersection — strictly smaller than either single-column plan
    both = And(a_cond, b_cond).keep(rgs, 4)
    assert both == set()
    assert len(both) < len(a_cond.keep(rgs, 4))
    assert len(both) < len(b_cond.keep(rgs, 4))
    # Or: union
    assert Or(a_cond, b_cond).keep(rgs, 4) == {0, 1, 2, 3}
    # null-aware + Not push-down
    assert IsNotNull("b").keep(rgs, 4) == {0, 2, 3}
    assert And(a_cond, IsNotNull("b")).keep(rgs, 4) == {2, 3}
    assert Not(Comparison("a", "<", 100)).keep(rgs, 4) == {1, 2, 3}
    # unindexed column keeps the universe
    assert Comparison("zz", "=", 5).keep(rgs, 4) == {0, 1, 2, 3}


def test_pruned_scan_rg_composition_end_to_end(spark):
    """pruned_scan with a two-column And decodes only the intersected
    groups and returns exactly the matching rows."""
    from orc_rust_spark.operators.encode import encode_table
    from orc_rust_spark.operators.predicate import And, Comparison
    from orc_rust_spark.operators.pruned_read import pruned_scan, rg_keep_for_chunk
    from pyspark.sql import types as T

    n = 8000
    rows = [(i, chr(ord("a") + (i * 26) // n) * 3, float(i)) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, tag string, val double").coalesce(1)
    plan = {c: {"row_index": True, "row_index_stride": 1000} for c in ("id", "tag", "val")}
    chunks = encode_table(df, plan=plan).cache()
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("tag", T.StringType()),
        T.StructField("val", T.DoubleType()),
    ])
    pred = And(Comparison("id", ">=", 2500), Comparison("tag", "<", "j"))
    rows_df, _ = pruned_scan(chunks, schema, pred)
    got = sorted(r.id for r in rows_df.collect())
    want = [i for i in range(n)
            if i >= 2500 and (chr(ord("a") + (i * 26) // n) * 3) < "j"]
    assert got == want
    # the composed keep list is strictly smaller than either single-column
    stream_rows = [r.asDict() for r in chunks.collect()]
    single_id = rg_keep_for_chunk(stream_rows, Comparison("id", ">=", 2500))
    composed = rg_keep_for_chunk(stream_rows, pred)
    assert composed is not None and len(composed) < len(single_id)
    chunks.unpersist()


def test_unusable_probe_types_keep_all_chunks(spark, encoded):
    """code-review r6: a datetime/Decimal probe must disable chunk-stats
    pruning (keep every chunk) instead of comparing lexicographically
    against epoch/mantissa stat strings and wrongly pruning."""
    import datetime
    import decimal

    _, chunks = encoded
    total = chunks.select("part_id", "chunk_ord").distinct().count()
    for probe in (datetime.datetime(2024, 1, 1), decimal.Decimal("5.00"),
                  datetime.date(2024, 1, 1)):
        kept = prune_chunks_predicate(chunks, Comparison("id", "=", probe)).count()
        assert kept == total, probe


def test_decimal_codec_chunks_never_pruned_by_predicate(spark):
    """Mantissa stats (decimal codec) are not comparable to user values:
    might_match must keep those chunks (code-review r6 — the
    pivot previously dropped the codec so d=5.0 pruned everything)."""
    import decimal as D

    rows = [(i, D.Decimal(f"{1 + i % 9}.{i % 100:02d}")) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, d decimal(4,2)").coalesce(1)
    chunks = encode_table(df).cache()
    kept = prune_chunks_predicate(chunks, Comparison("d", "=", 5.0)).count()
    assert kept == chunks.select("part_id", "chunk_ord").distinct().count()
    # end-to-end: the residual filter still finds the rows
    decoded, _ = pruned_scan(chunks, T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("d", T.DecimalType(4, 2)),
    ]), Comparison("id", ">=", 0))
    assert decoded.count() == 1000


def test_bloom_type_mismatch_keeps_chunks(spark):
    """An int probe against a STRING column's bloom (utf8-fed) must not
    prune — the filter would false-negative on every chunk
    (code-review r6)."""
    from orc_rust_spark.operators.pruned_read import prune_chunks_bloom

    df = spark.createDataFrame(
        [(i, str(i)) for i in range(5000)], "id long, s string").coalesce(1)
    chunks = encode_table(df, plan={"s": {"bloom": True}}).cache()
    total = chunks.select("part_id", "chunk_ord").distinct().count()
    assert prune_chunks_bloom(chunks, "s", 7).count() == total  # int probe
    # matched-type probes still prune: a value NOT in the column
    assert prune_chunks_bloom(chunks, "s", "not-present").count() < total


def test_pruned_scan_one_sided_bounds(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "id long").coalesce(1)
    chunks = encode_table(df).cache()
    schema = T.StructType([T.StructField("id", T.LongType())])
    lo_open, _ = pruned_scan(chunks, schema, Comparison("id", "<=", 100))
    assert lo_open.count() == 101
    hi_open, _ = pruned_scan(chunks, schema, Comparison("id", ">=", 900))
    assert hi_open.count() == 100


def test_pruned_scan_chunks_straddling_arrow_batches(spark):
    """With a few rows per Arrow batch every chunk's stream rows span
    several batches, so the row-group keep list must be computed on the
    whole chunk after the carry-over, not on a batch's fragment."""
    n = 6000
    df = spark.createDataFrame(
        [(i, f"t{n - i:05d}", float(i % 13)) for i in range(n)],
        "id long, tag string, val double",
    ).repartitionByRange(2, "id")
    plan = {c: {"row_index": True, "row_index_stride": 500} for c in ("id", "tag", "val")}
    chunks = encode_table(df, plan=plan).cache()
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("tag", T.StringType()),
        T.StructField("val", T.DoubleType()),
    ])
    per_batch = 3
    rows_per_chunk = chunks.groupBy("part_id", "chunk_ord").count().collect()
    assert len(rows_per_chunk) == 2
    assert min(r["count"] for r in rows_per_chunk) > per_batch
    pred = Or(
        And(Comparison("id", ">=", 1200), Comparison("id", "<", 1700)),
        Comparison("id", "=", 5999),
        And(Comparison("tag", "<", "t00100"), IsNotNull("val")),
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(per_batch))
    try:
        got = sorted(pruned_scan(chunks, schema, pred)[0].collect())
    finally:
        spark.conf.set(key, old)
    want = sorted(df.where(to_spark(pred)).collect())
    assert got == want and len(want) > 500
    chunks.unpersist()


def test_mixed_stride_grids_fall_back_to_full_decode(spark):
    """Indexed columns on DIFFERENT group grids cannot share one keep
    list — group pruning must be skipped, with exact rows via the
    residual filter (code-review r6)."""
    df = spark.createDataFrame(
        [(i, f"n{i:05d}") for i in range(4000)], "id long, name string"
    ).coalesce(1)
    chunks = encode_table(df, plan={
        "id": {"row_index": True, "row_index_stride": 1000},
        "name": {"row_index": True, "row_index_stride": 2000},
    }).cache()
    decoded, _ = pruned_scan(chunks, SCHEMA, Comparison("id", "=", 3999))
    got = decoded.collect()
    assert len(got) == 1 and got[0].name == "n03999"


def test_float_stats_keep_inf_and_nan_units(spark):
    """±inf are ordinary float bounds and Spark orders NaN above every
    number, so neither a chunk nor a row group may be skipped by `x > 2.0`
    over [1.0, inf, nan] or by `x < 0.5` over [1.0, -inf] (the float stats
    used to cover finite values only). The chunk level reads the stored
    "inf"/"nan" spellings back through try_cast."""
    import json
    import math

    import pyarrow as pa

    from orc_rust_spark.operators.encode import encode_chunk

    inf, nan = math.inf, math.nan
    cast = spark.sql("SELECT try_cast('inf' AS double), try_cast('-inf' AS double), "
                     "try_cast('nan' AS double)").first()
    assert cast[0] == inf and cast[1] == -inf and math.isnan(cast[2])
    schema = T.StructType([T.StructField("x", T.DoubleType())])
    for vals, pred, n_match in (
        ([1.0, inf, nan], Comparison("x", ">", 2.0), 2),
        ([1.0, -inf], Comparison("x", "<", 0.5), 1),
        ([1.0, nan], Comparison("x", "=", nan), 1),
    ):
        batch = encode_chunk(pa.table({"x": vals}), 0, 0, {"x": {"row_index": True}})
        data = next(r for r in batch.to_pylist() if r["stream_kind"] == "DATA")
        rg = json.loads(data["stats_json"])["rg"]
        assert pred.keep({"x": rg_summaries(rg)}, 1) == {0}, (vals, pred)
        df = spark.createDataFrame([(v,) for v in vals], schema).coalesce(1)
        chunks = encode_table(df, plan={"x": {"row_index": True}}).cache()
        assert prune_chunks_predicate(chunks, pred).count() == 1, (vals, pred)
        assert pruned_scan(chunks, schema, pred)[0].count() == n_match, (vals, pred)
        chunks.unpersist()
