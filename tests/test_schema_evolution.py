"""Schema evolution on read (orc_scan(missing_as_null=True)) — the ORC
SchemaEvolution add-column case: a long-lived corpus has files written
before a column existed; a reader schema naming it gets typed nulls from
those files, and per-file column ORDER stops mattering (conform is by
name). Default stays loud: without the flag, every file must carry every
requested column."""

import pyarrow as pa
import pytest

from orc_rust_spark.sources.orc_file import union_schema_ddl, write_orc


@pytest.fixture(scope="module")
def evolved_dir(tmp_path_factory):
    """v1 files lack `lang`; v2 adds it; v3 reorders columns."""
    d = tmp_path_factory.mktemp("evo")
    write_orc(pa.table({
        "id": pa.array([1, 2, 3], type=pa.int64()),
        "text": pa.array(["a", "b", "c"]),
    }), str(d / "v1.orc"), compression="zlib")
    write_orc(pa.table({
        "id": pa.array([4, 5], type=pa.int64()),
        "text": pa.array(["d", "e"]),
        "lang": pa.array(["en", "de"]),
    }), str(d / "v2.orc"), compression="zlib")
    write_orc(pa.table({
        "lang": pa.array(["fr"]),
        "id": pa.array([6], type=pa.int64()),
        "text": pa.array(["f"]),
    }), str(d / "v3.orc"), compression="zlib")
    return str(d)


def test_union_inference_and_nulls(spark, evolved_dir):
    from orc_rust_spark.sources.orc_file import orc_scan

    df = orc_scan(spark, evolved_dir, missing_as_null=True)
    # union schema, first-seen order over path-sorted files (v1 first)
    assert df.columns == ["id", "text", "lang"]
    rows = {r["id"]: (r["text"], r["lang"]) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", None),
                    4: ("d", "en"), 5: ("e", "de"), 6: ("f", "fr")}


def test_order_independence_explicit_schema(spark, evolved_dir):
    """An explicit schema in NON-file order works under evolution: the
    conform step selects by name (v3's file order is lang,id,text)."""
    from orc_rust_spark.sources.orc_file import orc_scan

    df = orc_scan(spark, evolved_dir,
                  schema="lang string, id long",
                  columns=["lang", "id"], missing_as_null=True)
    rows = {r["id"]: r["lang"] for r in df.collect()}
    assert rows == {1: None, 2: None, 3: None, 4: "en", 5: "de", 6: "fr"}


def test_predicate_on_evolved_column(spark, evolved_dir):
    """Files without the predicate column can't prune on it — their rows
    surface with nulls and the caller's residual filter decides."""
    from pyspark.sql import functions as F

    from orc_rust_spark.operators.predicate import Comparison
    from orc_rust_spark.sources.orc_file import orc_scan

    df = orc_scan(spark, evolved_dir, predicate=Comparison("lang", "=", "en"),
                  missing_as_null=True)
    hits = df.where(F.col("lang") == "en").collect()
    assert [(r["id"], r["text"]) for r in hits] == [(4, "d")]
    # without the residual filter, v1's rows still surface (null lang) —
    # pruning is advisory, never row-exact, same as stats pruning
    assert df.where(F.col("lang").isNull()).count() == 3


def test_ghost_column_still_rejected(spark, evolved_dir):
    from orc_rust_spark.sources.orc_file import orc_scan

    with pytest.raises(KeyError, match="not in ANY"):
        orc_scan(spark, evolved_dir, columns=["nope"], missing_as_null=True)


def test_default_stays_loud(spark, evolved_dir):
    """Without the flag, a projection naming a column some file lacks
    fails at planning (the pre-evolution contract, unchanged)."""
    from orc_rust_spark.sources.orc_file import orc_scan

    with pytest.raises(KeyError, match="not in ORC schema"):
        orc_scan(spark, evolved_dir, columns=["id", "lang"])


def test_type_clash_still_rejected(spark, tmp_path):
    from orc_rust_spark.sources.orc_file import orc_scan

    write_orc(pa.table({"id": pa.array([1], type=pa.int64()),
                        "lang": pa.array(["en"])}),
              str(tmp_path / "a.orc"), compression="zlib")
    write_orc(pa.table({"id": pa.array([2], type=pa.int64()),
                        "lang": pa.array([7], type=pa.int64())}),
              str(tmp_path / "b.orc"), compression="zlib")
    with pytest.raises(ValueError, match="consistent column types"):
        orc_scan(spark, str(tmp_path), missing_as_null=True)


def test_union_schema_ddl_projection_order():
    """Projected union schema follows the caller's columns order, and a
    column's type comes from the first file carrying it."""
    from orc_rust_spark.sources.orc_file import read_metadata

    import tempfile
    import os

    with tempfile.TemporaryDirectory() as d:
        p1, p2 = os.path.join(d, "1.orc"), os.path.join(d, "2.orc")
        write_orc(pa.table({"a": pa.array([1], type=pa.int64())}), p1,
                  compression="none")
        write_orc(pa.table({"b": pa.array(["x"]),
                            "a": pa.array([2], type=pa.int64())}), p2,
                  compression="none")
        metas = {p1: read_metadata(p1), p2: read_metadata(p2)}
        assert union_schema_ddl(metas) == "`a` long, `b` string"
        assert union_schema_ddl(metas, ["b", "a"]) == "`b` string, `a` long"


# --- orcx DataSource: the same evolution semantics as a read option ---------


@pytest.fixture(scope="module")
def orcx(spark):
    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcRustDataSource)
    return spark


def test_orcx_union_inference_and_nulls(orcx, evolved_dir):
    df = (orcx.read.format("orcx")
          .option("missing_as_null", "true").load(evolved_dir))
    assert df.columns == ["id", "text", "lang"]
    rows = {r["id"]: (r["text"], r["lang"]) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", None),
                    4: ("d", "en"), 5: ("e", "de"), 6: ("f", "fr")}


def test_orcx_declared_schema_nonfile_order(orcx, evolved_dir):
    """Explicit schema in non-file order: conform is by name (v3's file
    order is lang,id,text), and projection pushdown composes with it."""
    df = (orcx.read.format("orcx").schema("lang string, id long")
          .option("missing_as_null", "true").load(evolved_dir))
    rows = {r["id"]: r["lang"] for r in df.collect()}
    assert rows == {1: None, 2: None, 3: None, 4: "en", 5: "de", 6: "fr"}


def test_orcx_filter_on_evolved_column(orcx, evolved_dir):
    """A pushed filter on a column some files predate: those files skip
    pruning, Spark's residual filter applies exactly."""
    from pyspark.sql import functions as F

    df = (orcx.read.format("orcx")
          .option("missing_as_null", "true").load(evolved_dir))
    hits = df.where(F.col("lang") == "en").collect()
    assert [(r["id"], r["text"]) for r in hits] == [(4, "d")]
    assert df.where(F.col("lang").isNull()).count() == 3


def test_orcx_ghost_column_rejected(orcx, evolved_dir):
    from orc_rust_spark.sources.datasource import OrcRustReader

    with pytest.raises(ValueError, match="not in ANY"):
        OrcRustReader({"path": evolved_dir, "missing_as_null": "true"},
                      columns=["id", "nope"])


def test_orcx_default_stays_loud(orcx, evolved_dir):
    from orc_rust_spark.sources.datasource import OrcRustReader

    with pytest.raises(ValueError, match="missing_as_null"):
        OrcRustReader({"path": evolved_dir}, columns=["id", "lang"])


def test_orcx_stream_evolution(orcx, tmp_path):
    """A landing directory whose producer deploy added a column
    mid-stream: pre-deploy files stream typed nulls instead of wedging
    the schema-mismatch raise."""
    import os

    from pyspark.sql import functions as F

    d, out, ckpt = (str(tmp_path / n) for n in ("in", "out", "ck"))
    os.makedirs(d)
    write_orc(pa.table({"id": pa.array([1, 2], type=pa.int64())}),
              os.path.join(d, "old.orc"), compression="zlib")
    write_orc(pa.table({"id": pa.array([3], type=pa.int64()),
                        "lang": pa.array(["en"])}),
              os.path.join(d, "new.orc"), compression="zlib")
    q = (orcx.readStream.format("orcx").schema("id long, lang string")
         .option("missing_as_null", "true").load(d)
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["id"]: r["lang"]
           for r in orcx.read.parquet(out).collect()}
    assert got == {1: None, 2: None, 3: "en"}


def test_orcx_evolved_pruning_still_prunes_new_files(orcx, tmp_path):
    """Stripe pruning on an evolved column still engages for files that
    HAVE it: an eq probe outside new.orc's [10,19] range keeps old.orc
    (no stats) but drops new.orc's stripe at planning."""
    from pyspark.sql.datasource import EqualTo

    from orc_rust_spark.sources.datasource import OrcRustReader

    write_orc(pa.table({"id": pa.array([1, 2], type=pa.int64())}),
              str(tmp_path / "old.orc"), compression="zlib")
    write_orc(pa.table({"id": pa.array(list(range(10, 20)),
                                       type=pa.int64()),
                        "score": pa.array([float(i) for i in range(10)])}),
              str(tmp_path / "new.orc"), compression="zlib")
    r = OrcRustReader({"path": str(tmp_path), "missing_as_null": "true"})
    list(r.pushFilters([EqualTo(("score",), 99.0)]))  # outside new.orc's range
    parts = r.partitions()
    paths = {p.path for p in parts if p.offset >= 0}
    assert any(p.endswith("old.orc") for p in paths)   # can't prune: kept
    assert not any(p.endswith("new.orc") for p in paths)  # stats-dropped


# --- type widening (the lossless ConvertColumnReader subset) ----------------


@pytest.fixture(scope="module")
def widened_dir(tmp_path_factory):
    """A producer deploy widened `hits` int->long and `score`
    float->double between v1 and v2."""
    d = tmp_path_factory.mktemp("widen")
    write_orc(pa.table({
        "id": pa.array([1, 2], type=pa.int64()),
        "hits": pa.array([10, 20], type=pa.int32()),
        "score": pa.array([1.5, 2.5], type=pa.float32()),
    }), str(d / "v1.orc"), compression="zlib")
    write_orc(pa.table({
        "id": pa.array([3], type=pa.int64()),
        "hits": pa.array([2**40], type=pa.int64()),
        "score": pa.array([3.25], type=pa.float64()),
    }), str(d / "v2.orc"), compression="zlib")
    return str(d)


def test_widening_inferred_schema(spark, widened_dir):
    """Inferred union schema picks the WIDEST type; narrow files cast
    losslessly on read."""
    from orc_rust_spark.sources.orc_file import orc_scan

    df = orc_scan(spark, widened_dir, missing_as_null=True)
    assert dict((f.name, f.dataType.simpleString())
                for f in df.schema.fields) == {
        "id": "bigint", "hits": "bigint", "score": "double"}
    rows = {r["id"]: (r["hits"], r["score"]) for r in df.collect()}
    assert rows == {1: (10, 1.5), 2: (20, 2.5), 3: (2**40, 3.25)}


def test_widening_explicit_schema_orcx(spark, widened_dir):
    """The orcx reader under evolution accepts width differences and
    serves the declared wide types."""
    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.dataSource.register(OrcRustDataSource)
    df = (spark.read.format("orcx")
          .option("missing_as_null", "true").load(widened_dir))
    rows = {r["id"]: (r["hits"], r["score"]) for r in df.collect()}
    assert rows == {1: (10, 1.5), 2: (20, 2.5), 3: (2**40, 3.25)}


def test_widening_default_still_rejects(spark, widened_dir):
    """Without the evolution flag, width differences stay a planning
    error (the loud contract is unchanged)."""
    from orc_rust_spark.sources.orc_file import orc_scan

    with pytest.raises(ValueError, match="consistent column types"):
        orc_scan(spark, widened_dir)


def test_cross_family_still_rejected_under_evolution(spark, tmp_path):
    """int vs string is a clash, not a widening, even with the flag."""
    from orc_rust_spark.sources.orc_file import orc_scan

    write_orc(pa.table({"v": pa.array([1], type=pa.int64())}),
              str(tmp_path / "a.orc"), compression="none")
    write_orc(pa.table({"v": pa.array(["x"])}),
              str(tmp_path / "b.orc"), compression="none")
    with pytest.raises(ValueError, match="consistent column types"):
        orc_scan(spark, str(tmp_path), missing_as_null=True)


def test_widen_ddl_lattice():
    from orc_rust_spark.sources.orc_file import widen_ddl

    assert widen_ddl("int", "long") == "long"
    assert widen_ddl("long", "byte") == "long"
    assert widen_ddl("short", "int") == "int"
    assert widen_ddl("float", "double") == "double"
    assert widen_ddl("string", "string") == "string"
    assert widen_ddl("int", "double") is None   # cross-family: lossy
    assert widen_ddl("long", "string") is None


def test_later_file_clash_caught_at_planning(spark, tmp_path):
    """A clash between files that BOTH postdate the first file (x absent
    from file one, int in file two, string in file three) must fail at
    planning, not executor-side (code-review r7: the validator's
    reference ddl now accumulates across files)."""
    from orc_rust_spark.sources.orc_file import orc_scan

    write_orc(pa.table({"id": pa.array([1], type=pa.int64())}),
              str(tmp_path / "a_old.orc"), compression="none")
    write_orc(pa.table({"id": pa.array([2], type=pa.int64()),
                        "x": pa.array([7], type=pa.int64())}),
              str(tmp_path / "b_mid.orc"), compression="none")
    write_orc(pa.table({"id": pa.array([3], type=pa.int64()),
                        "x": pa.array(["s"])}),
              str(tmp_path / "c_new.orc"), compression="none")
    for evolve in (False, True):
        with pytest.raises(ValueError, match="consistent column types"):
            orc_scan(spark, str(tmp_path), missing_as_null=evolve)


def test_conform_refuses_cross_family_cast():
    """conform_table must never VALUE-convert ('123' -> 123): only the
    lossless widening lattice casts; everything else raises — this is
    the stream reader's only type guard (code-review r7)."""
    from orc_rust_spark.sources.orc_file import conform_table

    tbl = pa.table({"v": pa.array(["123", "x"])})
    with pytest.raises(ValueError, match="lossless"):
        conform_table(tbl, pa.schema([pa.field("v", pa.int64())]))
    # widening still casts; offset-width string variants still pass
    t2 = pa.table({"v": pa.array([1, 2], type=pa.int32())})
    out = conform_table(t2, pa.schema([pa.field("v", pa.int64())]))
    assert out.column("v").type == pa.int64()
    t3 = pa.table({"v": pa.array(["a"], type=pa.large_string())})
    out3 = conform_table(t3, pa.schema([pa.field("v", pa.string())]))
    assert out3.column("v").to_pylist() == ["a"]


def test_decimal_precision_widening(spark, tmp_path):
    """decimal(p,s) widens by precision at equal scale (every
    decimal(10,2) value is exact at decimal(20,2)); a scale change
    stays a clash (rescaling moves digits)."""
    from decimal import Decimal

    from orc_rust_spark.sources.orc_file import orc_scan, widen_ddl

    assert widen_ddl("decimal(10,2)", "decimal(20,2)") == "decimal(20,2)"
    assert widen_ddl("decimal(10,2)", "decimal(10,3)") is None
    write_orc(pa.table({"id": pa.array([1], type=pa.int64()),
                        "amt": pa.array([Decimal("12.34")],
                                        type=pa.decimal128(10, 2))}),
              str(tmp_path / "a.orc"), compression="none")
    write_orc(pa.table({"id": pa.array([2], type=pa.int64()),
                        "amt": pa.array([Decimal("123456789012345678.90")],
                                        type=pa.decimal128(20, 2))}),
              str(tmp_path / "b.orc"), compression="none")
    df = orc_scan(spark, str(tmp_path), missing_as_null=True)
    assert dict((f.name, f.dataType.simpleString())
                for f in df.schema.fields)["amt"] == "decimal(20,2)"
    rows = {r["id"]: r["amt"] for r in df.collect()}
    assert rows == {1: Decimal("12.34"),
                    2: Decimal("123456789012345678.90")}


def test_evolution_reads_timestamps_and_nested(spark, evolved_dir, tmp_path):
    """Representational arrow variants must conform freely: the decoder
    emits naive timestamp[us] and large_string-children structs while
    Spark's target says tz=UTC / string — same storage, relabel-only
    casts (code-review r7 third pass: the strict guard over-rejected
    these, breaking evolution reads of previously-working shapes)."""
    import datetime

    from orc_rust_spark.sources.datasource import OrcRustDataSource
    from orc_rust_spark.sources.orc_file import orc_scan

    spark.dataSource.register(OrcRustDataSource)
    ts = datetime.datetime(2024, 5, 1, 12, 0, 0)
    spark.createDataFrame(
        [(1, ts, {"a": "x"})],
        "id long, t timestamp, s struct<a: string>"
    ).write.format("orcx").mode("overwrite").save(str(tmp_path / "d"))
    df = orc_scan(spark, str(tmp_path / "d"), missing_as_null=True)
    row = df.collect()[0]
    assert row["id"] == 1 and row["s"]["a"] == "x"
    assert row["t"] is not None
    # and through the orcx reader with an evolved projection
    df2 = (spark.read.format("orcx").option("missing_as_null", "true")
           .load(str(tmp_path / "d")))
    assert df2.count() == 1
