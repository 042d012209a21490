"""Hive-style partitioned ORC layout (r7): the orcx writer's
``partition_columns`` option lays files out under ``col=value/``
subdirectories (partition values live in the PATH, not the files), and
the orcx reader discovers the layout, serves partition values as
constant columns, and prunes WHOLE FILES from pushed filters at
planning — the #1 scan-avoidance lever on a 100 TB corpus."""

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, IsNull

from orc_rust_spark.sources.orc_file import orc_to_table, write_orc


@pytest.fixture(scope="module")
def orcx(spark):
    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcRustDataSource)
    return spark


@pytest.fixture()
def part_dir(orcx, tmp_path):
    d = str(tmp_path / "out")
    df = orcx.createDataFrame(
        [(i, ("en", "de", "fr")[i % 3] if i % 7 else None, float(i))
         for i in range(60)],
        "id long, lang string, score double")
    (df.write.format("orcx").option("partition_columns", "lang")
     .mode("overwrite").save(d))
    return d


def test_write_layout_and_roundtrip(orcx, part_dir):
    """Files land under lang=<value>/ (null -> the hive marker), do NOT
    contain the partition column, and read back completely."""
    dirs = sorted(os.listdir(part_dir))
    assert "lang=en" in dirs and "lang=de" in dirs and "lang=fr" in dirs
    assert "lang=__HIVE_DEFAULT_PARTITION__" in dirs
    some_file = next(
        os.path.join(part_dir, "lang=en", f)
        for f in os.listdir(os.path.join(part_dir, "lang=en")))
    assert "lang" not in orc_to_table(some_file).column_names
    df = orcx.read.format("orcx").load(part_dir)
    assert sorted(df.columns) == ["id", "lang", "score"]
    rows = {r["id"]: (r["lang"], r["score"]) for r in df.collect()}
    assert len(rows) == 60
    for i in range(60):
        assert rows[i] == (("en", "de", "fr")[i % 3] if i % 7 else None,
                           float(i))


def test_partition_pruning_skips_files(orcx, part_dir):
    """A pushed equality on the partition column plans ONLY that
    directory's stripes."""
    from orc_rust_spark.sources.datasource import OrcRustReader

    r = OrcRustReader({"path": part_dir})
    list(r.pushFilters([EqualTo(("lang",), "en")]))
    parts = [p for p in r.partitions() if p.offset >= 0]
    assert parts, "pruned everything"
    assert all(f"lang=en{os.sep}" in p.path or "lang=en/" in p.path
               for p in parts)
    # and the full answer is still exact through Spark's residual filter
    df = orcx.read.format("orcx").load(part_dir)
    got = sorted(r["id"] for r in df.where(F.col("lang") == "en").collect())
    assert got == sorted(i for i in range(60) if i % 7 and i % 3 == 0)


def test_null_partition_semantics(orcx, part_dir):
    df = orcx.read.format("orcx").load(part_dir)
    got = sorted(r["id"] for r in df.where(F.col("lang").isNull()).collect())
    assert got == sorted(i for i in range(60) if i % 7 == 0)
    # IS NULL prunes to the hive-default directory only
    from orc_rust_spark.sources.datasource import OrcRustReader

    r = OrcRustReader({"path": part_dir})
    list(r.pushFilters([IsNull(("lang",))]))
    parts = [p for p in r.partitions() if p.offset >= 0]
    assert parts and all("__HIVE_DEFAULT_PARTITION__" in p.path
                         for p in parts)


def test_numeric_partition_inference(orcx, tmp_path):
    """Partition values that all parse as ints come back as longs."""
    d = str(tmp_path / "byday")
    df = orcx.createDataFrame([(i, i % 3) for i in range(30)],
                              "id long, day long")
    (df.write.format("orcx").option("partition_columns", "day")
     .mode("overwrite").save(d))
    got = orcx.read.format("orcx").load(d)
    assert dict((f.name, f.dataType.simpleString())
                for f in got.schema.fields)["day"] == "bigint"
    assert got.where(F.col("day") == 1).count() == 10


def test_two_level_partitioning(orcx, tmp_path):
    d = str(tmp_path / "two")
    df = orcx.createDataFrame(
        [(i, ("a", "b")[i % 2], i % 2 + 10) for i in range(20)],
        "id long, k string, day long")
    (df.write.format("orcx").option("partition_columns", "k,day")
     .mode("overwrite").save(d))
    assert os.path.isdir(os.path.join(d, "k=a", "day=10"))
    got = orcx.read.format("orcx").load(d)
    assert got.count() == 20
    assert got.where((F.col("k") == "b") & (F.col("day") == 11)).count() == 10


def test_special_chars_urlencoded(orcx, tmp_path):
    """'/' and '=' in a partition value cannot corrupt the layout."""
    d = str(tmp_path / "weird")
    df = orcx.createDataFrame([(1, "a/b=c"), (2, "plain")],
                              "id long, k string")
    (df.write.format("orcx").option("partition_columns", "k")
     .mode("overwrite").save(d))
    got = {r["id"]: r["k"]
           for r in orcx.read.format("orcx").load(d).collect()}
    assert got == {1: "a/b=c", 2: "plain"}


def test_overwrite_reclaims_partition_dirs(orcx, tmp_path):
    d = str(tmp_path / "ow")
    df1 = orcx.createDataFrame([(1, "x")], "id long, k string")
    (df1.write.format("orcx").option("partition_columns", "k")
     .mode("overwrite").save(d))
    df2 = orcx.createDataFrame([(2, "y")], "id long, k string")
    (df2.write.format("orcx").option("partition_columns", "k")
     .mode("overwrite").save(d))
    got = [(r["id"], r["k"])
           for r in orcx.read.format("orcx").load(d).collect()]
    assert got == [(2, "y")]


def test_partition_column_validation(orcx, tmp_path):
    from pyspark.sql.types import StructType

    from orc_rust_spark.sources.datasource import (
        OrcRustStreamWriter,
        OrcRustWriter,
    )

    schema = StructType.fromDDL("id long, k string")
    with pytest.raises(ValueError, match="not in the written"):
        OrcRustWriter({"path": str(tmp_path),
                       "partition_columns": "nope"}, schema, True)
    with pytest.raises(ValueError, match="every written column"):
        OrcRustWriter({"path": str(tmp_path),
                       "partition_columns": "id,k"}, schema, True)
    # the STREAMING sink shares the option (manifests store
    # root-relative paths, so partitioned replay dedup works)
    OrcRustStreamWriter({"path": str(tmp_path),
                         "partition_columns": "k"}, schema, True)


def test_streaming_partitioned_sink(orcx, tmp_path):
    """writeStream.format('orcx') with partition_columns: each batch's
    files land under col=value/ dirs, replay-deduped through the
    root-relative manifest; a second availableNow run appends only the
    NEW file's rows."""
    import os

    src, out, ckpt = (str(tmp_path / n) for n in ("in", "out", "ck"))
    os.makedirs(src)

    def land(i):
        write_orc(pa.table({
            "id": pa.array([2 * i, 2 * i + 1], type=pa.int64()),
            "k": pa.array(["a", "b"]),
        }), os.path.join(src, f"f{i}.orc"), compression="zlib")

    def drain():
        q = (orcx.readStream.format("orcx").schema("id long, k string")
             .load(src)
             .writeStream.format("orcx")
             .option("path", out).option("checkpointLocation", ckpt)
             .option("partition_columns", "k")
             .trigger(availableNow=True).start())
        q.awaitTermination()

    land(0)
    drain()
    assert os.path.isdir(os.path.join(out, "k=a"))
    got = orcx.read.format("orcx").load(out)
    assert {(r["id"], r["k"]) for r in got.collect()} == {
        (0, "a"), (1, "b")}
    land(1)
    drain()
    got2 = orcx.read.format("orcx").load(out)
    assert {(r["id"], r["k"]) for r in got2.collect()} == {
        (0, "a"), (1, "b"), (2, "a"), (3, "b")}


def test_shadowed_partition_column_rejected(orcx, tmp_path):
    """A col=value/ directory whose column also exists INSIDE the files
    is ambiguous — rejected at planning."""
    from orc_rust_spark.sources.datasource import OrcRustReader

    sub = tmp_path / "k=a"
    sub.mkdir()
    write_orc(pa.table({"id": pa.array([1], type=pa.int64()),
                        "k": pa.array(["b"])}),
              str(sub / "f.orc"), compression="none")
    with pytest.raises(ValueError, match="partition column"):
        OrcRustReader({"path": str(tmp_path)})


def test_plain_directories_still_flat(orcx, tmp_path):
    """A directory with *.orc directly in it keeps the historical flat
    behavior — no recursion, no partition columns."""
    write_orc(pa.table({"id": pa.array([1, 2], type=pa.int64())}),
              str(tmp_path / "a.orc"), compression="none")
    df = orcx.read.format("orcx").load(str(tmp_path))
    assert df.columns == ["id"]
    assert df.count() == 2


def test_underscore_values_stay_strings(orcx, tmp_path):
    """int()'s underscore/whitespace leniency must not leak into
    partition inference: ver=2024_01 is a STRING, not long 202401
    (code-review r7)."""
    d = str(tmp_path / "ver")
    df = orcx.createDataFrame([(1, "2024_01"), (2, "2023_12")],
                              "id long, ver string")
    (df.write.format("orcx").option("partition_columns", "ver")
     .mode("overwrite").save(d))
    got = orcx.read.format("orcx").load(d)
    assert dict((f.name, f.dataType.simpleString())
                for f in got.schema.fields)["ver"] == "string"
    assert {r["ver"] for r in got.collect()} == {"2024_01", "2023_12"}
    from orc_rust_spark.sources.datasource import _infer_part_ddl

    assert _infer_part_ddl(["nan", "inf"]) == "string"
    assert _infer_part_ddl([" 1", "2"]) == "string"
    assert _infer_part_ddl(["1", "-2"]) == "long"
    assert _infer_part_ddl(["1.5", "2e3"]) == "double"


def test_partitioning_composes_with_evolution(orcx, tmp_path):
    """A partitioned corpus whose newer partitions carry an extra data
    column: partition attach + evolution conform compose (the attach
    happens before the conform, so partition values survive)."""
    d = tmp_path / "combo"
    (d / "day=1").mkdir(parents=True)
    (d / "day=2").mkdir()
    write_orc(pa.table({"id": pa.array([1, 2], type=pa.int64())}),
              str(d / "day=1" / "f.orc"), compression="none")
    write_orc(pa.table({"id": pa.array([3], type=pa.int64()),
                        "tag": pa.array(["x"])}),
              str(d / "day=2" / "f.orc"), compression="none")
    df = (orcx.read.format("orcx")
          .option("missing_as_null", "true").load(str(d)))
    rows = {r["id"]: (r["tag"], r["day"]) for r in df.collect()}
    assert rows == {1: (None, 1), 2: (None, 1), 3: ("x", 2)}
    got = df.where(F.col("day") == 2).collect()
    assert [(r["id"], r["tag"]) for r in got] == [(3, "x")]


def test_orc_scan_points_at_orcx_for_partitioned_dirs(spark, tmp_path):
    """orc_scan on a partitioned root gives an actionable error instead
    of a bare not-found."""
    sub = tmp_path / "k=a"
    sub.mkdir()
    write_orc(pa.table({"id": pa.array([1], type=pa.int64())}),
              str(sub / "f.orc"), compression="none")
    from orc_rust_spark.sources.orc_file import orc_scan

    with pytest.raises(FileNotFoundError, match="orcx"):
        orc_scan(spark, str(tmp_path))


def test_date_partition_inference(orcx, tmp_path):
    """ISO-date partition values type as DateType (Spark's inference),
    prune on pushed date ranges, and invalid dates stay strings."""
    import datetime

    d = str(tmp_path / "byday")
    df = orcx.createDataFrame(
        [(i, datetime.date(2024, 1, 1 + i % 3)) for i in range(12)],
        "id long, day date")
    (df.write.format("orcx").option("partition_columns", "day")
     .mode("overwrite").save(d))
    assert os.path.isdir(os.path.join(d, "day=2024-01-02"))
    got = orcx.read.format("orcx").load(d)
    assert dict((f.name, f.dataType.simpleString())
                for f in got.schema.fields)["day"] == "date"
    assert got.where(
        F.col("day") == datetime.date(2024, 1, 2)).count() == 4
    from orc_rust_spark.sources.datasource import (
        OrcRustReader,
        _infer_part_ddl,
    )

    r = OrcRustReader({"path": d})
    list(r.pushFilters([GreaterThanOrEqual(("day",), datetime.date(2024, 1, 3))]))
    parts = [p for p in r.partitions() if p.offset >= 0]
    assert parts and all("day=2024-01-03" in p.path for p in parts)
    assert _infer_part_ddl(["2024-13-40"]) == "string"
    assert _infer_part_ddl(["2024-01-01", "x"]) == "string"


def test_partition_value_encode_parse_roundtrip_property():
    """Any printable string survives dir-name encoding: quote() on
    write, unquote() + segment parse on read — including '=', '/',
    '%', spaces, and non-ASCII."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from orc_rust_spark.sources.datasource import (
        _encode_part_value,
        _parse_part_segments,
    )

    @given(st.text(
        alphabet=st.characters(blacklist_categories=("Cs",),
                               blacklist_characters="\x00"),
        min_size=1, max_size=40))
    @settings(max_examples=200, deadline=None)
    def check(v):
        enc = _encode_part_value(v)
        assert "/" not in enc and "=" not in enc
        segs = _parse_part_segments("/root", f"/root/k={enc}/f.orc")
        assert segs == {"k": v}

    check()
