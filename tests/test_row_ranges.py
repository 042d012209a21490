"""Explicit caller-supplied row-range selection on the real-ORC reader —
the reference's user-facing RowSelection/from_consecutive_ranges API
(src/row_selection.rs:32-260), VERDICT r5 next #7. Ranges compose with
predicate keep-sets through the same AND algebra as stats pruning, and
unlike stats pruning the returned rows are sliced EXACTLY."""

import numpy as np
import pyarrow as pa
import pytest

from orc_rust_spark.operators.predicate import And, Comparison
from orc_rust_spark.sources.orc_file import (
    OrcWriter,
    decode_stripe_pruned,
    normalize_row_ranges,
    read_metadata,
)


def test_normalize_row_ranges():
    assert normalize_row_ranges([(5, 9), (0, 3)]) == [(0, 3), (5, 9)]
    # overlapping and adjacent ranges merge
    assert normalize_row_ranges([(0, 5), (5, 9), (8, 12)]) == [(0, 12)]
    with pytest.raises(ValueError, match="start < stop"):
        normalize_row_ranges([(4, 4)])
    with pytest.raises(ValueError, match="start < stop"):
        normalize_row_ranges([(-1, 4)])


N = 60_000  # 3 stripes of 20k, 10k-row index groups


@pytest.fixture(scope="module")
def ranged_orc(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("rr") / "ranged.orc")
    tbl = pa.table({
        "id": pa.array(np.arange(N, dtype=np.int64)),
        "name": pa.array([f"row-{i % 500:04d}" for i in range(N)]),
        "val": pa.array(np.arange(N, dtype=np.float64) * 0.5),
    })
    w = OrcWriter(path, tbl.schema, compression="zlib", stripe_rows=20_000,
                  row_index_stride=10_000)
    w.write_table(tbl)
    w.close()
    return path, tbl


def _stripe_parts(path):
    meta = read_metadata(path)
    parts = []
    with open(path, "rb") as fh:
        for s in meta.stripes:
            fh.seek(s.offset)
            body = fh.read(s.index_length + s.data_length)
            footer = fh.read(s.footer_length)
            parts.append((body, footer, s.number_of_rows))
    return meta, parts


def test_ranges_equal_full_decode_slice_and_skip_groups(ranged_orc):
    """Stripe-local ranges: exact slice equality with the source table
    AND groups_decoded < groups_total (the selection actually seeks)."""
    path, tbl = ranged_orc
    meta, parts = _stripe_parts(path)
    body, footer, rows = parts[0]  # stripe 0 = file rows [0, 20000)
    # both ranges inside group 0 -> group 1 is never decoded
    ranges = normalize_row_ranges([(2_500, 3_000), (8_000, 8_010)])
    out, decoded, total = decode_stripe_pruned(
        body, footer, meta, rows, row_ranges=ranges)
    assert decoded == 1 and total == 2
    expect = pa.concat_tables([tbl.slice(2_500, 500), tbl.slice(8_000, 10)])
    assert out.equals(expect.cast(out.schema))
    # and a cross-group selection still slices exactly
    out2, decoded2, total2 = decode_stripe_pruned(
        body, footer, meta, rows, row_ranges=[(9_990, 10_020)])
    assert (decoded2, total2) == (2, 2)
    assert out2.equals(tbl.slice(9_990, 30).cast(out2.schema))


def test_ranges_compose_with_predicate(ranged_orc):
    """AND composition: a range keep-set INTERSECTS a predicate keep-set;
    rows outside the ranges never appear even when the predicate matches
    them."""
    path, tbl = ranged_orc
    meta, parts = _stripe_parts(path)
    body, footer, rows = parts[0]
    # predicate keeps ids < 6000 (groups 0..1 by stats); ranges keep only
    # [2500, 3000) — the intersection decodes ONE group
    out, decoded, total = decode_stripe_pruned(
        body, footer, meta, rows, pred=Comparison("id", "<=", 5_999),
        row_ranges=[(2_500, 3_000)])
    assert decoded == 1 and total == 2
    assert out.column("id").to_pylist() == list(range(2_500, 3_000))


def test_orc_scan_row_ranges_end_to_end(spark, ranged_orc):
    """orc_scan(row_ranges=...): file-coordinate ranges spanning stripe
    boundaries — non-intersecting stripes are never scheduled, and the
    distributed result equals the full-decode slice."""
    from pyspark.sql import functions as F

    from orc_rust_spark.sources.orc_file import orc_scan

    path, tbl = ranged_orc
    schema = "id long, name string, val double"
    # spans the stripe-0/1 boundary + a slice inside stripe 2
    ranges = [(19_990, 20_020), (45_000, 45_100)]
    df = orc_scan(spark, path, schema, row_ranges=ranges)
    got = sorted(r["id"] for r in df.collect())
    assert got == list(range(19_990, 20_020)) + list(range(45_000, 45_100))
    # values, not just ids
    row = df.where(F.col("id") == 45_050).collect()[0]
    assert row["name"] == f"row-{45_050 % 500:04d}"
    assert row["val"] == 45_050 * 0.5

    # composes with a predicate through the same AND algebra
    df2 = orc_scan(spark, path, schema,
                   predicate=And(Comparison("id", ">=", 45_000),
                                 Comparison("id", "<=", 45_049)),
                   row_ranges=ranges)
    got2 = sorted(r["id"] for r in df2.where(F.col("id") <= 45_049).collect())
    assert got2 == list(range(45_000, 45_050))


def test_orc_scan_row_ranges_rejects_multi_file(spark, tmp_path, ranged_orc):
    import shutil

    from orc_rust_spark.sources.orc_file import orc_scan

    path, _ = ranged_orc
    d = tmp_path / "many"
    d.mkdir()
    shutil.copy(path, d / "a.orc")
    shutil.copy(path, d / "b.orc")
    with pytest.raises(ValueError, match="single ORC file"):
        orc_scan(spark, str(d), "id long, name string, val double",
                 row_ranges=[(0, 10)])


def test_orcx_datasource_row_ranges_option(spark, tmp_path, ranged_orc):
    """The row-range selection is also exposed on the registered orcx
    DataSource as .option("row_ranges", "a-b,c-d") — same clipping,
    stripe skip, AND-composition, and exact slice as orc_scan."""
    from pyspark.sql import functions as F

    from orc_rust_spark.sources.datasource import OrcRustDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(OrcRustDataSource)
    path, tbl = ranged_orc
    df = (spark.read.format("orcx")
          .option("row_ranges", "19990-20020, 45000-45100")
          .load(path))
    got = sorted(r["id"] for r in df.collect())
    assert got == list(range(19_990, 20_020)) + list(range(45_000, 45_100))
    # residual Spark filters still apply exactly on top of the selection
    assert df.where(F.col("id") % 2 == 0).count() == 65
    # multi-file loads are rejected up front
    import shutil

    d = tmp_path / "many_ds"
    d.mkdir()
    shutil.copy(path, d / "a.orc")
    shutil.copy(path, d / "b.orc")
    with pytest.raises(Exception, match="single ORC file"):
        (spark.read.format("orcx").option("row_ranges", "0-10")
         .load(str(d))).collect()


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=25, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 19_990), st.integers(1, 2_000)),
    min_size=1, max_size=6,
))
def test_ranges_property_equal_slice(ranged_orc, raw):
    """Property: for ANY set of ranges, the range-selected decode of a
    stripe equals the full decode sliced by the normalized ranges."""
    path, tbl = ranged_orc
    meta, parts = _stripe_parts(path)
    body, footer, rows = parts[0]
    ranges = normalize_row_ranges([(a, min(a + w, 20_000)) for a, w in raw])
    out, decoded, total = decode_stripe_pruned(
        body, footer, meta, rows, row_ranges=ranges)
    expect = pa.concat_tables([tbl.slice(a, b - a) for a, b in ranges])
    assert out.equals(expect.cast(out.schema))
    assert decoded <= total


def test_orc_scan_readahead_many_stripes_per_task(spark, tmp_path):
    """The in-task one-ahead stripe prefetch (async-reader analog) must
    be value-transparent when a task processes several stripes: a
    12-stripe file on a 4-core session puts ~3 stripes per task, and the
    scan still returns exactly the source rows."""
    from pyspark.sql import functions as F

    from orc_rust_spark.sources.orc_file import OrcWriter, orc_scan

    n = 48_000  # 12 stripes of 4k rows
    tbl = pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "name": pa.array([f"r{i % 31}" for i in range(n)]),
    })
    path = str(tmp_path / "many_stripes.orc")
    w = OrcWriter(path, tbl.schema, compression="zlib", stripe_rows=4_000,
                  row_index_stride=10_000)
    w.write_table(tbl)
    w.close()
    df = orc_scan(spark, path, "id long, name string")
    agg = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum("id").alias("s")).collect()[0]
    assert agg["n"] == n and agg["s"] == n * (n - 1) // 2
    # with a predicate + ranges through the same path
    df2 = orc_scan(spark, path, "id long, name string",
                   predicate=And(Comparison("id", ">=", 100),
                                 Comparison("id", "<=", 8_200)),
                   row_ranges=[(0, 8_201)])
    got = df2.where((F.col("id") >= 100) & (F.col("id") <= 8_200))
    assert got.count() == 8_101
