"""Property: the predicate evaluator never skips a unit that holds a row
matching under Spark semantics, at ORC stripe, ORC row-group, chunk-table
row-group and hive-partition granularity.

The truth is a filter over the source rows after a full decode, with
Spark's semantics: NaN sorts above every number and equals itself, NULL
is unknown (Kleene logic), IN is an Or of equalities. Spark-free.
"""

import math
import os
import tempfile

import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from orc_rust_spark.operators.encode import encode_chunk
from orc_rust_spark.operators.predicate import (
    OPS,
    And,
    Comparison,
    IsNotNull,
    IsNull,
    Not,
    Or,
)
from orc_rust_spark.operators.pruned_read import rg_keep_for_chunk
from orc_rust_spark.sources.datasource import _partition_summaries
from orc_rust_spark.sources.orc_file import (
    decode_stripe_pruned,
    keep_stripes,
    read_metadata,
    write_orc,
)

STRIDE = 4  # rows per chunk-table row group
ORC_STRIDE, STRIPE_ROWS = 8, 24  # an ORC stride is a multiple of 8

INF, NAN = math.inf, math.nan
FLOATS = st.one_of(st.sampled_from([-INF, -1.5, 0.0, 1.0, 2.0, INF, NAN]),
                   st.floats(-4, 4, allow_nan=False))
INTS = st.integers(-3, 3)
# two strings of 64+ chars exercise the chunk table's truncated max
STRINGS = st.sampled_from(["", "a", "ab", "b", "ba", "z", "m" * 70, "m" * 64 + "a"])
COLUMNS = {"i": INTS, "f": FLOATS, "s": STRINGS}
PROBES = {"i": st.one_of(INTS, FLOATS), "f": st.one_of(FLOATS, INTS), "s": STRINGS}
ARROW = {"i": pa.int64(), "f": pa.float64(), "s": pa.string()}
OP = st.sampled_from(sorted(OPS))


def _leaf(col: str):
    return st.one_of(
        st.builds(Comparison, st.just(col), OP, PROBES[col]),
        st.lists(PROBES[col], min_size=1, max_size=3).map(
            lambda vs: Or(*(Comparison(col, "=", v) for v in vs))),  # IN
        st.just(IsNull(col)),
        st.just(IsNotNull(col)),
    )


PREDICATES = st.recursive(
    st.one_of(*(_leaf(c) for c in COLUMNS)),
    lambda kids: st.one_of(
        st.lists(kids, min_size=1, max_size=3).map(lambda ps: And(*ps)),
        st.lists(kids, min_size=1, max_size=3).map(lambda ps: Or(*ps)),
        kids.map(Not),
    ),
    max_leaves=6,
)


# pinned edges: NaN sorts above every number, ±inf are ordinary bounds
EDGES = [
    ({"i": [0, 1], "f": [1.0, NAN], "s": ["a", "b"]}, Comparison("f", ">", 2.0)),
    ({"i": [0, 1], "f": [1.0, INF], "s": ["a", "b"]}, Comparison("f", ">", 2.0)),
    ({"i": [0, 1], "f": [1.0, -INF], "s": ["a", "b"]}, Comparison("f", "<", 0.5)),
    ({"i": [0, 1], "f": [NAN, NAN], "s": ["a", "b"]}, Comparison("f", "=", NAN)),
]


def _with_edges(test):
    for cols, pred in EDGES:
        test = example(cols, pred)(test)
    return test


@st.composite
def tables(draw):
    n = draw(st.integers(1, 40))
    return {c: draw(st.lists(st.one_of(st.none(), vals), min_size=n, max_size=n))
            for c, vals in COLUMNS.items()}


def _key(x):
    """Spark's order: NaN above every number, and equal to itself."""
    return (1, 0.0) if isinstance(x, float) and math.isnan(x) else (0, x)


def spark_eval(pred, row: dict):
    """True / False / None (unknown) for one row, under Spark semantics."""
    if isinstance(pred, Comparison):
        v = row[pred.col]
        return None if v is None else OPS[pred.op](_key(v), _key(pred.value))
    if isinstance(pred, IsNull):
        return row[pred.col] is None
    if isinstance(pred, IsNotNull):
        return row[pred.col] is not None
    if isinstance(pred, Not):
        v = spark_eval(pred.pred, row)
        return None if v is None else not v
    vals = [spark_eval(p, row) for p in pred.preds]
    decisive = isinstance(pred, Or)  # True decides an Or, False an And
    if decisive in vals:
        return decisive
    return None if None in vals else not decisive


def _matches(pred, cols: dict, rows) -> list[int]:
    return [r for r in rows if spark_eval(pred, {c: v[r] for c, v in cols.items()}) is True]


def _orc_file(cols: dict, d: str) -> str:
    n = len(cols["i"])
    tbl = pa.table({"rid": pa.array(range(n), pa.int64()),
                    **{c: pa.array(v, ARROW[c]) for c, v in cols.items()}})
    path = os.path.join(d, "t.orc")
    write_orc(tbl, path, stripe_rows=STRIPE_ROWS, row_index_stride=ORC_STRIDE,
              bloom_columns=["i", "s"])
    return path


@settings(max_examples=200, deadline=None)
@given(tables(), PREDICATES)
@_with_edges
def test_orc_stripes_and_row_groups_never_skip_a_match(cols, pred):
    with tempfile.TemporaryDirectory() as d:
        path = _orc_file(cols, d)
        meta = read_metadata(path)
        kept = set(keep_stripes(meta, pred))
        base = 0
        with open(path, "rb") as fh:
            for i, s in enumerate(meta.stripes):
                rows = range(base, base + s.number_of_rows)
                base += s.number_of_rows
                want = _matches(pred, cols, rows)
                if i not in kept:
                    assert not want, (i, want)
                    continue
                fh.seek(s.offset)
                body = fh.read(s.index_length + s.data_length)
                footer = fh.read(s.footer_length)
                out, _, _ = decode_stripe_pruned(body, footer, meta, s.number_of_rows,
                                                 pred=pred)
                assert set(want) <= set(out.column("rid").to_pylist())


@settings(max_examples=200, deadline=None)
@given(tables(), PREDICATES)
@_with_edges
def test_chunk_table_row_groups_never_skip_a_match(cols, pred):
    tbl = pa.table({c: pa.array(v, ARROW[c]) for c, v in cols.items()})
    plan = {c: {"row_index": True, "row_index_stride": STRIDE} for c in COLUMNS}
    keep = rg_keep_for_chunk(encode_chunk(tbl, 0, 0, plan).to_pylist(), pred)
    n = tbl.num_rows
    for g in range(-(-n // STRIDE)):
        if keep is not None and g not in keep:
            rows = range(g * STRIDE, min((g + 1) * STRIDE, n))
            assert not _matches(pred, cols, rows), g


@settings(max_examples=200, deadline=None)
@given(tables(), PREDICATES)
@_with_edges
def test_hive_partitions_never_skip_a_match(cols, pred):
    # every distinct (i, f, s) is one partition directory
    for r in range(len(cols["i"])):
        pvals = {c: v[r] for c, v in cols.items()}
        if not pred.keep(_partition_summaries(pvals), 1):
            assert spark_eval(pred, pvals) is not True, pvals
