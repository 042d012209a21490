"""Scan-side pruning over the chunk table — the engine's analog of the
reference's row-group predicate pushdown (src/row_group_filter.rs:54-205)
and bloom pruning (:370-408), on the predicate evaluator
(operators.predicate).

A pruned read first judges whole chunks by their metadata:
- min/max statistics, by the evaluator's comparison table over the
  chunk-stats pivot (might_match: three-valued and typed; string max
  values truncated at 64 chars are treated as unbounded)
- for a point lookup, the BLOOM_FILTER stream (maybe-present test)

and only then decodes the surviving chunks, each skipping the row groups
whose index rules the predicate out (rg_keep_for_chunk, through
Predicate.keep). The bloom pass is a pandas UDF over chunk rows
(distributed — at 10^12-doc scale the chunk table is itself big).
"""

from __future__ import annotations

import functools
import json
import operator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs import block as blockc
from ..codecs.bloom import BloomFilter
from ..sources import chunk_table as ct
from .decode import decode_table_arrow
from .predicate import (
    _DEFINITELY_FALSE,
    OPS,
    And,
    Comparison,
    IsNotNull,
    IsNull,
    Not,
    Predicate,
    Summary,
    bloom_may_contain,
    comparable,
)

MAX_STAT_LEN = 64  # string min/max truncation length used by the encoder

#: chunk-table codec -> the Python type its persisted min/max strings parse
#: back to (decimal stats are unscaled mantissas and boolean_rle has none)
STAT_TYPE = {
    **dict.fromkeys(("rle_v2", "rle_v1", "byte_rle", "date", "timestamp_split"), int),
    "float_plain": float,
    **dict.fromkeys(("direct", "dict", "fsst"), str),
}


def rg_summaries(rg: dict) -> list[Summary]:
    """One indexed column's row-group stats (its ``rg`` JSON) -> one
    Summary per group. Stats are strings of the codec's monotone encoding,
    parsed back by codec; an unparsable stat is unknown. A string max at
    the truncation limit is a PREFIX of the true max (a lower bound), so it
    is no upper bound; a min prefix is sound."""
    parse = STAT_TYPE.get(rg["codec"])

    def typed(stat):
        try:
            return None if stat is None or parse is None else parse(stat)
        except ValueError:
            return None

    out = []
    for mn, mx, n, nulls in zip(rg["min"], rg["max"], rg["n"], rg["nulls"]):
        mx = typed(mx)
        if isinstance(mx, str) and len(mx) >= MAX_STAT_LEN:
            mx = None
        out.append(Summary(typed(mn), mx, n - nulls, nulls > 0))
    return out


def rg_keep_for_chunk(rows: list[dict], pred: Predicate) -> list[int] | None:
    """Composed row-group keep list for one chunk's stream-row dicts, or
    None when no predicate column is indexed / nothing can be skipped."""
    cols = pred.columns()
    rg_by_col: dict[str, dict] = {}
    for r in rows:
        if r["stream_kind"] == ct.DATA and r["column"] in cols and r["stats_json"]:
            rg = json.loads(r["stats_json"]).get("rg")
            if rg:
                rg_by_col[r["column"]] = rg
    if not rg_by_col:
        return None
    grids = list(rg_by_col.values())
    if any(g["n"] != grids[0]["n"] for g in grids[1:]):
        # per-column row_index_stride overrides put the indexed columns on
        # DIFFERENT group grids: a keep list computed on one grid would
        # slice the others at wrong row spans (code-review r6) — skip
        # group pruning; the chunk still decodes and the residual filter
        # gives exact rows
        return None
    n_groups = len(grids[0]["n"])
    summaries = {c: rg_summaries(rg) for c, rg in rg_by_col.items()}
    keep = sorted(pred.keep(summaries, n_groups))
    return None if len(keep) >= n_groups else keep


def _typed_stat(stat_col: str, bound):
    """(comparable stat Column, literal) with TYPED comparison semantics:
    numeric bounds try_cast the persisted stat string back to bigint/double
    ("1004" < "500" as strings); an uncastable stat yields NULL, which the
    three-valued logic keeps."""
    c = F.col(stat_col)
    if isinstance(bound, int):
        return c.try_cast("bigint"), F.lit(int(bound))
    if isinstance(bound, float):
        return c.try_cast("double"), F.lit(float(bound))
    return c, F.lit(str(bound))


def _fold(pred: Predicate, fn) -> Column:
    parts = [fn(p) for p in pred.preds]
    if isinstance(pred, And):
        return functools.reduce(operator.and_, parts, F.lit(True))
    return functools.reduce(operator.or_, parts, F.lit(False))


def might_match(pred: Predicate) -> Column:
    """Boolean Column over the per-chunk stats pivot (True = keep): the
    evaluator's comparison table over Spark Columns, where NULL is unknown
    and NaN sorts above every number."""
    if isinstance(pred, Not):
        return might_match(pred.pred.negate())
    if not isinstance(pred, (Comparison, IsNull, IsNotNull)):
        return _fold(pred, might_match)
    nulls, rows = F.col(f"nulls__{pred.col}"), F.col(f"rows__{pred.col}")
    if isinstance(pred, IsNull):
        empty = nulls == 0
    elif isinstance(pred, IsNotNull):
        empty = nulls == rows
    else:
        codecs = [c for c, t in STAT_TYPE.items() if comparable(t, pred.value)]
        min_stat, lit = _typed_stat(f"min__{pred.col}", pred.value)
        max_stat, _ = _typed_stat(f"max__{pred.col}", pred.value)
        if isinstance(pred.value, str):  # truncated max: no upper bound
            max_stat = F.when(
                F.length(F.col(f"max__{pred.col}")) < MAX_STAT_LEN, max_stat
            )
        empty = (nulls == rows) | (
            F.col(f"codec__{pred.col}").isin(*codecs)
            & _DEFINITELY_FALSE[pred.op](min_stat, max_stat, lit)
        )
    return ~empty.eqNullSafe(F.lit(True))


def to_spark(pred: Predicate) -> Column:
    """The exact predicate over decoded rows (the residual filter)."""
    if isinstance(pred, Comparison):
        return OPS[pred.op](F.col(pred.col), F.lit(pred.value))
    if isinstance(pred, IsNull):
        return F.col(pred.col).isNull()
    if isinstance(pred, IsNotNull):
        return F.col(pred.col).isNotNull()
    if isinstance(pred, Not):
        return ~to_spark(pred.pred)
    return _fold(pred, to_spark)


def chunk_stats_pivot(chunks: DataFrame, cols: list[str]) -> DataFrame:
    """One row per chunk with min__c/max__c/nulls__c/rows__c per column."""
    meta = chunks.where(
        (F.col("stream_kind") == ct.DATA) & F.col("column").isin(list(cols))
    )
    aggs = []
    for c in cols:
        is_c = F.col("column") == c
        aggs += [
            F.first(F.when(is_c, F.col("codec")), ignorenulls=True).alias(f"codec__{c}"),
            F.first(F.when(is_c, F.col("min_val")), ignorenulls=True).alias(f"min__{c}"),
            F.first(F.when(is_c, F.col("max_val")), ignorenulls=True).alias(f"max__{c}"),
            F.first(F.when(is_c, F.col("null_count")), ignorenulls=True).alias(f"nulls__{c}"),
            F.first(F.when(is_c, F.col("row_count")), ignorenulls=True).alias(f"rows__{c}"),
        ]
    return meta.groupBy("part_id", "chunk_ord").agg(*aggs)


def prune_chunks_predicate(chunks: DataFrame, pred: Predicate) -> DataFrame:
    """Chunk keys whose stats say the predicate MIGHT match."""
    pivot = chunk_stats_pivot(chunks, sorted(pred.columns()))
    return pivot.where(might_match(pred)).select("part_id", "chunk_ord")


def prune_chunks_bloom(chunks: DataFrame, column: str, eq_value) -> DataFrame:
    """Chunks whose bloom filter says maybe-present -> keys DF.

    Chunks without a bloom stream are kept (filter is advisory), and so
    are chunks whose bloom the probe's type cannot query
    (bloom_may_contain: the column's codec says what the encoder fed it).
    """
    bloom = chunks.where(
        (F.col("column") == column) & (F.col("stream_kind") == ct.BLOOM_FILTER)
    ).select("part_id", "chunk_ord", "data", "block_codec", "codec")

    @F.pandas_udf(T.BooleanType())
    def maybe(data: pd.Series, block_codec: pd.Series, codec: pd.Series) -> pd.Series:
        return pd.Series([
            bloom_may_contain(
                BloomFilter.deserialize(blockc.decompress_stream(bytes(raw), bc)),
                STAT_TYPE.get(c), eq_value)
            for raw, bc, c in zip(data, block_codec, codec)
        ])

    keep = bloom.where(
        maybe(F.col("data"), F.col("block_codec"), F.col("codec"))
    ).select("part_id", "chunk_ord")
    without = (
        chunks.select("part_id", "chunk_ord").distinct()
        .join(bloom.select("part_id", "chunk_ord"), ["part_id", "chunk_ord"], "left_anti")
    )
    return keep.union(without)


def _decode_pruned(
    chunks: DataFrame, schema: T.StructType, pred: Predicate, keys: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """-> (rows satisfying pred exactly, keys): decode only the chunks in
    ``keys``, each skipping the row groups pred rules out, then apply pred
    as the residual filter."""
    pruned = chunks.join(F.broadcast(keys), ["part_id", "chunk_ord"], "left_semi")
    return decode_table_arrow(pruned, schema, pred=pred).where(to_spark(pred)), keys


def pruned_scan(
    chunks: DataFrame, schema: T.StructType, pred: Predicate
) -> tuple[DataFrame, DataFrame]:
    """-> (decoded rows satisfying pred exactly, kept chunk keys).

    Two pruning granularities: chunk-level stats (might_match pivot), then
    within each surviving chunk the per-COLUMN row-group keep lists are
    COMPOSED across the predicate tree (And intersects, Or unions — the
    reference's RowSelection and_then/union, src/row_selection.rs:32-260)
    so a multi-column predicate skips groups on every indexed column, not
    just one."""
    return _decode_pruned(chunks, schema, pred, prune_chunks_predicate(chunks, pred))


def pruned_point_lookup(
    chunks: DataFrame, schema: T.StructType, column: str, value
) -> tuple[DataFrame, DataFrame]:
    """-> (decoded rows matching column == value, kept chunk keys).

    Stats pruning AND bloom pruning of whole chunks; each surviving chunk
    written with a row index (plan {col: {"row_index": True}}) decodes only
    the groups whose min/max may hold the value — the reference's
    row-index seek model (src/row_index.rs:31-55, stride
    src/stripe.rs:300). The residual filter gives the exact rows.
    """
    pred = Comparison(column, "=", value)
    keys = prune_chunks_predicate(chunks, pred).intersect(
        prune_chunks_bloom(chunks, column, value)
    )
    return _decode_pruned(chunks, schema, pred, keys)
