"""Scan-side pruning over the chunk table — the engine's analog of the
reference's row-group predicate pushdown (src/row_group_filter.rs:54-205)
and bloom pruning (:370-408).

A point lookup first evaluates chunk-level metadata:
- min/max statistics, through the predicate evaluator
  (operators.predicate: three-valued and typed; string max values
  truncated at 64 chars are treated as unbounded)
- the BLOOM_FILTER stream for the equality probe (maybe-present test)

and only then decodes the surviving chunks, each skipping the row groups
whose index rules the value out. The bloom pass is a pandas UDF over chunk
rows (distributed — at 10^12-doc scale the chunk table is itself big).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..codecs import block as blockc
from ..codecs.bloom import BloomFilter
from ..sources import chunk_table as ct
from .predicate import Comparison, _decode_pruned, prune_chunks_predicate


def prune_chunks_bloom(chunks: DataFrame, column: str, eq_value) -> DataFrame:
    """Chunks whose bloom filter says maybe-present -> keys DF.

    Chunks without a bloom stream are kept (filter is advisory).
    """
    # only probe types whose byte representation matches what the encoder
    # fed the filter (i64 for ints, raw/utf8 bytes for str/bytes) may
    # prune; e.g. a Decimal probe vs a filter built on 16-byte mantissas
    # would false-negative -> keep everything instead
    if not isinstance(eq_value, (int, str, bytes)):
        return chunks.select("part_id", "chunk_ord").distinct()
    is_int = isinstance(eq_value, int)
    # ... and the probe bytes must match what THIS column's encoder fed
    # the filter: an int probe against a string column's bloom (utf8
    # bytes) would false-negative on every chunk and wrongly prune
    # (code-review r6). Mismatched blooms count as absent (kept).
    probe_codecs = (
        ("rle_v2", "rle_v1", "byte_rle") if is_int
        else ("direct", "dict", "fsst")
    )
    bloom = chunks.where(
        (F.col("column") == column) & (F.col("stream_kind") == ct.BLOOM_FILTER)
        & F.col("codec").isin(*probe_codecs)
    ).select("part_id", "chunk_ord", "data", "block_codec")

    @F.pandas_udf(T.BooleanType())
    def maybe(data: pd.Series, codec: pd.Series) -> pd.Series:
        out = []
        for raw, bc in zip(data, codec):
            bf = BloomFilter.deserialize(blockc.decompress_stream(bytes(raw), bc))
            if is_int:
                out.append(bf.might_contain_i64(int(eq_value)))
            else:
                probe = eq_value if isinstance(eq_value, bytes) else str(eq_value).encode()
                out.append(bf.might_contain_bytes(probe))
        return pd.Series(out)

    keep = bloom.where(maybe(F.col("data"), F.col("block_codec"))).select(
        "part_id", "chunk_ord"
    )
    with_bloom = bloom.select("part_id", "chunk_ord")
    without = (
        chunks.select("part_id", "chunk_ord").distinct()
        .join(with_bloom, ["part_id", "chunk_ord"], "left_anti")
    )
    return keep.union(without)


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
