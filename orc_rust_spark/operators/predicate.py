"""Composite predicate AST evaluated three-valued over chunk statistics.

Mirrors the reference's Predicate AST (src/predicate.rs:28-200: Comparison
with 6 ops, IsNull/IsNotNull, And/Or/Not with negation push-down) and its
three-valued min/max evaluation (src/row_group_filter.rs:54-205): a unit
is skipped only when the predicate is DEFINITELY false given the unit's
min/max/null_count; unknown stats keep the unit. NOT is handled by
pushing the negation down De Morgan-style (Not(a AND b) -> Not(a) OR
Not(b), Not(Comparison) -> flipped op), exactly as the reference does,
because "might match" is not closed under complement.

This is the chunk table's only pruning evaluator, applied at two
granularities with one comparison table (_DEFINITELY_FALSE): whole chunks
through a Spark expression over the chunk-stats pivot (might_match), and
row groups inside a surviving chunk over its row index (rg_keep).

Typed comparison: stats are persisted as strings; a probe is compared only
against the codecs whose stats hold its type (_stat_codecs), after parsing
the stat back to that type (row_group_filter.rs:207-368 typed eval analog).
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources import chunk_table as ct
from .decode import decode_table_arrow

MAX_STAT_LEN = 64  # string min/max truncation length used by the encoder

_NEG_OP = {"=": "!=", "!=": "=", "<": ">=", "<=": ">", ">": "<=", ">=": "<"}

_INT_CODECS = ("rle_v2", "rle_v1", "byte_rle", "date", "timestamp_split")

# `column op v` is DEFINITELY false for a unit whose values lie in
# [mn, mx]. Evaluated over Spark Columns for chunks (NULL = unknown) and
# over Python values for row groups (pd.NA = unknown): both follow Kleene
# logic, so an unknown bound can never prove a unit empty.
_DEFINITELY_FALSE = {
    "=": lambda mn, mx, v: (mx < v) | (mn > v),
    "!=": lambda mn, mx, v: (mn == v) & (mx == v),  # every value equals v
    "<": lambda mn, mx, v: mn >= v,
    "<=": lambda mn, mx, v: mn > v,
    ">": lambda mn, mx, v: mx <= v,
    ">=": lambda mn, mx, v: mx < v,
}


def _stat_codecs(value) -> tuple[str, ...]:
    """Codecs whose min/max stats a probe of this type may be compared
    against. Stats are str(int) / repr(float) / truncated text, and decimal
    stats are unscaled mantissas: a Decimal or datetime probe, or a probe
    of the wrong kind ("10" against ints orders "2" > "10"), would compare
    against the wrong representation and misprune, so it gets no codec and
    never prunes."""
    if isinstance(value, bool):
        return ("boolean_rle",)
    if isinstance(value, (int, float)):
        return _INT_CODECS + ("float_plain",)
    if isinstance(value, str):
        return ("direct", "dict", "fsst")
    return ()


def _typed_stat(stat_col: str, bound):
    """(comparable stat Column, literal) with TYPED comparison semantics:
    numeric bounds try_cast the persisted stat string back to bigint/double
    ("1004" < "500" as strings); an uncastable stat yields NULL, which the
    three-valued logic keeps."""
    c = F.col(stat_col)
    if isinstance(bound, bool):
        return c.try_cast("boolean"), F.lit(bound)
    if isinstance(bound, int):
        return c.try_cast("bigint"), F.lit(int(bound))
    if isinstance(bound, float):
        return c.try_cast("double"), F.lit(float(bound))
    return c, F.lit(str(bound))


def _rg_keep_groups(rg: dict, op: str, value) -> list[int]:
    """Row groups of one indexed column whose [min, max] might satisfy
    ``column op value``. Group stats are strings of the codec's monotone
    integer/float/string encoding, parsed back by the chunk codec."""
    n_groups = len(rg["n"])
    if rg["codec"] not in _stat_codecs(value):
        return list(range(n_groups))
    parse = int if rg["codec"] in _INT_CODECS else float if rg["codec"] == "float_plain" else str

    def typed(stat):
        try:
            return pd.NA if stat is None else parse(stat)
        except ValueError:
            return pd.NA  # unparsable stat: unknown -> keep

    definitely_false = _DEFINITELY_FALSE[op]
    keep = []
    for g in range(n_groups):
        mn, mx = typed(rg["min"][g]), typed(rg["max"][g])
        # a string max at the truncation limit is a PREFIX of the true max
        # (a lower bound), unusable as an upper bound; a min prefix is sound
        if isinstance(mx, str) and len(mx) >= MAX_STAT_LEN:
            mx = pd.NA
        if definitely_false(mn, mx, value) is not True:
            keep.append(g)
    return keep


class Predicate:
    def columns(self) -> set[str]:
        raise NotImplementedError

    def negate(self) -> "Predicate":
        raise NotImplementedError

    def rg_keep(self, rg_by_col: dict, n_groups: int) -> set[int]:
        """Row groups (within one chunk) this predicate MIGHT match, given
        each indexed column's per-group stats. Composition mirrors the
        reference's RowSelection algebra (src/row_selection.rs:32-260
        from_filters/and_then): And intersects, Or unions, Not pushes the
        negation down. Columns without an index keep every group."""
        return set(range(n_groups))

    def might_match(self) -> Column:
        """Boolean Column over the per-chunk stats pivot (True = keep)."""
        raise NotImplementedError

    def to_spark(self) -> Column:
        """The exact predicate over decoded rows (the residual filter)."""
        raise NotImplementedError


@dataclass(frozen=True)
class Comparison(Predicate):
    col: str
    op: str  # = != < <= > >=
    value: object

    def columns(self) -> set[str]:
        return {self.col}

    def negate(self) -> Predicate:
        return Comparison(self.col, _NEG_OP[self.op], self.value)

    def might_match(self) -> Column:
        codecs = _stat_codecs(self.value)
        if not codecs:
            return F.lit(True)
        min_stat, lit = _typed_stat(f"min__{self.col}", self.value)
        max_stat, _ = _typed_stat(f"max__{self.col}", self.value)
        if isinstance(self.value, str):  # truncated max: no upper bound
            max_stat = F.when(
                F.length(F.col(f"max__{self.col}")) < MAX_STAT_LEN, max_stat
            )
        comparable = F.col(f"codec__{self.col}").isin(*codecs)
        definitely_false = _DEFINITELY_FALSE[self.op](min_stat, max_stat, lit)
        return ~(comparable & definitely_false).eqNullSafe(F.lit(True))

    def to_spark(self) -> Column:
        c, v = F.col(self.col), F.lit(self.value)
        return {
            "=": c == v, "!=": c != v, "<": c < v,
            "<=": c <= v, ">": c > v, ">=": c >= v,
        }[self.op]

    def rg_keep(self, rg_by_col: dict, n_groups: int) -> set[int]:
        rg = rg_by_col.get(self.col)
        if rg is None or len(rg["n"]) != n_groups:
            return set(range(n_groups))
        return set(_rg_keep_groups(rg, self.op, self.value))


@dataclass(frozen=True)
class IsNull(Predicate):
    col: str

    def columns(self) -> set[str]:
        return {self.col}

    def negate(self) -> Predicate:
        return IsNotNull(self.col)

    def might_match(self) -> Column:
        nulls = F.col(f"nulls__{self.col}")
        return ~(nulls == 0).eqNullSafe(F.lit(True))

    def to_spark(self) -> Column:
        return F.col(self.col).isNull()

    def rg_keep(self, rg_by_col: dict, n_groups: int) -> set[int]:
        rg = rg_by_col.get(self.col)
        if rg is None or len(rg["n"]) != n_groups:
            return set(range(n_groups))
        return {g for g in range(n_groups) if int(rg["nulls"][g]) > 0}


@dataclass(frozen=True)
class IsNotNull(Predicate):
    col: str

    def columns(self) -> set[str]:
        return {self.col}

    def negate(self) -> Predicate:
        return IsNull(self.col)

    def might_match(self) -> Column:
        nulls, rows = F.col(f"nulls__{self.col}"), F.col(f"rows__{self.col}")
        return ~(nulls == rows).eqNullSafe(F.lit(True))

    def to_spark(self) -> Column:
        return F.col(self.col).isNotNull()

    def rg_keep(self, rg_by_col: dict, n_groups: int) -> set[int]:
        rg = rg_by_col.get(self.col)
        if rg is None or len(rg["n"]) != n_groups:
            return set(range(n_groups))
        return {g for g in range(n_groups) if int(rg["nulls"][g]) < int(rg["n"][g])}


@dataclass(frozen=True)
class And(Predicate):
    preds: tuple

    def __init__(self, *preds: Predicate):
        object.__setattr__(self, "preds", tuple(preds))

    def columns(self) -> set[str]:
        return set().union(*(p.columns() for p in self.preds))

    def negate(self) -> Predicate:
        return Or(*(p.negate() for p in self.preds))

    def might_match(self) -> Column:
        out = F.lit(True)
        for p in self.preds:
            out = out & p.might_match()
        return out

    def to_spark(self) -> Column:
        out = F.lit(True)
        for p in self.preds:
            out = out & p.to_spark()
        return out

    def rg_keep(self, rg_by_col: dict, n_groups: int) -> set[int]:
        out = set(range(n_groups))
        for p in self.preds:
            out &= p.rg_keep(rg_by_col, n_groups)
        return out


@dataclass(frozen=True)
class Or(Predicate):
    preds: tuple

    def __init__(self, *preds: Predicate):
        object.__setattr__(self, "preds", tuple(preds))

    def columns(self) -> set[str]:
        return set().union(*(p.columns() for p in self.preds))

    def negate(self) -> Predicate:
        return And(*(p.negate() for p in self.preds))

    def might_match(self) -> Column:
        out = F.lit(False)
        for p in self.preds:
            out = out | p.might_match()
        return out

    def to_spark(self) -> Column:
        out = F.lit(False)
        for p in self.preds:
            out = out | p.to_spark()
        return out

    def rg_keep(self, rg_by_col: dict, n_groups: int) -> set[int]:
        out: set[int] = set()
        for p in self.preds:
            out |= p.rg_keep(rg_by_col, n_groups)
        return out


@dataclass(frozen=True)
class Not(Predicate):
    pred: Predicate

    def columns(self) -> set[str]:
        return self.pred.columns()

    def negate(self) -> Predicate:
        return self.pred

    def might_match(self) -> Column:
        # push-down: evaluate the negated predicate (reference
        # row_group_filter.rs handles NOT via Predicate::negate())
        return self.pred.negate().might_match()

    def to_spark(self) -> Column:
        return ~self.pred.to_spark()

    def rg_keep(self, rg_by_col: dict, n_groups: int) -> set[int]:
        return self.pred.negate().rg_keep(rg_by_col, n_groups)


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
    return pivot.where(pred.might_match()).select("part_id", "chunk_ord")


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
    keep = sorted(pred.rg_keep(rg_by_col, n_groups))
    return None if len(keep) >= n_groups else keep


def _decode_pruned(
    chunks: DataFrame, schema: T.StructType, pred: Predicate, keys: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """-> (rows satisfying pred exactly, keys): decode only the chunks in
    ``keys``, each skipping the row groups pred rules out, then apply pred
    as the residual filter."""
    pruned = chunks.join(F.broadcast(keys), ["part_id", "chunk_ord"], "left_semi")
    return decode_table_arrow(pruned, schema, pred=pred).where(pred.to_spark()), keys


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
