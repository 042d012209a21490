"""The engine's only pruning evaluator, at partition, file, stripe, chunk
and row-group granularity.

Mirrors the reference's Predicate AST (src/predicate.rs:28-200: Comparison
with 6 ops, IsNull/IsNotNull, And/Or/Not with negation push-down) and its
three-valued min/max evaluation (src/row_group_filter.rs:54-205): a unit
is skipped only when the predicate is DEFINITELY false given the unit's
summary; unknown stats keep the unit. NOT is handled by pushing the
negation down De Morgan-style (Not(a AND b) -> Not(a) OR Not(b),
Not(Comparison) -> flipped op), exactly as the reference does, because
"might match" is not closed under complement.

Elimination is one range test over per-unit summaries, applied at each
level (PAPERS.md, "Global Range Encoding for Efficient Partition
Elimination"): ``Predicate.keep(summary_by_col, n_units)`` evaluates one
comparison table (_DEFINITELY_FALSE) over a ``Summary`` per unit. Each
granularity only supplies an adapter that builds the summaries:

- hive partition values (sources.datasource): min = max = value, NULL is
  all-null;
- ORC stripe statistics, and ORC row-index entries plus blooms
  (sources.orc_file);
- chunk-table row-group stats, parsed by codec (operators.pruned_read).

Whole chunks are judged by the same table inside Spark, over the
chunk-stats pivot (pruned_read.might_match). One rule (comparable) says
which probe may be compared with which stat type, and one
(bloom_may_contain) which probe may query which bloom.

Spark semantics: NULL is unknown and NaN sorts above every number. A NaN
bound compares False with everything in Python, so it never proves a unit
empty. This module imports no pyspark: the ORC reader uses it too.
"""

from __future__ import annotations

import datetime
import decimal
import operator
from dataclasses import dataclass
from typing import NamedTuple

_NEG_OP = {"=": "!=", "!=": "=", "<": ">=", "<=": ">", ">": "<=", ">=": "<"}

#: the exact comparison of each op (residual filters)
OPS = {"=": operator.eq, "!=": operator.ne, "<": operator.lt,
       "<=": operator.le, ">": operator.gt, ">=": operator.ge}


class _Unknown:
    """Kleene's unknown, for a bound keep() cannot use (Spark's NULL): a
    comparison with it is unknown, unknown | True is True and
    unknown & False is False."""

    def _compare(self, other):
        return self

    __lt__ = __le__ = __gt__ = __ge__ = __eq__ = _compare
    __hash__ = object.__hash__

    def __or__(self, other):
        return True if other is True else self

    def __and__(self, other):
        return False if other is False else self

    __ror__, __rand__ = __or__, __and__


_UNKNOWN = _Unknown()

# `column op v` is DEFINITELY false for a unit whose values lie in
# [mn, mx]. Evaluated over Python values for keep() (_UNKNOWN) and over
# Spark Columns for chunks (NULL = unknown): both follow Kleene logic, so
# an unknown bound can never prove a unit empty.
_DEFINITELY_FALSE = {
    "=": lambda mn, mx, v: (mx < v) | (mn > v),
    "!=": lambda mn, mx, v: (mn == v) & (mx == v),  # every value equals v
    "<": lambda mn, mx, v: mn >= v,
    "<=": lambda mn, mx, v: mn > v,
    ">": lambda mn, mx, v: mx <= v,
    ">=": lambda mn, mx, v: mx < v,
}


def comparable(stat_type: type, value) -> bool:
    """Whether a probe may be compared with stats of this Python type:
    numbers with numbers, Decimal stats with Decimal or int probes, bools,
    strings, dates and naive timestamps each with their own kind. Anything
    else keeps the unit: a probe of the wrong kind would compare against
    the wrong representation ("10" against ints orders "2" > "10"), and an
    aware datetime against naive stats raises."""
    if stat_type is bool or isinstance(value, bool):
        return stat_type is bool and isinstance(value, bool)
    if stat_type in (int, float):
        return isinstance(value, (int, float))
    if stat_type is decimal.Decimal:
        return isinstance(value, (decimal.Decimal, int))
    if stat_type is datetime.datetime:
        return isinstance(value, datetime.datetime) and value.tzinfo is None
    if stat_type is datetime.date:
        return isinstance(value, datetime.date) and not isinstance(value, datetime.datetime)
    return stat_type is str and isinstance(value, str)


def bloom_may_contain(bloom, key_type: type | None, value) -> bool:
    """Bloom probe for both containers. An integer column's bloom
    (``key_type`` int) holds i64 hashes, a string/binary column's
    (``key_type`` str) utf8/raw-byte hashes; a probe of another type would
    hash differently and false-negative, so it keeps the unit."""
    if key_type is int and isinstance(value, int) and not isinstance(value, bool):
        return bloom.might_contain_i64(value)
    if key_type is str and isinstance(value, (str, bytes)):
        return bloom.might_contain_bytes(value.encode() if isinstance(value, str) else value)
    return True


class Summary(NamedTuple):
    """What one unit's statistics say about a column, as typed Python
    values; None is unknown. ``n_values`` counts the non-null values;
    ``bloom`` is a (BloomFilter, key type) pair for bloom_may_contain."""

    min: object = None
    max: object = None
    n_values: int | None = None
    has_null: bool | None = None
    bloom: tuple | None = None


class Predicate:
    def columns(self) -> set[str]:
        raise NotImplementedError

    def negate(self) -> "Predicate":
        raise NotImplementedError

    def keep(self, summary_by_col: dict, n_units: int) -> set[int]:
        """Units (partitions, stripes, row groups) this predicate MIGHT
        match, given ``summary_by_col[column][unit]`` summaries. A unit
        without a summary is kept. Composition mirrors the reference's
        RowSelection algebra (src/row_selection.rs:32-260): And
        intersects, Or unions, Not pushes the negation down."""
        raise NotImplementedError


@dataclass(frozen=True)
class _Leaf(Predicate):
    col: str

    def columns(self) -> set[str]:
        return {self.col}

    def keep(self, summary_by_col: dict, n_units: int) -> set[int]:
        units = summary_by_col.get(self.col, ())
        return {u for u in range(n_units)
                if u >= len(units) or units[u] is None or self.may_match(units[u])}

    def may_match(self, s: Summary) -> bool:
        raise NotImplementedError


@dataclass(frozen=True)
class Comparison(_Leaf):
    op: str  # = != < <= > >=
    value: object

    def negate(self) -> Predicate:
        return Comparison(self.col, _NEG_OP[self.op], self.value)

    def may_match(self, s: Summary) -> bool:
        if s.n_values == 0:
            return False  # every value is NULL: the comparison is never true
        v = self.value
        mn, mx = (b if b is not None and comparable(type(b), v) else _UNKNOWN
                  for b in (s.min, s.max))
        if _DEFINITELY_FALSE[self.op](mn, mx, v) is True:
            return False
        return self.op != "=" or s.bloom is None or bloom_may_contain(*s.bloom, v)


@dataclass(frozen=True)
class IsNull(_Leaf):
    def negate(self) -> Predicate:
        return IsNotNull(self.col)

    def may_match(self, s: Summary) -> bool:
        return s.has_null is not False


@dataclass(frozen=True)
class IsNotNull(_Leaf):
    def negate(self) -> Predicate:
        return IsNull(self.col)

    def may_match(self, s: Summary) -> bool:
        return s.n_values != 0


@dataclass(frozen=True)
class And(Predicate):
    preds: tuple

    def __init__(self, *preds: Predicate):
        object.__setattr__(self, "preds", tuple(preds))

    def columns(self) -> set[str]:
        return set().union(*(p.columns() for p in self.preds))

    def negate(self) -> Predicate:
        return Or(*(p.negate() for p in self.preds))

    def keep(self, summary_by_col: dict, n_units: int) -> set[int]:
        out = set(range(n_units))
        for p in self.preds:
            out &= p.keep(summary_by_col, n_units)
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

    def keep(self, summary_by_col: dict, n_units: int) -> set[int]:
        out: set[int] = set()
        for p in self.preds:
            out |= p.keep(summary_by_col, n_units)
        return out


@dataclass(frozen=True)
class Not(Predicate):
    pred: Predicate

    def columns(self) -> set[str]:
        return self.pred.columns()

    def negate(self) -> Predicate:
        return self.pred

    def keep(self, summary_by_col: dict, n_units: int) -> set[int]:
        # push-down: evaluate the negated predicate (reference
        # row_group_filter.rs handles NOT via Predicate::negate())
        return self.pred.negate().keep(summary_by_col, n_units)
