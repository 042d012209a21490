"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, so a run can be repeated
exactly. The engine never sees the seed, only the generated rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# TPC-H ratios per order at scale factor 0.1 (150 k orders, ~600 k lines):
# 20 k parts and 1 k suppliers.
PARTS_PER_ORDER = 2 / 15
SUPPLIERS_PER_ORDER = 1 / 150
_DAY_US = 86_400_000_000
_START_US = 694_224_000_000_000  # 1992-01-01T00:00:00 UTC
_ORDER_DAYS = 2_405  # order dates run to 1998-08-02, as in dbgen
_CURRENT_DAY = 1_263  # 1995-06-17: lines shipped later are still open


def lineitem(seed: int, n_orders: int) -> pa.Table:
    """A TPC-H-shaped lineitem table, sorted by ``l_orderkey`` as dbgen
    writes it: clustered order keys (1-7 lines per order, only 8 of every
    32 keys used, so in-range misses exist), random part and supplier
    keys, prices derived from the part key, and ship dates 1-121 days
    after a random order date."""
    rng = np.random.default_rng([seed, 1])
    lines = rng.integers(1, 8, n_orders)
    order_ix = np.arange(n_orders, dtype=np.int64)
    orderkeys = (order_ix // 8) * 32 + order_ix % 8 + 1
    n = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    n_parts = max(1, int(n_orders * PARTS_PER_ORDER))
    n_supps = max(1, int(n_orders * SUPPLIERS_PER_ORDER))
    partkey = rng.integers(1, n_parts + 1, n)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    retail = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1_000)) / 100
    ship_day = (np.repeat(rng.integers(0, _ORDER_DAYS - 151, n_orders), lines)
                + rng.integers(1, 122, n))
    shipped = ship_day <= _CURRENT_DAY
    returnflag = np.where(shipped, np.where(rng.random(n) < 0.5, "R", "A"), "N")
    return pa.table({
        "l_orderkey": np.repeat(orderkeys, lines),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(1, n_supps + 1, n),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * retail, 2),
        "l_discount": rng.integers(0, 11, n) / 100,
        "l_tax": rng.integers(0, 9, n) / 100,
        "l_returnflag": pa.array(returnflag, pa.string()),
        "l_linestatus": pa.array(np.where(shipped, "F", "O"), pa.string()),
        "l_shipdate": pa.array(_START_US + ship_day * _DAY_US,
                               pa.timestamp("us")),
    })


class ProbeMix:
    """Seeded point-lookup probes of a requested kind for a lineitem table.

    ``l_partkey`` hits are found through the bloom filters alone and decode
    about half of all row groups (each part key appears in ~30 of them);
    ``l_orderkey`` hits are pruned by min/max and the row index; misses
    are pruned by min/max.
    """

    def __init__(self, table: pa.Table, seed: int):
        self._rng = np.random.default_rng([seed, 3])
        self._orderkeys = table.column("l_orderkey").to_numpy()
        self._partkeys = table.column("l_partkey").to_numpy()
        self._max_key = int(self._orderkeys.max())

    def draw(self, kind: str) -> tuple[str, int]:
        """-> (column, value) of a probe of ``kind``."""
        rng = self._rng
        if kind == "orderkey_hit":
            return "l_orderkey", int(rng.choice(self._orderkeys))
        if kind == "partkey_hit":
            return "l_partkey", int(rng.choice(self._partkeys))
        if kind == "orderkey_miss":  # inside min/max, in a key gap
            block = int(rng.integers(0, self._max_key // 32))
            return "l_orderkey", block * 32 + 9 + int(rng.integers(0, 24))
        return "l_orderkey", self._max_key + 1 + int(rng.integers(0, 10**6))
