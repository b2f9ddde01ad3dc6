"""Seeded input generators. Pure NumPy/PyArrow: no Spark, so the tests can
check determinism and the operation mix without a JVM.

The graph is generated as the five TPC-H tables the library's
``sources.tpch.tpch_graph`` view reads (customer, orders, part, supplier,
lineitem), so the benchmark drives the real source layer and the DuckDB
oracle can reuse ``GRAPH_SQL_CTES`` unchanged. Sizes are fixed; the seed
only changes which keys, prices, dates and quantities are drawn. The graph
has about 83k edges, a sixteenth of the sf0.1 graph (1.34M edges): see
perfbench/README.md for why.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Mirrors graphchidb_scala_spark.sources.tpch (kept literal here so this
# module imports without the library; tests pin the two against each other).
ORDER_OFFSET = 1_000_000_000_000
PART_OFFSET = 2_000_000_000_000
SUPP_OFFSET = 3_000_000_000_000

_EPOCH = dt.date(1992, 1, 1)


CUSTOMERS = 1_500
ORDERS = 15_000
PARTS = 2_000
SUPPLIERS = 100
MAX_LINES = 7  # lineitems per order: uniform 1..MAX_LINES


def write_tpch_tables(out_dir: str, seed: int) -> dict:
    """Write the five TPC-H parquet tables for ``seed`` into ``out_dir``.
    Returns row counts per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    c, o, p, s = CUSTOMERS, ORDERS, PARTS, SUPPLIERS

    custkey = np.arange(1, c + 1, dtype=np.int64)
    # TPC-H leaves a third of customers without orders
    active = rng.permutation(custkey)[: max(1, (2 * c) // 3)]
    orderkey = np.arange(1, o + 1, dtype=np.int64)
    o_cust = rng.choice(active, size=o)
    o_date = rng.integers(0, 2400, size=o)
    n_lines = rng.integers(1, MAX_LINES + 1, size=o)
    l_order = np.repeat(orderkey, n_lines)
    l_part = rng.integers(1, p + 1, size=l_order.size)
    # each part has four suppliers, as in TPC-H partsupp
    l_supp = (l_part + rng.integers(0, 4, size=l_order.size) * (s // 4)) % s + 1
    l_qty = rng.integers(1, 51, size=l_order.size).astype(np.float64)
    l_ship = np.repeat(o_date, n_lines) + rng.integers(1, 122, size=l_order.size)
    o_price = np.round(rng.uniform(900.0, 500_000.0, size=o), 2)

    def dates(days: np.ndarray) -> pa.Array:
        return pa.array([_EPOCH + dt.timedelta(days=int(d)) for d in days], pa.date32())

    tables = {
        "customer": pa.table({
            "c_custkey": custkey,
            "c_name": [f"Customer#{k:09d}" for k in custkey],
        }),
        "orders": pa.table({
            "o_orderkey": orderkey,
            "o_custkey": o_cust,
            "o_totalprice": o_price,
            "o_orderdate": dates(o_date),
        }),
        "part": pa.table({
            "p_partkey": np.arange(1, p + 1, dtype=np.int64),
            "p_name": [f"part {k}" for k in range(1, p + 1)],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(1, s + 1, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(1, s + 1)],
        }),
        "lineitem": pa.table({
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": l_supp,
            "l_quantity": l_qty,
            "l_shipdate": dates(l_ship),
        }),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ------------------------------------------------------------- online mix

# One block of ten operations in a fixed order: 80% reads, 20% writes, so
# every seed runs the same mix and every block meets the store in the same
# state. ``maybe_compact`` merges once the appends pass a quarter of the
# base's bytes. An add batch of ADD_EDGES rows writes about 1.4 times that
# quarter (the base is ~1.1 MB, one added row ~17 B), a delete batch of
# DELETE_EDGES tombstones about a tenth of it, so every add compacts and no
# delete does: one compaction per block, for every seed. The block opens
# with the delete, so the four reads before the add run against its unmerged
# tombstones and the four after it against a freshly merged base, in the
# untimed warm-up block as in every measured one: the warm-up runs every read
# path the measured blocks run. NEW_EDGES of each add are new edges and the
# delete removes as many, so the graph keeps its size.
BLOCK = ("delete_batch", "query_out", "query_in", "find_edge", "fof", "add_batch",
         "query_out", "query_in", "find_edge", "shortest_path")
WRITE_KINDS = ("add_batch", "delete_batch")
READ_KINDS = tuple(k for k in BLOCK if k not in WRITE_KINDS)
ADD_EDGES = 24_000
NEW_EDGES = 2_000
DELETE_EDGES = NEW_EDGES


@dataclass
class Op:
    kind: str
    args: dict = field(default_factory=dict)

    @property
    def is_read(self) -> bool:
        return self.kind in READ_KINDS


class OnlineMix:
    """Endless seeded stream of online operations against the generated
    graph. Reads draw half their keys from the latest add batch (the LSM
    read path over recently written keys) and half from the whole graph.

    The stream tracks which (etype, src, dst) keys exist after its own
    writes, so find_edge keys and delete targets always exist in the state
    the operation runs against."""

    def __init__(self, seed: int, base_edges: list[tuple[int, int, int]]):
        self.rng = np.random.default_rng([seed, 2])
        self.live = {k: None for k in base_edges}
        self._keys = list(base_edges)  # append-only pool, may hold dead keys
        self._recent: list[tuple[int, int, int]] = []
        self._next_order = 0
        self._block: list[str] = []

    def _pick_key(self) -> tuple[int, int, int]:
        """A live key: half from the recent-writes pool, half from all."""
        pool = self._recent if self._recent and self.rng.random() < 0.5 else self._keys
        while True:
            k = pool[int(self.rng.integers(len(pool)))]
            if k in self.live:
                return k
            pool = self._keys

    def _pick_customer(self) -> int:
        """A customer with at least one live order, so every two-hop and
        path query does the same kind of work (a third of the generated
        customers have no orders and would return at the first hop)."""
        while True:
            etype, src, _ = self._pick_key()
            if etype == 0:
                return src

    def _new_order_edges(self, n: int) -> list[tuple]:
        """Edges of brand-new orders: customer -> order and order -> part."""
        out = []
        while len(out) < n:
            self._next_order += 1
            order = ORDER_OFFSET + 10_000_000 + self._next_order
            cust = int(self.rng.integers(1, CUSTOMERS + 1))
            out.append((0, cust, order, float(self.rng.integers(1, 10_000)), _days(self.rng)))
            for part in self.rng.choice(PARTS, size=3, replace=False):
                out.append((1, order, PART_OFFSET + int(part) + 1,
                            float(self.rng.integers(1, 51)), _days(self.rng)))
        return out[:n]

    def next(self) -> Op:
        if not self._block:
            self._block = list(BLOCK)
        kind = self._block.pop(0)
        if kind == "add_batch":
            upserts = [(e, s, d, float(self.rng.integers(1, 10_000)), _days(self.rng))
                       for (e, s, d) in (self._pick_key() for _ in range(ADD_EDGES - NEW_EDGES))]
            # newest row per key wins inside a batch, as in the store
            rows = list({r[:3]: r for r in upserts + self._new_order_edges(NEW_EDGES)}.values())
            for r in rows:
                if r[:3] not in self.live:
                    self._keys.append(r[:3])
                self.live[r[:3]] = None
            self._recent = [r[:3] for r in rows]
            return Op(kind, {"rows": rows})
        if kind == "delete_batch":
            keys = set()
            while len(keys) < DELETE_EDGES:
                keys.add(self._pick_key())
            keys = sorted(keys)
            for k in keys:
                del self.live[k]
            return Op(kind, {"keys": keys})
        etype, src, dst = self._pick_key()
        if kind == "query_out":
            return Op(kind, {"vertex": src, "etype": etype})
        if kind == "query_in":
            return Op(kind, {"vertex": dst, "etype": etype})
        if kind == "find_edge":
            return Op(kind, {"etype": etype, "src": src, "dst": dst})
        if kind == "fof":
            return Op(kind, {"vertex": self._pick_customer(), "etype1": 0, "etype2": 1})
        # depth-bounded customer -> supplier distance (3 hops when reachable)
        return Op(kind, {
            "source": self._pick_customer(),
            "target": SUPP_OFFSET + int(self.rng.integers(1, SUPPLIERS + 1)),
            "max_depth": 3,
        })


def _days(rng: np.random.Generator) -> dt.date:
    return _EPOCH + dt.timedelta(days=int(rng.integers(0, 2500)))


# ------------------------------------------------------------ batch inputs

BFS_ROOTS = 1_200
WALK_STARTS = 10_000


def analytics_roots(seed: int) -> dict:
    """Seeded roots for the batch graph calls: BFS_ROOTS distinct customers
    as BFS seeds, WALK_STARTS distinct customers or orders as walk starts."""
    rng = np.random.default_rng([seed, 3])
    cust = np.arange(1, CUSTOMERS + 1, dtype=np.int64)
    starts = np.concatenate([cust, ORDER_OFFSET + np.arange(1, ORDERS + 1, dtype=np.int64)])
    bfs = np.sort(rng.choice(cust, size=BFS_ROOTS, replace=False))
    walks = np.sort(rng.choice(starts, size=WALK_STARTS, replace=False))
    return {"bfs": bfs.tolist(), "walks": walks.tolist()}
