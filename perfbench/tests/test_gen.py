"""Seeded generator tests: the same seed gives the same inputs and
operations, the online mix holds its stated shares, and every property
also holds on a seed held out from tuning.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from perfbench import gen

DEV_SEED = 1  # the seed the benchmark was tuned on
HELD_OUT_SEED = 101  # never used while tuning; claims are checked on it too


def _base_keys(tables_dir: str) -> list[tuple[int, int, int]]:
    """The (etype, src, dst) keys of the tpch_graph view, computed with
    the library's own offsets over the generated tables."""
    o = pq.read_table(f"{tables_dir}/orders.parquet").to_pydict()
    li = pq.read_table(f"{tables_dir}/lineitem.parquet").to_pydict()
    keys = {(0, c, gen.ORDER_OFFSET + k) for c, k in zip(o["o_custkey"], o["o_orderkey"])}
    keys |= {(1, gen.ORDER_OFFSET + k, gen.PART_OFFSET + p) for k, p in zip(li["l_orderkey"], li["l_partkey"])}
    keys |= {(2, gen.PART_OFFSET + p, gen.SUPP_OFFSET + s) for p, s in zip(li["l_partkey"], li["l_suppkey"])}
    return sorted(keys)


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    out = {}
    for seed in (DEV_SEED, HELD_OUT_SEED):
        d = str(tmp_path_factory.mktemp(f"tables{seed}"))
        gen.write_tpch_tables(d, seed)
        out[seed] = d
    return out


def _ops(seed: int, base: list, n: int) -> list[gen.Op]:
    mix = gen.OnlineMix(seed, base)
    return [mix.next() for _ in range(n)]


def test_offsets_match_the_library():
    from graphchidb_scala_spark.sources import tpch
    assert (gen.ORDER_OFFSET, gen.PART_OFFSET, gen.SUPP_OFFSET) == (
        tpch.ORDER_OFFSET, tpch.PART_OFFSET, tpch.SUPP_OFFSET)


def test_same_seed_same_tables(tmp_path, tables):
    gen.write_tpch_tables(str(tmp_path), DEV_SEED)
    for t in ("customer", "orders", "part", "supplier", "lineitem"):
        again = pq.read_table(tmp_path / f"{t}.parquet")
        assert again.equals(pq.read_table(f"{tables[DEV_SEED]}/{t}.parquet")), t
    li = {s: pq.read_table(f"{d}/lineitem.parquet") for s, d in tables.items()}
    assert not li[DEV_SEED].equals(li[HELD_OUT_SEED])


@pytest.mark.parametrize("seed", [DEV_SEED, HELD_OUT_SEED])
def test_same_seed_same_ops(seed, tables):
    base = _base_keys(tables[seed])
    n = 3 * len(gen.BLOCK)
    a, b = _ops(seed, base, n), _ops(seed, base, n)
    assert [(o.kind, o.args) for o in a] == [(o.kind, o.args) for o in b]
    other = _ops(seed + 1, base, n)
    assert [o.args for o in a] != [o.args for o in other]


@pytest.mark.parametrize("seed", [DEV_SEED, HELD_OUT_SEED])
def test_mix_shares_and_valid_targets(seed, tables):
    """80% reads in every block; find_edge and delete targets exist in the
    state they run against; the graph keeps its size; half the point-read
    keys come from the latest add batch, within sampling error."""
    base = _base_keys(tables[seed])
    live = set(base)
    mix = gen.OnlineMix(seed, base)
    blocks, recent_hits, point_reads, recent = 4, 0, 0, set()
    for _ in range(blocks):
        kinds = []
        for _ in range(len(gen.BLOCK)):
            op = mix.next()
            kinds.append(op.kind)
            if op.kind == "add_batch":
                keys = {r[:3] for r in op.args["rows"]}
                assert len(keys - live) == gen.NEW_EDGES
                live |= keys
                recent = keys
            elif op.kind == "delete_batch":
                keys = set(op.args["keys"])
                assert len(keys) == gen.DELETE_EDGES and keys <= live
                live -= keys
            elif op.kind == "find_edge":
                key = (op.args["etype"], op.args["src"], op.args["dst"])
                assert key in live
                point_reads += 1
                recent_hits += key in recent
        assert tuple(kinds) == gen.BLOCK
        assert sum(k in gen.READ_KINDS for k in kinds) / len(kinds) == 0.8
    assert len(live) == len(base)
    # every find_edge but the first block's reads after an add: expect ~half
    # of those to hit the batch (upserts of older keys make "recent" a superset)
    assert recent_hits >= 0.3 * (point_reads - 2)


@pytest.mark.parametrize("seed", [DEV_SEED, HELD_OUT_SEED])
def test_analytics_roots(seed):
    a, b = gen.analytics_roots(seed), gen.analytics_roots(seed)
    assert a == b and a != gen.analytics_roots(seed + 1)
    assert len(set(a["bfs"])) == gen.BFS_ROOTS and len(set(a["walks"])) == gen.WALK_STARTS
    assert max(a["bfs"]) <= gen.CUSTOMERS
