"""Composite queries + frontier layer on the social fixture, cross-checked
against a driver-side networkx-free python oracle (plain dict/set math on the
collected edge list — small fixture, exact answers)."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from graphchidb_scala_spark.db import GraphDB
from graphchidb_scala_spark.operators import graph_queries as gq
from graphchidb_scala_spark.operators.frontier import Frontier


@pytest.fixture(scope="module")
def adj(social_db):
    rows = social_db.edges.select("src", "dst").collect()
    out = defaultdict(set)
    for r in rows:
        out[r["src"]].add(r["dst"])
    return out


def bfs_py(adj, source, max_depth):
    levels = {source: 0}
    frontier = {source}
    for d in range(1, max_depth + 1):
        nxt = set()
        for v in frontier:
            nxt |= adj[v]
        nxt -= levels.keys()
        for v in nxt:
            levels[v] = d
        frontier = nxt
        if not frontier:
            break
    return levels


def test_bfs_levels_matches_python(social_db, adj):
    got = {r["id"]: r["level"] for r in gq.bfs_levels(social_db, 1, 4).collect()}
    assert got == bfs_py(adj, 1, 4)


def test_multi_bfs_matches_python(social_db, adj):
    got = defaultdict(dict)
    for r in gq.multi_bfs_levels(social_db, [1, 2, 3], 3).collect():
        got[r["seed"]][r["id"]] = r["level"]
    for s in (1, 2, 3):
        assert got[s] == bfs_py(adj, s, 3)


def _first_at(levels, depth):
    return min(v for v, l in levels.items() if l == depth)


def test_shortest_path_length(spark, social_db, adj):
    levels = bfs_py(adj, 1, 5)
    v1, v2, v3 = (_first_at(levels, d) for d in (1, 2, 3))
    # a sink: a new vertex whose one in-edge comes from a level-1 vertex
    sink_db = GraphDB(social_db.edges.unionByName(
        spark.createDataFrame([(0, v1, 1000, 0, 0.0)], social_db.edges.schema)
    ))
    sink_adj = defaultdict(set, {v: set(ns) for v, ns in adj.items()})
    sink_adj[v1].add(1000)
    cases = [
        (social_db, adj, v1, 5),  # dist 1: the in-neighbor early exit
        (social_db, adj, v2, 2),  # dist == max_depth
        (social_db, adj, v3, 2),  # one hop past max_depth: NULL
        (social_db, adj, 1, 5),  # source == target: 0
        (social_db, adj, v1, 0),  # max_depth=0: NULL
        (sink_db, sink_adj, 1000, 5),
    ]
    for db, a, target, depth in cases:
        got = gq.shortest_path_length(db, 1, target, max_depth=depth).collect()[0]["dist"]
        assert got == bfs_py(a, 1, depth).get(target), (target, depth)


def test_bfs_levels_stop_at(social_db, adj):
    # every level up to level(v) is complete, nothing lies beyond it
    levels = bfs_py(adj, 1, 5)
    v = _first_at(levels, 2)
    got = {r["id"]: r["level"] for r in gq.bfs_levels(social_db, 1, 5, stop_at=v).collect()}
    assert got == {u: l for u, l in levels.items() if l <= 2}


def test_sssp_parents_and_route(social_db, adj):
    levels = bfs_py(adj, 1, 4)
    got = {r["id"]: (r["level"], r["parent"]) for r in gq.sssp_parents(social_db, 1, 4).collect()}
    assert {v: l for v, (l, _) in got.items()} == levels
    for v, (l, p) in got.items():
        if l == 0:
            assert p is None
        else:
            # min predecessor at the previous level
            preds = [u for u, ns in adj.items() if v in ns and levels.get(u) == l - 1]
            assert p == min(preds)
    # route: walk any level-3 vertex back to the source
    v3 = min((v for v, l in levels.items() if l == 3), default=None)
    if v3 is not None:
        path = gq.shortest_path_route(social_db, 1, v3, max_depth=4).collect()
        ids = [r["id"] for r in sorted(path, key=lambda r: r["step"])]
        assert ids[0] == 1 and ids[-1] == v3 and len(ids) == 4
        for a, b in zip(ids, ids[1:]):
            assert b in adj[a]


def test_shortest_path_route_unreachable(social_db):
    assert gq.shortest_path_route(social_db, 1, 10**9, max_depth=3).count() == 0


def test_shortest_path_route_driver_bound(social_db, adj, monkeypatch):
    """The walk-back must never collect the BFS tree: every driver-side fetch
    during route reconstruction is a single-row point lookup (plus the 1-row
    per-hop frontier stats), so the largest collect is 1 row — on a social
    graph the 4-hop tree is ~the whole graph and must not transit the driver."""
    levels = bfs_py(adj, 1, 4)
    v3 = min((v for v, l in levels.items() if l == 3), default=None)
    if v3 is None:
        pytest.skip("fixture has no level-3 vertex")
    assert sum(1 for l in levels.values() if l <= 3) > 50  # tree is big enough to matter

    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    sizes: list[int] = []
    orig_collect = ClassicDF.collect

    def counting_collect(self):
        rows = orig_collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(ClassicDF, "collect", counting_collect)
    path = gq.shortest_path_route(social_db, 1, v3, max_depth=4)
    walkback_sizes = list(sizes)
    ids = [r["id"] for r in sorted(path.collect(), key=lambda r: r["step"])]
    assert ids[0] == 1 and ids[-1] == v3 and len(ids) == 4
    assert walkback_sizes, "route should have issued point lookups"
    assert max(walkback_sizes) <= 1
    assert len(walkback_sizes) <= 2 * (4 + 1) + 2


def test_friends_of_friends(social_db, adj):
    expected = set()
    for u in adj[1]:
        expected |= adj[u]
    got = {r["id"] for r in gq.friends_of_friends(social_db, 1, etype=0).collect()}
    assert got == expected


def test_fof_counts_top_k(social_db, adj):
    counts = defaultdict(int)
    for u in adj[1]:
        for w in adj[u]:
            counts[w] += 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r["id"], r["cnt"]) for r in gq.friends_of_friends_counts(social_db, 1, 0, 0, k=10).collect()]
    assert got == top


def test_fof_excl_semantics(social_db):
    und = defaultdict(set)
    for r in social_db.edges.select("src", "dst").collect():
        und[r["src"]].add(r["dst"])
        und[r["dst"]].add(r["src"])
    counts = defaultdict(int)
    for u in und[1]:
        for w in und[u]:
            if w != 1 and w not in und[1]:
                counts[w] += 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r["id"], r["cnt"]) for r in gq.friends_of_friends_excl(social_db, 1, k=10).collect()]
    assert got == top


def test_frontier_traverse_and_algebra(social_db, adj):
    f1 = Frontier.of(social_db, [1]).traverse_out(0).materialize()
    assert {r["id"] for r in f1.ids.collect()} == adj[1]
    f2 = f1.traverse_out(0).materialize()
    exp2 = set()
    for u in adj[1]:
        exp2 |= adj[u]
    assert {r["id"] for r in f2.ids.collect()} == exp2

    inter = f1.intersect(f2)
    assert {r["id"] for r in inter.ids.collect()} == (adj[1] & exp2)
    diff = f2.remove(f1)
    assert {r["id"] for r in diff.ids.collect()} == (exp2 - adj[1])
    assert f1.union(f2).count() == len(adj[1] | exp2)
    assert f1.has_any_vertex(f2) == bool(adj[1] & exp2)


def test_frontier_limit_deterministic(social_db):
    f = Frontier.of(social_db, [1]).traverse_out(0)
    a = sorted(r["id"] for r in f.limit(5, randomize=True, seed=9).ids.collect())
    b = sorted(r["id"] for r in f.limit(5, randomize=True, seed=9).ids.collect())
    assert a == b and len(a) == 5


def test_traverse_out_until_early_exit(social_db, adj):
    levels = bfs_py(adj, 1, 5)
    v3 = min((v for v, l in levels.items() if l == 3), default=None)
    if v3 is not None:
        hop = Frontier.of(social_db, [1]).traverse_out_until(v3, etype=0, max_hops=5)
        assert hop == 3


def test_traverse_out_until_cases(social_db, adj):
    a, b = 1, 2
    la, lb = bfs_py(adj, a, 5), bfs_py(adj, b, 5)
    # from a two-vertex frontier: a target one hop from b, farther from a
    t = min(v for v, l in lb.items() if l == 1 and la.get(v, 99) > 1)
    assert Frontier.of(social_db, [a, b]).traverse_out_until(t, max_hops=3) == 1
    # unreachable target, and a target already in the start frontier
    assert Frontier.of(social_db, [a]).traverse_out_until(10_000, max_hops=1) is None
    assert Frontier.of(social_db, [a, b]).traverse_out_until(b, max_hops=1) is None


def test_ego_net_and_triangles(social_db):
    und = defaultdict(set)
    for r in social_db.edges.select("src", "dst").collect():
        und[r["src"]].add(r["dst"])
        und[r["dst"]].add(r["src"])
    nbrs = und[1]
    expected = set()
    for u in nbrs:
        for w in und[u] & nbrs:
            if u != w:
                expected.add((min(u, w), max(u, w)))
    got = {(r["x"], r["y"]) for r in gq.ego_net(social_db, 1).collect()}
    assert got == expected

    # triangle oracle
    canon = set()
    for a, ns in und.items():
        for b in ns:
            canon.add((min(a, b), max(a, b)))
    tri = 0
    for (x, y) in canon:
        for z in und[y]:
            if z > y and (x, z) in canon and (y, z) in canon:
                tri += 1
    got_tri = gq.triangle_count(social_db).collect()[0]["triangles"]
    assert got_tri == tri


def test_motif_census_deterministic(social_db):
    a = gq.motif_census_3(social_db, n_samples=100, seed=4).collect()
    b = gq.motif_census_3(social_db, n_samples=100, seed=4).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_random_walks_deterministic_and_valid(social_db, adj):
    """Walks follow real edges, are reproducible, and each next hop is the
    md5-argmin neighbor (python model parity)."""
    import hashlib

    def h60(walk_id, step, dst):
        s = f"{walk_id}:{step}:{dst}"
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    got = gq.random_walks(social_db, seeds=[1, 2, 3], walk_length=3, n_walks=2)
    rows = sorted((r["walk_id"], r["step"], r["id"]) for r in got.collect())
    again = sorted(
        (r["walk_id"], r["step"], r["id"])
        for r in gq.random_walks(social_db, seeds=[1, 2, 3], walk_length=3, n_walks=2).collect()
    )
    assert rows == again  # reproducible
    walks: dict[int, dict[int, int]] = {}
    for wid, step, vid in rows:
        walks.setdefault(wid, {})[step] = vid
    for wid, path in walks.items():
        assert path[0] == wid // 2  # seed encoding
        for step in range(1, max(path) + 1):
            prev, cur = path[step - 1], path[step]
            nbrs = adj.get(prev, set())
            assert cur in nbrs
            expect = min(nbrs, key=lambda d: (h60(wid, step, d), d))
            assert cur == expect


def test_node2vec_bias_extremes(spark):
    """Second-order bias semantics on a crafted graph: with q→∞ the walk
    must prefer triangle-closing hops; with p→0 it must backtrack."""
    from graphchidb_scala_spark.db import GraphDB

    # 1↔2, 2→3 (outward), 2→4 with 1↔4 (4 closes a triangle with prev=1)
    rows = [(0, 1, 2), (0, 2, 1), (0, 2, 3), (0, 2, 4), (0, 4, 1), (0, 1, 4)]
    g = GraphDB(spark.createDataFrame(rows, "etype int, src bigint, dst bigint"))

    def path_of(df, wid):
        steps = {r["step"]: r["id"] for r in df.collect() if r["walk_id"] == wid}
        return [steps[i] for i in sorted(steps)]

    # q huge: outward (3) and return (1) hops get ~0 weight from vertex 2
    walks = gq.node2vec_walks(g, seeds=[1], walk_length=2, p=1e9, q=1e9)
    path = path_of(walks, 1)
    assert path[0] == 1
    if path[1] == 2:
        assert path[2] == 4  # the only triangle-closing candidate
    else:
        assert path[1] == 4 and path[2] == 1  # 4's only out-edge returns

    # p tiny: from 2 with prev=1, returning to 1 dominates everything
    walks_p = gq.node2vec_walks(g, seeds=[1], walk_length=2, p=1e-9, q=1.0)
    path_p = path_of(walks_p, 1)
    if path_p[1] == 2:
        assert path_p[2] == 1

    # reproducibility
    a = sorted(tuple(r) for r in walks.collect())
    b = sorted(
        tuple(r)
        for r in gq.node2vec_walks(g, seeds=[1], walk_length=2, p=1e9, q=1e9).collect()
    )
    assert a == b


def test_node2vec_first_hop_uniform_with_self_loops(spark):
    """Step 1 has no prev vertex, so ALL first-hop candidates must race with
    the same uniform 1/q weight — including candidates that have self-loops.
    (Regression: least/greatest skip the NULL prev, so the triangle probe
    used to match self-loop rows and give those candidates weight 1.0.)"""
    from graphchidb_scala_spark.db import GraphDB

    # 1→2 and 1→3; 2 has a self-loop. With q huge, the buggy 1.0 weight on 2
    # would make every walk pick 2; uniform weights give a fair hash race.
    rows = [(0, 1, 2), (0, 1, 3), (0, 2, 2)]
    g = GraphDB(spark.createDataFrame(rows, "etype int, src bigint, dst bigint"))
    walks = gq.node2vec_walks(g, seeds=[1], n_walks=64, walk_length=1, p=1.0, q=1e9)
    first = [r["id"] for r in walks.collect() if r["step"] == 1]
    assert len(first) == 64
    picked_3 = sum(1 for v in first if v == 3)
    # binomial(64, 1/2): 12..52 is > 5-sigma wide; the bug gives ~0
    assert 12 <= picked_3 <= 52


def test_kcore_converges_to_python_peeler(social_db):
    g = social_db
    import collections

    edges = {(r["a"], r["b"]) for r in g.undirected_edges(0).collect() if r["a"] != r["b"]}
    k = 2

    def peel(es):
        while True:
            deg = collections.Counter(a for a, _ in es)
            keep = {v for v, d in deg.items() if d >= k}
            nxt = {(a, b) for a, b in es if a in keep and b in keep}
            if nxt == es:
                return es
            es = nxt

    expect_es = peel(edges)
    expect = collections.Counter(a for a, _ in expect_es)
    got = {r["id"]: r["deg"] for r in gq.k_core(g, k=k).collect()}
    assert got == dict(expect)
    # fixed-round form is a superset on the way down to the fixed point
    got3 = {r["id"] for r in gq.k_core(g, k=k, peels=3).collect()}
    assert set(expect) <= got3


def test_adamic_adar_matches_python(social_db):
    import math
    from collections import defaultdict

    und = defaultdict(set)
    for r in social_db.undirected_edges(0).collect():
        if r["a"] != r["b"]:
            und[r["a"]].add(r["b"])
    u = 1
    scores = defaultdict(float)
    for w in und[u]:
        for v in und[w]:
            if v != u:
                scores[v] += 1.0 / math.log(len(und[w]))
    expect = {v: round(s, 6) for v, s in scores.items()}
    got = {r["id"]: r["score"] for r in gq.adamic_adar(social_db, 1, etype=0, k=10**6).collect()}
    assert got == pytest.approx(expect)


def test_jaccard_similarity_matches_python(social_db):
    from collections import defaultdict

    und = defaultdict(set)
    for r in social_db.undirected_edges(0).collect():
        if r["a"] != r["b"]:
            und[r["a"]].add(r["b"])
    u = 1
    expect = {}
    for v in und:
        if v == u:
            continue
        inter = len(und[u] & und[v])
        if inter:
            expect[v] = round(inter / len(und[u] | und[v]), 6)
    got = {
        r["id"]: r["score"]
        for r in gq.jaccard_similarity(social_db, 1, etype=0, k=10**6).collect()
    }
    assert got == pytest.approx(expect)


def test_bipartite_cooccurrence_matches_python(social_db):
    from collections import Counter
    from itertools import combinations

    baskets = {}
    for r in social_db.edges.filter("etype = 0").select("src", "dst").distinct().collect():
        baskets.setdefault(r["src"], set()).add(r["dst"])
    model = Counter()
    for items in baskets.values():
        for a, b in combinations(sorted(items), 2):
            model[(a, b)] += 1
    got = {
        (r["item_a"], r["item_b"]): r["n_common"]
        for r in gq.bipartite_cooccurrence(social_db, etype=0, k=10**6).collect()
    }
    assert got == dict(model)


def test_bipartite_cooccurrence_cap_bounds_fanout(social_db):
    capped = gq.bipartite_cooccurrence(social_db, etype=0, k=10**6, max_degree=2)
    # with every basket capped at 2 items, each contributes at most 1 pair
    n_baskets = social_db.edges.filter("etype = 0").select("src").distinct().count()
    assert capped.count() <= n_baskets
    # determinism: same seed → identical result set
    a = sorted(map(tuple, capped.collect()))
    b = sorted(
        map(
            tuple,
            gq.bipartite_cooccurrence(social_db, etype=0, k=10**6, max_degree=2).collect(),
        )
    )
    assert a == b


def test_local_clustering_coefficient_matches_python(social_db):
    from collections import defaultdict
    from itertools import combinations

    und = defaultdict(set)
    for r in social_db.undirected_edges(0).collect():
        if r["a"] != r["b"]:
            und[r["a"]].add(r["b"])
            und[r["b"]].add(r["a"])
    expect = {}
    for v, nbrs in und.items():
        d = len(nbrs)
        if d < 2:
            continue
        tri = sum(1 for a, b in combinations(sorted(nbrs), 2) if b in und[a])
        expect[v] = round(2.0 * tri / (d * (d - 1)), 6)
    got = {
        r["id"]: r["coeff"]
        for r in gq.local_clustering_coefficient(social_db, etype=0).collect()
    }
    assert got == pytest.approx(expect)


def test_local_clustering_triangle_free_graph_is_all_zero(social_db, spark):
    from graphchidb_scala_spark.db import GraphDB

    # a path graph has no triangles; every interior vertex has coeff 0
    edges = spark.createDataFrame(
        [(0, i, i + 1, "", 0, 0) for i in range(10)],
        "etype int, src bigint, dst bigint, col1 string, col2 int, col3 int",
    )
    db = GraphDB(edges)
    rows = gq.local_clustering_coefficient(db, etype=0).collect()
    assert len(rows) == 9 and all(r["coeff"] == 0.0 for r in rows)


def test_as_of_snapshot_restricts_and_queries_work(social_db):
    full = social_db.edges.count()
    cutoff = social_db.edges.selectExpr(
        "percentile_approx(timestamp, 0.5) AS m"
    ).collect()[0]["m"]
    snap = social_db.as_of(cutoff, ts_col="timestamp")
    n = snap.edges.count()
    assert 0 < n < full
    assert snap.edges.filter(f"timestamp > {cutoff}").count() == 0
    # snapshot degrees = degrees computed on the filtered edge set
    a = {r["id"]: r["out_deg"] for r in snap.degrees(etype=0).collect()}
    manual = {
        r["src"]: r["c"]
        for r in snap.edges.filter("etype = 0").groupBy("src").count()
        .withColumnRenamed("count", "c").collect()
    }
    assert {k: v for k, v in a.items() if v > 0} == manual


def test_maximal_independent_set_equals_greedy_by_priority(social_db):
    import hashlib
    from collections import defaultdict

    und = defaultdict(set)
    nodes = set()
    for r in social_db.undirected_edges(0).collect():
        if r["a"] != r["b"]:
            und[r["a"]].add(r["b"])
            und[r["b"]].add(r["a"])
        nodes.add(r["a"])
        nodes.add(r["b"])

    def pri(v):
        return int(hashlib.md5(f"42:{v}".encode()).hexdigest()[:15], 16)

    # Luby local-min rounds compute exactly the sequential greedy MIS in
    # priority order (the lexicographically-first MIS)
    expect, blocked = set(), set()
    for v in sorted(nodes, key=lambda v: (pri(v), v)):
        if v not in blocked:
            expect.add(v)
            blocked |= und[v] | {v}
    got = {r["id"] for r in gq.maximal_independent_set(social_db, etype=0).collect()}
    assert got == expect
    # independence + maximality, asserted directly
    for v in got:
        assert not (und[v] & got)
    for v in nodes - got:
        assert und[v] & got


def test_maximal_matching_equals_greedy_by_priority(social_db):
    import hashlib

    edges = set()
    for r in social_db.undirected_edges(0).collect():
        if r["a"] != r["b"]:
            edges.add((min(r["a"], r["b"]), max(r["a"], r["b"])))

    def pri(e):
        return int(hashlib.md5(f"42:{e[0]}:{e[1]}".encode()).hexdigest()[:15], 16)

    # local-min-edge rounds == the sequential greedy matching in global
    # priority order (every round the global min live edge wins; exchange
    # argument as for MIS)
    expect, used = set(), set()
    for e in sorted(edges, key=lambda e: (pri(e), e)):
        if e[0] not in used and e[1] not in used:
            expect.add(e)
            used |= {e[0], e[1]}
    got = {
        (r["a"], r["b"])
        for r in gq.maximal_matching(social_db, etype=0).collect()
    }
    assert got == expect
    # vertex-disjoint + maximal, asserted directly
    seen = set()
    for a, b in got:
        assert a not in seen and b not in seen
        seen |= {a, b}
    for a, b in edges - got:
        assert a in seen or b in seen


def test_weighted_sssp_matches_python_bellman_ford(social_db):
    from collections import defaultdict

    edges = [
        (r["src"], r["dst"], float(r["weight"]))
        for r in social_db.edges.filter("etype = 0")
        .select("src", "dst", "weight")
        .collect()
    ]
    src = 1
    dist = {src: 0.0}
    for _ in range(4):
        nd = dict(dist)
        for u, v, w in edges:
            if u in dist and dist[u] + w < nd.get(v, float("inf")):
                nd[v] = dist[u] + w
        dist = nd
    expect = {v: round(d, 4) for v, d in dist.items()}
    got = {
        r["id"]: r["dist"]
        for r in gq.weighted_sssp(social_db, 1, iterations=4, etype=0).collect()
    }
    assert got == pytest.approx(expect)
