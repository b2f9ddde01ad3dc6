"""Plan-shape assertions: the scale story must be visible in the physical
plan — pushed filters for point lookups, broadcast joins for small frontiers,
codegen for scalar pipelines. (SURVEY.md §4: these replace the reference's
hand-coded index/sparse-dense machinery.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphchidb_scala_spark import plans
from graphchidb_scala_spark.db import GraphDB
from graphchidb_scala_spark.operators.frontier import Frontier


@pytest.fixture(scope="module")
def parquet_db(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "edges.parquet")
    rows = [(0, i, i + 1, float(i)) for i in range(1000)]
    spark.createDataFrame(rows, "etype int, src bigint, dst bigint, weight double").write.parquet(p)
    return GraphDB(spark.read.parquet(p))


def test_point_lookup_pushes_filters(parquet_db):
    q = parquet_db.find_edge(0, 10, 11)
    pushed = plans.pushed_filters(q)
    assert "src" in pushed and "dst" in pushed and "etype" in pushed


def test_query_out_pushes_src(parquet_db):
    assert "src" in plans.pushed_filters(parquet_db.query_out(42, etype=0))


def test_small_frontier_broadcasts(parquet_db):
    fr = Frontier.of(parquet_db, [1, 2, 3])
    hop = parquet_db.query_out_multiple(fr.ids, etype=0)
    assert plans.uses_broadcast_join(hop)


def test_scan_prunes_columns(parquet_db):
    q = parquet_db.query_out(42, etype=0).select("dst")
    plan = plans.explain_str(q)
    assert "weight" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_codegen_covers_scalar_pipeline(spark):
    from graphchidb_scala_spark.functions import text

    df = spark.createDataFrame([(1, "hello world the and of"),], "doc_id bigint, text string")
    assert plans.wholestage_codegen_spans(text.text_stats(df)) >= 1


def test_repeated_substring_spans_plan_shape(spark):
    """The exact-substring span plan must stay set-oriented: no cartesian
    product, the gram statistics aggregate map-side-combined (partial +
    final HashAggregate pair around its exchange), and the doc scan pruned
    to the two referenced columns."""
    from graphchidb_scala_spark.functions import text

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h x y"), (3, "k l m n o p q r")],
        "doc_id bigint, text string",
    )
    plan = plans.explain_str(text.repeated_substring_spans(df, k=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_band_join_parallelism_pinned(spark):
    """The band self-join input must carry an explicitly-NUMBERED
    repartition on (band, bh): AQE coalesces the bytes-small banded table
    to 1-2 partitions otherwise, and the join's candidate expansion then
    runs near-serially however many cores the session has (the sf1 cliff
    round 7 caught live). A numbered exchange is exempt from coalescing —
    assert it survives into the optimized plan."""
    from graphchidb_scala_spark.functions import dedup

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog") for i in range(30)],
        "doc_id bigint, text string",
    )
    pairs = dedup.minhash_lsh_exact_pairs(docs, threshold=0.5)
    plan = plans.explain_str(pairs)
    # the numbered repartition shows as REPARTITION_BY_NUM on the exchange
    assert "REPARTITION_BY_NUM" in plan
    # equality keys carry the band join and the verify joins
    assert "CartesianProduct" not in plan


def test_members_star_edges_shape(spark):
    """The members-mode star-edge builder must be a single equi-join of the
    bucket table against its per-bucket min (never a bucket self-join —
    that is the Θ(Σ group²) clique expansion members mode exists to avoid)
    and its distinct must carry the NUMBERED repartition (bytes-small AQE
    coalescing trap, same guard as the band joins)."""
    from graphchidb_scala_spark.functions import dedup
    from pyspark.sql import functions as F

    bkts = spark.createDataFrame(
        [(i, f"b{i % 5}") for i in range(30)], "id bigint, bkt string"
    ).select("id", "bkt")
    plan = plans.explain_str(dedup.band_bucket_star_edges(bkts, 8))
    assert "REPARTITION_BY_NUM" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # star semantics: every non-min member pairs with its bucket min
    rows = {
        (r["id_a"], r["id_b"])
        for r in dedup.band_bucket_star_edges(bkts, 8).collect()
    }
    assert rows == {(i % 5, i) for i in range(30) if i >= 5}


def test_simhash_band_join_parallelism_pinned(spark):
    """Same trap as the MinHash band join, same guard: the banded simhash
    table (id + 3 narrow ints) is bytes-small, so without an explicitly
    NUMBERED repartition AQE coalesces its exchange to 1-2 partitions and
    the chunk self-join's candidate expansion runs near-serially (sf1
    sweep: 500 s pinned at 2 tasks; 160 s after the pin)."""
    from graphchidb_scala_spark.functions import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(30)],
        "doc_id bigint, text string",
    )
    plan = plans.explain_str(dedup.simhash_pairs(docs, max_hamming=8))
    assert "REPARTITION_BY_NUM" in plan


def test_blocked_cosine_join_parallelism_pinned(spark):
    """cosine_pairs_blocked must pin the block-join parallelism: the
    blocked table is a few MB, AQE coalesces it, and the within-block
    quadratic dot-product expansion then runs on 1-2 cores (sf1 sweep:
    embed_neardup 85 s -> 27 s after the pin)."""
    from graphchidb_scala_spark.functions import similarity

    df = spark.createDataFrame(
        [(i, i % 3, [float(i % 5), 1.0, 2.0]) for i in range(30)],
        "vec_id bigint, label int, embedding array<float>",
    )
    plan = plans.explain_str(similarity.cosine_pairs_blocked(df, "label", 0.5))
    assert "REPARTITION_BY_NUM" in plan


def test_hybrid_rrf_pools_are_topk_not_sorts(spark):
    """hybrid_search_rrf's two retriever pools must each end in a global
    top-k (TakeOrderedAndProject), never a full Sort — at 100 TB the pools
    are the only corpus-sized stages and the fusion join must see ≤2·pool
    rows. The tiny fused frames then join broadcast-style (no sort-merge
    over corpus-sized exchanges)."""
    from graphchidb_scala_spark.functions import search

    docs = spark.createDataFrame(
        [(i, f"spark merge window alpha {i}") for i in range(40)],
        "doc_id bigint, text string",
    )
    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    df = search.hybrid_search_rrf(docs, emb, ["spark", "merge"], [1.0, 0.0, 0.0], k=5, pool=10)
    plan = plans.explain_str(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_cluster_balanced_sample_single_shuffle(spark):
    """cluster_balanced_sample must be one map-only assignment projection
    plus exactly ONE exchange (the cell-key window) — cell assignment may
    not join or shuffle, and no second exchange may follow the window."""
    from graphchidb_scala_spark.functions import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(60)],
        "vec_id bigint, embedding array<double>",
    )
    cb = [(0, [0.0, 0.0]), (1, [2.0, 4.0])]
    df = similarity.cluster_balanced_sample(emb, n_per_cell=4, codebook=cb)
    plan = plans.explain_str(df)
    # formatted mode prints each node twice (tree + detail); "Exchange ("
    # matches only the tree line
    assert plan.count("Exchange (") == 1, plan
    assert "Join" not in plan
    # rank-limit pushdown: the per-cell cap must run map-side BEFORE the
    # exchange too (Partial WindowGroupLimit), so at most n rows per cell
    # per input partition ever cross the wire
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_bigram_lm_scores_no_cartesian_and_aqe_friendly(spark):
    """bigram_lm_scores: every model-table join must be an equi-join (the
    only nested-loop allowed is the broadcast 1-row V+1 constant); no
    CartesianProduct anywhere — at 100 TB the vocab/count tables ride
    AQE's broadcast-or-sort-merge choice, never a pair product."""
    from graphchidb_scala_spark.functions import text

    df = spark.createDataFrame(
        [(i, "the cat sat on the mat", "en" if i % 2 else "de") for i in range(30)],
        "doc_id bigint, text string, lang string",
    )
    plan = plans.explain_str(text.bigram_lm_scores(df))
    assert "CartesianProduct" not in plan
    # the single nested-loop node is the broadcast one-row V+1 constant
    # (formatted mode prints each node twice: tree line + detail header)
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_cluster_top_terms_map_only_assignment_topk_on_types(spark):
    """cluster_top_terms: cell assignment must stay a map-only projection
    (no join/shuffle to pick a cell), and the per-cell top-k must push its
    rank limit map-side (Partial WindowGroupLimit) so only ~k (cell, term)
    TYPE rows per partition reach the final window exchange."""
    from graphchidb_scala_spark.functions import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i % 4}") for i in range(40)],
        "doc_id bigint, text string",
    )
    cb = [(0, [0.0, 0.0]), (1, [2.0, 4.0])]
    plan = plans.explain_str(similarity.cluster_top_terms(emb, docs, k=3, codebook=cb))
    assert "CartesianProduct" not in plan
    # one nested-loop node = the broadcast 1-row K constant (each node
    # prints twice in formatted mode)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_hard_negatives_pinned_join_no_cartesian(spark):
    """hard_negatives_ivf inherits knn_graph_ivf's plan contract: ONE
    cell-id equi-join at numbered-repartition-pinned parallelism (AQE
    can't coalesce the candidate-expansion stage onto 2 cores), no
    cartesian, label filter inside the join stage (before the window)."""
    from graphchidb_scala_spark.functions import similarity

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)], i % 2) for i in range(40)],
        "vec_id bigint, embedding array<double>, label int",
    )
    cb = [(0, [0.0, 0.0]), (1, [2.0, 4.0])]
    plan = plans.explain_str(similarity.hard_negatives_ivf(emb, k=3, codebook=cb))
    assert "REPARTITION_BY_NUM" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.fixture
def static_plans(spark):
    """AQE and auto-broadcast off for one test: the executed plan is then
    the static one, and every shuffle shows as an ``Exchange``."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], "false")
    spark.conf.set(keys[1], "-1")
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def _pregel_loops(spark):
    """Every fixed-round loop that runs on pregel's superstep core, each set
    up for three rounds on a 31-vertex weighted path."""
    from graphchidb_scala_spark.operators import graph_queries as gq, pregel

    rows = [(0, i, i + 1, 1.0 + i % 3) for i in range(30)]
    g = GraphDB(spark.createDataFrame(rows, "etype int, src bigint, dst bigint, weight double"))
    warm = spark.createDataFrame([(0, 0.5)], "id bigint, rank double")
    seeds = spark.createDataFrame([(0, 0), (10, 10)], "id bigint, lbl bigint")
    val = g.vertices.select("id", F.lit(1.0).alias("val"))
    bfs = g.vertices.select("id", F.when(F.col("id") == 0, F.lit(0)).cast("bigint").alias("val"))
    return {
        "pagerank": lambda: pregel.pagerank(g, iterations=3),
        "pagerank_tol": lambda: pregel.pagerank(g, iterations=3, tol=1e-12),
        "pagerank_initial": lambda: pregel.pagerank(g, iterations=3, initial=warm),
        "personalized_pagerank": lambda: pregel.personalized_pagerank(g, 0, iterations=3),
        "personalized_pagerank_multi": lambda: pregel.personalized_pagerank_multi(
            g, [0, 5], iterations=3
        ),
        "pagerank_weighted": lambda: pregel.pagerank_weighted(g, iterations=3),
        "katz_centrality": lambda: pregel.katz_centrality(g, iterations=3),
        "dag_layers": lambda: pregel.dag_layers(g, iterations=3),
        "propagate_labels": lambda: pregel.propagate_labels(g, seeds, iterations=3),
        "connected_components": lambda: pregel.connected_components(g, fixed_iterations=3),
        "gather_apply": lambda: pregel.gather_apply(
            g, val, gather_fn=lambda sv: sv * F.col("weight"), sum_fn=F.sum,
            apply_fn=lambda old, acc: F.coalesce(acc, old), iterations=3,
        ),
        "run_vertex_program": lambda: pregel.run_vertex_program(
            g, bfs, msg_fn=lambda sv: sv + F.lit(1), agg_fn=F.min,
            combine_fn=lambda old, m: F.least(old, m), max_iterations=3,
        ),
        "weighted_sssp": lambda: gq.weighted_sssp(g, 0, iterations=3),
        "weighted_sssp_parents": lambda: gq.weighted_sssp_parents(g, 0, iterations=3),
    }


def test_pregel_superstep_is_one_exchange(spark, static_plans, monkeypatch):
    """Every pregel loop runs on the one superstep core, and a round of it is
    one ``Exchange hashpartitioning`` (the message groupBy): edges and state
    arrive partitioned by the join key, so the join shuffles nothing. Round
    1 runs on cut inputs and must show exactly that one exchange. Over three
    rounds the plan must grow by the same count per round: a round that
    read the previous state twice (the uncut state-union loops did) doubles
    the plan instead — dag_layers showed 1, 3, 7 exchanges."""
    from graphchidb_scala_spark.operators import pregel

    real, rounds = pregel._superstep, []

    def spy(*args, **kwargs):
        rounds.append(real(*args, **kwargs))
        return rounds[-1]

    monkeypatch.setattr(pregel, "_superstep", spy)
    for name, run in _pregel_loops(spark).items():
        rounds.clear()
        run().collect()
        ex = [plans.explain_str(r, "simple").count("Exchange hashpartitioning") for r in rounds]
        assert len(ex) == 3, (name, ex)
        assert ex[0] == 1, (name, ex)
        assert ex[2] - ex[1] == ex[1] - ex[0], (name, ex)


def _jobs(spark, group, fn):
    """Run ``fn()`` under its own job group; returns (Spark jobs it ran, its
    result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_bfs_family_hop_jobs(spark):
    """The BFS family shares one hop loop, so one more hop costs every member
    the same number of Spark jobs: the per-hop job count (depth 4 minus
    depth 3 on a 31-vertex path, target never reached) of
    ``traverse_out_until`` and ``multi_bfs_levels`` equals that of
    ``bfs_levels(stop_at=…)``. A per-hop probe or re-cut shows as extra jobs."""
    from graphchidb_scala_spark.operators import graph_queries as gq

    rows = [(0, i, i + 1) for i in range(30)]
    g = GraphDB(spark.createDataFrame(rows, "etype int, src bigint, dst bigint"))
    runs = {
        "bfs_levels": lambda d: gq.bfs_levels(g, 0, d, stop_at=30).collect(),
        "multi_bfs_levels": lambda d: gq.multi_bfs_levels(g, [0], d).collect(),
        "traverse_out_until": lambda d: Frontier.of(g, [0]).traverse_out_until(30, max_hops=d),
    }

    def jobs(name, depth):
        return _jobs(spark, f"hop-jobs-{name}-{depth}", lambda: runs[name](depth))[0]

    per_hop = {name: jobs(name, 4) - jobs(name, 3) for name in runs}
    assert per_hop["traverse_out_until"] == per_hop["bfs_levels"], per_hop
    assert per_hop["multi_bfs_levels"] == per_hop["bfs_levels"], per_hop
    # the level's size and hit flag are observed by the hop's own cut and the
    # visited set is broadcast at every depth: a stats job over the cut rows,
    # or a sort-merge anti-join once the visited set grows, shows as more
    assert per_hop["bfs_levels"] == 4, per_hop


def test_shortest_path_length_jobs(spark):
    """``shortest_path_length`` runs no job for its driver-built tables (the
    seed and the 1-row result are Arrow local relations) and reads the
    in-neighbour probe and each hop's stats from the cuts that materialize
    them. Pinned on a 31-vertex path: a dist-3 call, a dist-1 call (answered
    by the in-neighbour cut alone) and an unreachable target (every hop of
    the bound runs). The result then collects with no job at all."""
    from graphchidb_scala_spark.operators import graph_queries as gq

    g = GraphDB(spark.createDataFrame([(0, i, i + 1) for i in range(30)], "etype int, src bigint, dst bigint"))
    cases = {"dist3": (0, 3, 3), "dist1": (0, 1, 1), "unreachable": (5, 0, None)}
    got = {}
    for name, (s, t, want) in cases.items():
        n, df = _jobs(spark, f"sp-{name}", lambda s=s, t=t: gq.shortest_path_length(g, s, t))
        m, rows = _jobs(spark, f"sp-{name}-collect", df.collect)
        assert [r["dist"] for r in rows] == [want], (name, rows)
        got[name] = (n, m)
    assert got == {"dist3": (14, 0), "dist1": (2, 0), "unreachable": (17, 0)}, got


def test_route_result_collects_without_a_job(spark):
    """A path query's result rows are built on the driver; as a local
    relation, collecting them runs no Spark job (a list of Python rows ran
    one, in Python workers)."""
    from graphchidb_scala_spark.operators import graph_queries as gq

    g = GraphDB(spark.createDataFrame([(0, i, i + 1) for i in range(30)], "etype int, src bigint, dst bigint"))
    for name, route, want in [
        ("found", gq.shortest_path_route(g, 2, 5), [(0, 2), (1, 3), (2, 4), (3, 5)]),
        ("empty", gq.shortest_path_route(g, 5, 2), []),
    ]:
        n, rows = _jobs(spark, f"route-collect-{name}", route.collect)
        assert (n, sorted(tuple(r) for r in rows)) == (0, want), name


def test_walks_stop_once_every_walk_ended(spark):
    """``random_walks`` ends its hop loop at the first hop no walk survives:
    on a 4-vertex path, 20 hops run the jobs of 4 (3 live hops and the empty
    one) and give the same rows. Hops past the last walk show as extra jobs."""
    from graphchidb_scala_spark.operators import graph_queries as gq

    g = GraphDB(spark.createDataFrame([(0, i, i + 1) for i in range(3)], "etype int, src bigint, dst bigint"))
    runs = {
        n: _jobs(spark, f"walk-stop-{n}", lambda n=n: gq.random_walks(g, [0, 1], walk_length=n).collect())
        for n in (4, 20)
    }
    assert runs[20][0] == runs[4][0], runs
    assert sorted(tuple(r) for r in runs[20][1]) == [
        (0, 0, 0), (0, 1, 1), (0, 2, 2), (0, 3, 3), (1, 0, 1), (1, 1, 2), (1, 2, 3)
    ]


def test_star_cc_stops_at_the_fixpoint(spark):
    """Star connected components stop in the round that reaches the star
    forest: on an input that already is one (two stars centered on their
    minima), the default call runs the jobs of a one-round call. A round
    that only confirms the edge set is unchanged shows as extra jobs."""
    from graphchidb_scala_spark.operators import pregel

    rows = [(0, 0, v) for v in range(1, 6)] + [(0, 10, v) for v in range(11, 15)]
    g = GraphDB(spark.createDataFrame(rows, "etype int, src bigint, dst bigint"))
    one, _ = _jobs(spark, "cc-star-one", lambda: pregel.connected_components_star(g, max_iterations=1).collect())
    full, got = _jobs(spark, "cc-star-full", lambda: pregel.connected_components(g).collect())
    assert full == one, (full, one)
    assert sorted(tuple(r) for r in got) == [(v, 0) for v in range(6)] + [(v, 10) for v in range(10, 15)]


def test_fixpoint_loops_stop_on_their_own_cut(spark):
    """Every fixpoint loop learns whether to go on from the row its round's
    cut observes, so one more round costs the jobs of the round alone.
    Pinned per round (the jobs of a call with one more round, minus those of
    the call before it) on small graphs: a 31-vertex path, a directed ring
    (one more ring vertex is one more colour round and one more backward
    round of SCC), a path for k-core (two more edges, one more peel). The
    k-truss (k = 3: a triangle with a pendant edge) fixpoint runs the one
    delta round that ``rounds=2`` runs, in the same jobs. A follow-up
    ``count``/``isEmpty``/``first`` over a cut, or a join of two rounds'
    states, shows as extra jobs."""
    from graphchidb_scala_spark.operators import graph_queries as gq, pregel

    def graph(pairs):
        return GraphDB(spark.createDataFrame([(0, a, b) for a, b in pairs], "etype int, src bigint, dst bigint"))

    path = graph([(i, i + 1) for i in range(30)])
    bfs = path.vertices.select("id", F.when(F.col("id") == 0, F.lit(0)).cast("bigint").alias("val"))
    tri = graph([(0, 1), (1, 2), (0, 2), (2, 3)])
    runs = {
        "run_vertex_program": (lambda r: pregel.run_vertex_program(
            path, bfs, msg_fn=lambda sv: sv + F.lit(1), agg_fn=F.min,
            combine_fn=lambda old, m: F.least(old, m), max_iterations=r,
        ), 3, 4),
        "pagerank_tol": (lambda r: pregel.pagerank(path, iterations=r, tol=1e-12), 3, 4),
        "scc_ring": (lambda n: gq.strongly_connected_components(
            graph([(i, (i + 1) % n) for i in range(n)])
        ), 4, 5),
        "k_core_peels": (lambda n: gq.k_core(graph([(i, i + 1) for i in range(n)]), 2), 4, 6),
        "maximal_independent_set": (lambda r: gq.maximal_independent_set(path, max_rounds=r), 1, 2),
        "maximal_matching": (lambda r: gq.maximal_matching(path, max_rounds=r), 1, 2),
        "k_truss_fixpoint": (lambda r: gq.k_truss(tri, 3, rounds=r), 2, None),
    }

    def jobs(name, arg):
        return _jobs(spark, f"fixpoint-{name}-{arg}", lambda: runs[name][0](arg).collect())[0]

    got = {name: jobs(name, b) - jobs(name, a) for name, (_, a, b) in runs.items()}
    assert got == {
        "run_vertex_program": 5, "pagerank_tol": 5, "scc_ring": 10, "k_core_peels": 5,
        "maximal_independent_set": 12, "maximal_matching": 9, "k_truss_fixpoint": 0,
    }, got


def test_store_point_read_jobs(spark, tmp_path):
    """An EdgeStore point read costs no schema-inference job (the store's
    schema is declared): ``query_out`` is 1 job over a merged base, and 4
    over the base plus one add batch and one tombstone batch (the appends'
    newest-wins window and the anti-join mask), with the rows a model of the
    writes predicts."""
    from graphchidb_scala_spark.streaming.ingest import EdgeStore

    st = EdgeStore(spark, str(tmp_path / "store"), num_buckets=8)
    st.init_base(
        spark.range(20_000).select(
            F.lit(0).alias("etype"),
            (F.col("id") % 2_000).alias("src"),
            F.col("id").alias("dst"),
            F.col("id").cast("double").alias("weight"),
        )
    )
    model = {(0, 7, d): float(d) for d in range(7, 20_000, 2_000)}

    def read(tag):
        n, rows = _jobs(spark, f"point-read-{tag}", lambda: st.graph().query_out(7).collect())
        assert sorted(tuple(r) for r in rows) == sorted(k + (w,) for k, w in model.items())
        return n

    assert read("merged") == 1
    st.add_batch(
        spark.createDataFrame(
            [(0, 7, 99_999, 1.0), (0, 7, 7, 5.0)], "etype int, src bigint, dst bigint, weight double"
        )
    )
    st.delete_batch(spark.createDataFrame([(0, 7, 2_007)], "etype int, src bigint, dst bigint"))
    model.update({(0, 7, 99_999): 1.0, (0, 7, 7): 5.0})
    del model[(0, 7, 2_007)]
    assert read("appends") == 4


def _compiles(spark, fn):
    """Janino compiles (generated classes not found in Spark's codegen
    cache) while ``fn()`` runs."""
    metric = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = metric.METRIC_COMPILATION_TIME().getCount()
    fn()
    return metric.METRIC_COMPILATION_TIME().getCount() - before


@pytest.fixture(scope="module")
def codegen_db(spark):
    import random

    rng = random.Random(7)
    pairs = {(rng.randrange(200), rng.randrange(200)) for _ in range(800)}
    edges = spark.createDataFrame(
        [(0, s, d) for s, d in sorted(pairs) if s != d], "etype int, src bigint, dst bigint"
    ).cache()
    edges.count()
    return GraphDB(edges)


def test_repeated_pass_compiles_nothing(spark, codegen_db):
    """After one pass of the loop operators, a second identical pass reuses
    every generated class of the first: class names carry no codegen stage
    id and the codegen cache holds a whole pass, so no call of the repeat
    Janino-compiles (with stage-id names and a 100-entry cache each call
    recompiled dozens of classes, and the JIT compiled them again)."""
    from graphchidb_scala_spark.operators import graph_queries as gq, pregel

    g = codegen_db
    calls = {
        "pagerank": lambda: pregel.pagerank(g, iterations=2).collect(),
        "connected_components": lambda: pregel.connected_components(g).collect(),
        "multi_bfs_levels": lambda: gq.multi_bfs_levels(g, [1, 2, 3], max_depth=3).collect(),
        "random_walks": lambda: gq.random_walks(g, list(range(20)), walk_length=2).collect(),
    }
    for call in calls.values():
        call()
    assert {name: _compiles(spark, call) for name, call in calls.items()} == dict.fromkeys(calls, 0)


def test_walk_length_reuses_codegen(spark, codegen_db):
    """Random walks carry the step as a column, not a per-hop literal, so 6
    hops after 2 compile nothing new."""
    from graphchidb_scala_spark.operators import graph_queries as gq

    def walks(n):
        return gq.random_walks(codegen_db, list(range(20)), walk_length=n).collect()

    walks(2)
    assert _compiles(spark, lambda: walks(6)) == 0


def test_pagerank_rounds_reuse_codegen(spark, codegen_db):
    """PageRank over 7 rounds after 2 compiles only the few classes of the
    round shapes a 2-round call never reaches: 6 measured, 3 per class
    loader (driver and tasks). Stage-id class names recompile every round."""
    from graphchidb_scala_spark.operators import pregel

    pregel.pagerank(codegen_db, iterations=2).collect()
    assert _compiles(spark, lambda: pregel.pagerank(codegen_db, iterations=7).collect()) <= 6


def test_bfs_depth_reuses_codegen(spark, codegen_db):
    """BFS levels carry the level as a column, not a per-level literal, so
    ``multi_bfs_levels`` to depth 5 after depth 2 compiles nothing new."""
    from graphchidb_scala_spark.operators import graph_queries as gq

    def bfs(depth):
        return gq.multi_bfs_levels(codegen_db, [1, 2, 3], max_depth=depth).collect()

    bfs(2)
    assert _compiles(spark, lambda: bfs(5)) == 0


def test_node2vec_length_reuses_codegen(spark, codegen_db):
    """node2vec walks carry the step as a column, as ``random_walks`` does,
    so 6 steps after 2 compile nothing new."""
    from graphchidb_scala_spark.operators import graph_queries as gq

    def walks(n):
        return gq.node2vec_walks(codegen_db, list(range(10)), walk_length=n, p=2.0, q=0.5).collect()

    walks(2)
    assert _compiles(spark, lambda: walks(6)) == 0


# ----------------------------------------------------------------- dedup plans


@pytest.fixture(scope="module")
def plan_docs(spark):
    """A 120-doc corpus with a ``source`` column, for plan-only checks."""
    return spark.createDataFrame(
        [(i, f"src{i % 3}", f"the quick brown fox {i % 17} jumps over the lazy dog {i % 5}") for i in range(120)],
        "doc_id bigint, source string, text string",
    )


def _dedup_plan_cases():
    from graphchidb_scala_spark.functions import dedup

    def labeled(docs):
        return docs.selectExpr("doc_id as id", "source as bkt", "doc_id % 7 as _lbl")

    return {
        # the exact tier counts map-side before its one exchange
        "text_exact_dedup": (lambda d: dedup.exact_duplicate_groups(d), ["partial_count"]),
        # equality keys carry the prefix self-join, never the inequalities alone
        "ngram_prefix_join": (
            lambda d: dedup.ngram_jaccard_pairs(d, block_col="source", threshold=0.5),
            ["!CartesianProduct"],
        ),
        # a drop set past the cap carries no broadcast hint, so the corpus
        # anti-join against a stats-large (24 MB) set shuffles
        "near_dedup_large_dropset_not_broadcast": (
            lambda d: d.join(
                dedup._broadcast_if_small_ids(
                    d.sparkSession.range(3_000_000).select(F.col("id").alias("doc_id")), cap_rows=1
                ),
                "doc_id",
                "left_anti",
            ),
            ["!BroadcastExchange"],
        ),
        # the salted crossing keys compile to an equi join whose numbered
        # repartitions survive; so does the unsalted (G = 1) arm
        "members_salted_crossing_equi_pinned": (
            lambda d: dedup.salted_label_crossing_candidates(labeled(d), 32),
            ["Join", "!BroadcastNestedLoop", "!CartesianProduct", "REPARTITION_BY_NUM"],
        ),
        "members_crossing_degenerate_g1_pinned": (
            lambda d: dedup.salted_label_crossing_candidates(labeled(d), 32, salts=1),
            ["Join", "!BroadcastNestedLoop", "!CartesianProduct", "REPARTITION_BY_NUM"],
        ),
        # the containment members' star seam keeps its numbered pin
        "containment_members_star_seam_pinned": (
            lambda d: dedup.shingle_bucket_star_edges(
                d.select(
                    F.col("doc_id").alias("id"),
                    (F.col("doc_id") % 97).cast("string").alias("sh"),
                    F.lit(5).alias("n"),
                    F.lit(2).alias("_df"),
                ),
                ["sh"],
                32,
            ),
            ["REPARTITION_BY_NUM", "!CartesianProduct", "!BroadcastNestedLoop"],
        ),
        # the cross-corpus band join is an equi join of the two banded sides
        "crosscorpus_band_join_equi": (
            lambda d: dedup.cross_corpus_neardup_pairs(
                d.filter(F.col("doc_id") % 2 == 0), d.filter(F.col("doc_id") % 2 == 1)
            ),
            ["!CartesianProduct", "!BroadcastNestedLoop"],
        ),
    }


@pytest.mark.parametrize("case", list(_dedup_plan_cases()))
def test_dedup_plan_shapes(spark, plan_docs, case):
    """Plan properties of the dedup family at scale: "X" must appear in the
    formatted plan, "!X" must not."""
    build, expect = _dedup_plan_cases()[case]
    plan = plans.explain_str(build(plan_docs))
    missing = [e for e in expect if ((e[1:] in plan) if e.startswith("!") else (e not in plan))]
    assert not missing, (case, missing)


def _neardup_corpus(spark, n=600, seed=11):
    """A seeded corpus with planted near-duplicates: every sixth doc copies
    an earlier one with one word replaced, and every sixth (offset by one)
    appends a few words to an earlier one, so it contains it."""
    import random

    rng = random.Random(seed)
    vocab = ["".join(rng.choice("abcdefghij") for _ in range(rng.randint(3, 7))) for _ in range(300)]
    docs: list[list[str]] = []
    for i in range(n):
        if i % 6 == 5:
            words = list(docs[rng.randrange(i)])
            words[rng.randrange(len(words))] = rng.choice(vocab)
        elif i % 6 == 4:
            words = docs[rng.randrange(i)] + [rng.choice(vocab) for _ in range(3)]
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(15, 30))]
        docs.append(words)
    return spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(docs)], "doc_id bigint, text string"
    )


def _dedup_ops():
    from graphchidb_scala_spark.functions import dedup

    def split(d):
        return d.filter(F.col("doc_id") >= 400), d.filter(F.col("doc_id") < 400)

    return {
        "ngram_jaccard_pairs": lambda d: dedup.ngram_jaccard_pairs(d),
        "ngram_containment_pairs": lambda d: dedup.ngram_containment_pairs(d),
        "minhash_lsh_exact_pairs": lambda d: dedup.minhash_lsh_exact_pairs(d),
        "minhash_cluster_members": lambda d: dedup.minhash_cluster_members(d, verify=True),
        "containment_cluster_members": lambda d: dedup.containment_cluster_members(d),
        "cross_corpus_neardup_pairs": lambda d: dedup.cross_corpus_neardup_pairs(*split(d)),
        "cross_corpus_dup_members": lambda d: dedup.cross_corpus_dup_members(*split(d)),
    }


#: The verify regimes the dedup operators can run in, as the module
#: constants each one sets: both estimate tiers off (this corpus is below
#: the engage floor); the 64-hash tier forced on; and both tiers, with the
#: shingle arrays past the broadcast cap (the second tier's regime).
_TIER_ARMS = {
    "off": {},
    "est1": {"_ESTIMATE_TIER_MIN_DOCS": 0},
    "est2": {"_ESTIMATE_TIER_MIN_DOCS": 0, "_VERIFY_BCAST_CAP": 0},
}


def _run_arm(spark, docs, arm, names):
    """{operator: (jobs of the call and its collect, sorted rows)} with the
    ``arm`` constants set."""
    from graphchidb_scala_spark.functions import dedup

    ops = _dedup_ops()
    out = {}
    with pytest.MonkeyPatch.context() as mp:
        for k, v in _TIER_ARMS[arm].items():
            mp.setattr(dedup, k, v)
        for name in names:
            n, rows = _jobs(spark, f"dedup-{arm}-{name}", lambda: ops[name](docs).collect())
            out[name] = (n, sorted(tuple(r) for r in rows))
    return out


@pytest.fixture(scope="module")
def dedup_arms(spark):
    docs = _neardup_corpus(spark).cache()
    docs.count()
    names = list(_dedup_ops())
    yield docs, {arm: _run_arm(spark, docs, arm, names) for arm in ("off", "est1")}
    docs.unpersist()


def test_dedup_verify_sizes_come_from_the_cut(dedup_arms):
    """Every dedup verify reads the size of its shingle-array side (and the
    document count its estimate tier engages on) from the row its own cut
    observes, so no operator runs a count or size job of its own. Pinned
    jobs per call (call plus collect) on a 600-doc corpus with planted
    near-duplicates, with the estimate tiers off and with the 64-hash tier
    forced on. A follow-up ``count``/``agg`` over a cut table shows as two
    more jobs."""
    _, arms = dedup_arms
    got = {name: (arms["off"][name][0], arms["est1"][name][0]) for name in _dedup_ops()}
    assert got == {
        "ngram_jaccard_pairs": (10, 10),
        "ngram_containment_pairs": (13, 13),
        "minhash_lsh_exact_pairs": (10, 11),
        "minhash_cluster_members": (44, 47),
        "containment_cluster_members": (42, 42),
        "cross_corpus_neardup_pairs": (14, 16),
        "cross_corpus_dup_members": (30, 34),
    }, got


def test_dedup_tier_arms_agree(spark, dedup_arms):
    """The estimate tiers only drop candidates the exact verify rejects: each
    tiered operator returns the same rows with both tiers off, with the
    64-hash tier forced on, and with both tiers on (the shingle arrays past
    the broadcast cap, the second tier's regime), and finds the planted
    near-duplicates."""
    docs, arms = dedup_arms
    names = [
        "minhash_lsh_exact_pairs", "minhash_cluster_members",
        "cross_corpus_neardup_pairs", "cross_corpus_dup_members",
    ]
    est2 = _run_arm(spark, docs, "est2", names)
    for name in names:
        off = arms["off"][name][1]
        assert arms["est1"][name][1] == off, name
        assert est2[name][1] == off, name
    assert len(arms["off"]["minhash_lsh_exact_pairs"][1]) >= 50
    assert len(arms["off"]["cross_corpus_dup_members"][1]) >= 50
