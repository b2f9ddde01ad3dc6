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
