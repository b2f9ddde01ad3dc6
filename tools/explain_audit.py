"""Physical-plan audit: dump .explain("formatted") for representative
operators into PLANS.md and sanity-check the properties that matter at scale:

- point/neighborhood reads: parquet PushedFilters on src/dst/etype, pruned
  ReadSchema (column pruning reaching the scan);
- small-frontier traversals: broadcast hash joins (no shuffle of the big side);
- aggregations: partial_ before the exchange (map-side combine);
- hot paths inside WholeStageCodegen.

Usage: python tools/explain_audit.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from graphchidb_scala_spark.operators import graph_queries as gq, pregel
from graphchidb_scala_spark.session import get_spark
from graphchidb_scala_spark.sources.tpch import load_tables, tpch_graph
from graphchidb_scala_spark.functions import dedup, pipeline, similarity, text


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = {
    "point_lookup_out": (
        lambda g, docs, emb: g.query_out(1, etype=0),
        ["PushedFilters"],
    ),
    "neighborhood_join_columns": (
        lambda g, docs, emb: g.join_vertex_columns(
            g.query_out(1, etype=0), ["name"], on="dst"
        ),
        ["BroadcastHashJoin"],
    ),
    "fof_counts": (
        lambda g, docs, emb: gq.friends_of_friends_counts(g, 1, 0, 1, k=20),
        ["BroadcastHashJoin", "partial_count"],
    ),
    # AQE formatted plans don't label WholeStageCodegen spans pre-execution;
    # the scale property checked here is map-side combine (partial agg below
    # the exchange) + column pruning reaching the scan.
    "degrees": (
        lambda g, docs, emb: g.degrees(),
        ["partial_sum", "ReadSchema: struct<o_custkey:bigint>"],
    ),
    "induced_subgraph": (
        lambda g, docs, emb: g.induced_subgraph(
            g.vertices.filter(F.col("id") % 3 == 0).select("id")
        ),
        ["Join"],
    ),
    "ann_cosine_topk": (
        lambda g, docs, emb: similarity.cosine_topk(
            emb, [0.0] * 64, k=10
        ),
        ["TakeOrderedAndProject"],
    ),
    "text_exact_dedup": (
        lambda g, docs, emb: dedup.exact_duplicate_groups(docs),
        ["partial_count"],
    ),
    # equality keys must carry the self-joins — a CartesianProduct here would
    # mean the inequality predicates ended up as the only join condition
    "triangle_count": (
        lambda g, docs, emb: __import__(
            "graphchidb_scala_spark.operators.graph_queries", fromlist=["gq"]
        ).triangle_count(g),
        ["!CartesianProduct"],
    ),
    "ngram_prefix_join": (
        lambda g, docs, emb: dedup.ngram_jaccard_pairs(
            docs, block_col="source", threshold=0.5
        ),
        ["!CartesianProduct"],
    ),
    # hash split is membership-by-arithmetic: one projection, no shuffle —
    # the property that makes it free on a 100 TB scan
    "split_by_hash_pure_projection": (
        lambda g, docs, emb: pipeline.split_by_hash(docs),
        ["Project", "!Exchange", "!Join"],
    ),
    # contamination joins exploded shingles on the shingle key — never
    # all-pairs doc x benchmark
    "contamination_no_cartesian": (
        lambda g, docs, emb: pipeline.contamination_hits(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
            k=3,
        ),
        ["!CartesianProduct"],
    ),
    # keyword search: the tiny idf side broadcast-joins back onto the
    # term-filtered pair table; top-k is a TakeOrdered, never a global sort
    "tfidf_search_broadcast_topk": (
        lambda g, docs, emb: _search().tfidf_search(docs, ("spark", "merge"), k=20),
        ["TakeOrderedAndProject", "BroadcastHashJoin", "!CartesianProduct"],
    ),
    "bm25_search_topk": (
        lambda g, docs, emb: _search().bm25_search(docs, ("spark", "merge"), k=20),
        ["TakeOrderedAndProject", "!CartesianProduct"],
    ),
    # persisted postings probe: the _tb bucket predicate must prune
    # partitions at the scan — a term query reads only its buckets
    "postings_probe_partition_pruning": (
        lambda g, docs, emb: _postings_probe(docs),
        ["PartitionFilters: [_tb"],
    ),
    # phrase probe (r14): positional intersection over the SAME pruned
    # buckets — the position-chain joins stay broadcast/hash joins on the
    # term-filtered postings, never a corpus scan
    "phrase_probe_partition_pruning": (
        lambda g, docs, emb: _phrase_probe(docs),
        ["PartitionFilters: [_tb", "!CartesianProduct"],
    ),
    # NEAR/w probe (r14): same pruned buckets; the window count is an
    # array filter on the doc-id equi-join row, never a position×position
    # expansion of the dense term
    "near_probe_partition_pruning": (
        lambda g, docs, emb: _near_probe(docs),
        ["PartitionFilters: [_tb", "!CartesianProduct"],
    ),
    # repetition signals are a pure projection: array construction +
    # distinct-count arithmetic all in codegen on the scan
    "repetition_stats_pure_projection": (
        lambda g, docs, emb: __import__(
            "graphchidb_scala_spark.functions.text", fromlist=["text"]
        ).repetition_stats(docs),
        ["Project", "!Exchange", "!Join"],
    ),
    # weighted sample = projection key + global top-n (per-partition top-n,
    # driver merge) — no sort-the-world Exchange, no join
    "weighted_sample_take_ordered": (
        lambda g, docs, emb: pipeline.weighted_sample(docs, "n_chars", n=100),
        ["TakeOrderedAndProject", "!Join"],
    ),
    # mix rebalance = literal quota table broadcast onto one Window over
    # the stratum shuffle — no sort-merge join, no second shuffle
    "rebalance_mix_broadcast_quota_window": (
        lambda g, docs, emb: pipeline.rebalance_mix(
            docs, "source", {"src0": 3.0, "src1": 1.0}, total_n=40
        ),
        ["Window", "BroadcastHashJoin", "!SortMergeJoin"],
    ),
    # per-group cap = one Window over the group-key shuffle; no join
    "cap_per_group_single_window": (
        lambda g, docs, emb: pipeline.cap_per_group(docs, "source", cap=40),
        ["Window", "!Join"],
    ),
    # sequence packing = one Window prefix-sum over the bucket-key shuffle;
    # token counting and pack arithmetic are pure codegen projections
    "pack_sequences_single_window": (
        lambda g, docs, emb: pipeline.pack_sequences(docs, budget=512, n_buckets=8),
        ["Window", "!Join"],
    ),
    # boilerplate strip: the drop-set joins back on the segment string
    # (count-gated broadcast), never all-pairs
    "strip_boilerplate_no_cartesian": (
        lambda g, docs, emb: pipeline.strip_boilerplate(docs, min_df=2),
        ["!CartesianProduct"],
    ),
    # stratified sampling = one Window over the stratum shuffle (row_number
    # and the stratum count share the spec); no join anywhere
    "stratified_sample_single_window": (
        lambda g, docs, emb: pipeline.stratified_sample(docs, "source", 0.125),
        ["Window", "!Join"],
    ),
    # PQ encode must be a pure projection like the IVF assignment: codebooks
    # fold in as literals, the per-subspace argmin runs in codegen — no join,
    # no shuffle, no Python on the 100 TB scan path
    "pq_encode_pure_projection": (
        lambda g, docs, emb: similarity.pq_encode(
            emb,
            [[[0.0] * 8, [1.0] * 8] for _ in range(8)],
        ),
        ["Project", "!Exchange", "!Join"],
    ),
    "ivf_cell_assignment_pure_projection": (
        lambda g, docs, emb: emb.withColumn(
            "_cell",
            similarity.ivf_cell(
                F.col("embedding"), [(0, [0.0] * 64), (1, [0.1] * 64)]
            ),
        ),
        ["Project", "!Exchange", "!Join"],
    ),
    # scale-safe near-dup blocking: hyperplane-LSH bucket as the block key,
    # never an all-pairs cartesian
    "embed_neardup_lsh_blocked": (
        lambda g, docs, emb: similarity.cosine_pairs_lsh(
            emb, dim=64, threshold=0.3
        ),
        ["!CartesianProduct"],
    ),
    # the band-join input must carry the NUMBERED repartition (exempt from
    # AQE coalescing) — without it the bytes-small banded table coalesces
    # to 1-2 partitions and the candidate expansion runs near-serially
    "minhash_exact_verified_pairs": (
        lambda g, docs, emb: dedup.minhash_lsh_exact_pairs(
            docs, num_hashes=64, bands=32, k=5, threshold=0.5
        ),
        ["!CartesianProduct", "REPARTITION_BY_NUM"],
    ),
    # exact-substring span dedup: set-oriented end to end (no cartesian,
    # no nested-loop), gram stats map-side combined before their exchange
    "repeated_substring_spans": (
        lambda g, docs, emb: text.repeated_substring_spans(docs, k=8),
        ["!CartesianProduct", "!BroadcastNestedLoopJoin", "partial_count"],
    ),
    # one PageRank superstep = the message groupBy shuffle only: the rank
    # side broadcasts at this scale and the zero-contribution union replaced
    # the old per-iteration vertex-set SortMergeJoin
    "pagerank_iteration_single_shuffle": (
        lambda g, docs, emb: _first_superstep(lambda: pregel.pagerank(g, iterations=1)),
        ["!SortMergeJoin", "partial_sum"],
    ),
    # kNN graph: assignment + probe selection are projections; the ONLY
    # join is the cell-id equi hash join (quadratic term / cell count)
    "knn_graph_cell_equi_join": (
        lambda g, docs, emb: similarity.knn_graph_ivf(emb, k=5, nprobe=2),
        ["Join", "!BroadcastNestedLoop", "!CartesianProduct"],
    ),
    # persisted IVF probe: the _cell predicate must prune partitions at the
    # scan (PartitionFilters), not filter after a full read
    "ann_ivf_indexed_partition_pruning": (
        lambda g, docs, emb: _ivf_indexed_probe(emb),
        ["PartitionFilters: [_cell", "!Exchange"],
    ),
    # quantized persisted IVF probe: same planning-time pruning, and the
    # scan reads the int8 q + scale payload (4× fewer vector bytes), never
    # a float embedding column
    "ann_ivf_int8_indexed_pruned_int8_scan": (
        lambda g, docs, emb: _ivf_int8_indexed_probe(emb),
        ["PartitionFilters: [_cell", "q:array<tinyint>", "!embedding"],
    ),
    # funnel: the event table is touched once (one user-key shuffle + the
    # in-expression sequential walk); no per-step self-join of the big table
    "funnel_single_pass_no_selfjoin": (
        lambda g, docs, emb: _funnel_plan(g),
        ["partial_", "!SortMergeJoin"],
    ),
    # Adamic-Adar: seed neighbor set broadcasts onto the wedge pass;
    # top-k is a TakeOrdered, never a global sort or cartesian
    "adamic_adar_broadcast_topk": (
        lambda g, docs, emb: gq.adamic_adar(g, 1, etype=0, k=20),
        ["BroadcastHashJoin", "TakeOrderedAndProject", "!CartesianProduct"],
    ),
    # one k-core peel: degree agg + two equi semi-joins against the
    # survivor ids — no nested-loop/cartesian however the sizes evolve
    "kcore_peel_round_semi_joins": (
        lambda g, docs, emb: gq.kcore_peel_round(
            g.undirected_edges(0).filter(F.col("a") != F.col("b")), 3
        ),
        ["Join", "!BroadcastNestedLoop", "!CartesianProduct"],
    ),
    # node2vec's triangle probe: the (least(prev,dst), greatest(prev,dst)) ==
    # (ux, uy) condition must be extracted as equi hash-join keys — a
    # BroadcastNestedLoop/cartesian here would be candidates × |E| per hop.
    # Worst-case skew is bounded by the hub's degree (candidates of one
    # walk), not |E|: the join key includes dst, so a hub prev fans its
    # candidates across deg(prev) distinct keys rather than one hot key.
    "node2vec_probe_equi_join": (
        lambda g, docs, emb: _node2vec_hop(g),
        ["Join", "!BroadcastNestedLoop", "!CartesianProduct"],
    ),
    # a drop set past the broadcast cap must NOT carry a forced broadcast
    # hint; with a stats-large (24 MB estimate) set and no hint, the corpus
    # anti-join falls back to a shuffle join — the only shape that survives a
    # billions-of-ids drop set. (A genuinely small set auto-broadcasting is
    # fine and is covered by the positive branch of the pytest.)
    "near_dedup_large_dropset_not_broadcast": (
        lambda g, docs, emb: docs.join(
            dedup._broadcast_if_small_ids(
                docs.sparkSession.range(3_000_000).select(
                    F.col("id").alias("doc_id")
                ),
                cap_rows=1,
            ),
            "doc_id",
            "left_anti",
        ),
        ["!BroadcastExchange"],
    ),
    # SemDeDup: cell assignment is a projection; the within-cell self-join
    # and the survivor anti-join are both equi joins — never nested-loop,
    # however the cell sizes skew (AQE handles the hot cell)
    "semantic_dedup_cell_equi_join": (
        lambda g, docs, emb: similarity.semantic_dedup(emb, threshold=0.25),
        ["Join", "!BroadcastNestedLoop", "!CartesianProduct"],
    ),
    # r10 graded scale path: same join discipline under the K≈sqrt(N)
    # portable k-means codebook, and the NUMBERED cell-join repartition
    # must survive to the physical plan (AQE-coalesce exemption — the
    # bytes-small-input/expansion-output trap)
    "knn_graph_kmeans_cell_equi_join_pinned": (
        lambda g, docs, emb: similarity.knn_graph_ivf(
            emb, k=5, nprobe=2, codebook=similarity.kmeans_codebook_portable(emb)
        ),
        ["Join", "!BroadcastNestedLoop", "!CartesianProduct", "REPARTITION_BY_NUM"],
    ),
    "semantic_dedup_kmeans_cell_equi_join_pinned": (
        lambda g, docs, emb: similarity.semantic_dedup(
            emb, threshold=0.25, codebook=similarity.kmeans_codebook_portable(emb)
        ),
        ["Join", "!BroadcastNestedLoop", "!CartesianProduct", "REPARTITION_BY_NUM"],
    ),
    # r10 salted crossing repair seam: the (bkt, sa, sb) keys must compile
    # to an equi hash join (inequalities as residual filters, never a
    # nested loop) and BOTH numbered salted repartitions must survive —
    # the pin is what opted the join out of AQE skew split, the salt is
    # what makes that safe
    "members_salted_crossing_equi_pinned": (
        lambda g, docs, emb: dedup.salted_label_crossing_candidates(
            docs.selectExpr(
                "doc_id as id", "source as bkt", "doc_id % 7 as _lbl"
            ),
            32,
        ),
        ["Join", "!BroadcastNestedLoop", "!CartesianProduct", "REPARTITION_BY_NUM"],
    ),
    # PII report: a pure map pass — no exchange anywhere, and column pruning
    # reaches the scan (only doc_id + text read)
    "pii_report_pure_projection": (
        lambda g, docs, emb: text.pii_report(docs),
        ["!Exchange", "ReadSchema: struct<doc_id:bigint,text:string>"],
    ),
    # DSIR: the bucket log-ratio table (<= buckets rows) joins the exploded
    # tokens as a broadcast hash join; the per-doc sum is map-side combined
    "dsir_ratio_broadcast_doc_agg": (
        lambda g, docs, emb: pipeline.dsir_weights(
            docs, docs.filter(F.col("source") == "src0"), buckets=64
        ),
        ["BroadcastHashJoin", "partial_"],
    ),
    # NB quality scorer (r11): the <=buckets-row llr model must broadcast
    # into the scoring join and the per-doc sum must partial-aggregate
    # map-side — same shape contract as the dsir scorer it extends
    "nb_quality_broadcast_model_partial_agg": (
        lambda g, docs, emb: pipeline.nb_quality_scores(docs, buckets=64),
        ["BroadcastHashJoin", "partial_"],
    ),
    # adaptive-salt degenerate arm (r11): G=1 must still be a plain
    # bucket EQUI join with the numbered pin surviving — no nested-loop
    # fallback, no lost REPARTITION_BY_NUM
    "members_crossing_degenerate_g1_pinned": (
        lambda g, docs, emb: dedup.salted_label_crossing_candidates(
            docs.selectExpr(
                "doc_id as id", "source as bkt", "doc_id % 7 as _lbl"
            ),
            32,
            salts=1,
        ),
        ["Join", "!BroadcastNestedLoop", "!CartesianProduct", "REPARTITION_BY_NUM"],
    ),
    # HLL sketch: register build is a map-side-combined (group,bucket) agg —
    # the shuffle carries partial maxima, and no join appears anywhere
    "hll_register_partial_agg": (
        lambda g, docs, emb: _hll_plan(g),
        ["partial_max", "!Join"],
    ),
    # sliding window: the window() expansion happens BEFORE one aggregation —
    # no self-join / re-scan per hop, count+sum partials below the exchange
    "sliding_window_single_agg": (
        lambda g, docs, emb: _sliding_window_plan(g),
        ["partial_count", "!Join"],
    ),
    # bipartite projection: the user-key equi self-join carries the wedge
    # pass (no cartesian however AQE sizes it); pair counts are map-side
    # combined and top-k is a TakeOrdered, never a global sort
    "bipartite_cooccurrence_equi_topk": (
        lambda g, docs, emb: gq.bipartite_cooccurrence(g, etype=1, k=20),
        ["partial_count", "TakeOrderedAndProject", "!CartesianProduct"],
    ),
    # large-K cell assignment: one Arrow-batched map pass — no shuffle, no
    # join; the codebook rides in the closure, not the plan
    "assign_cells_arrow_map_only": (
        lambda g, docs, emb: similarity.assign_cells_arrow(
            emb, [(c, [0.1 * c] * 64) for c in range(32)]
        ),
        ["MapInPandas", "!Exchange", "!Join"],
    ),
    # PCA projection: mean + axes are plan literals, the k dot products run
    # in codegen — map-only like the IVF assignment
    # BPE pair stats: codegen explode + map-side combine + TakeOrdered —
    # one shuffle of (pair, partial-count), no join, no global sort
    "bpe_pairs_partial_topk": (
        lambda g, docs, emb: __import__(
            "graphchidb_scala_spark.functions.text", fromlist=["text"]
        ).bpe_pair_counts(docs, k=20),
        ["partial_count", "TakeOrderedAndProject", "!Join"],
    ),
    # one weighted-SSSP relax round: frontier-edge equi join + min agg —
    # the PageRank iteration shape, never a nested loop
    "weighted_sssp_relax_round": (
        lambda g, docs, emb: _first_superstep(lambda: gq.weighted_sssp(g, 1, iterations=1)),
        ["partial_min", "!BroadcastNestedLoop", "!CartesianProduct"],
    ),
    "pca_project_pure_projection": (
        lambda g, docs, emb: similarity.pca_project(
            emb, [0.0] * 64, [[1.0 if i == j else 0.0 for i in range(64)] for j in range(8)], k=8
        ),
        ["Project", "!Exchange", "!Join"],
    ),
    # corpus MinHash signature: all mins are ONE map-side-combined agg —
    # no distinct, no sort, no join anywhere in the signature
    "set_signature_partial_min": (
        lambda g, docs, emb: _set_signature_plan(docs),
        ["partial_min", "!Join", "!Sort"],
    ),
    # Bloom probe: the bits side (≤ m rows) is broadcast — the 100 TB probe
    # corpus is never shuffled for membership
    "bloom_probe_broadcast_bits": (
        lambda g, docs, emb: _bloom_probe_plan(docs),
        ["BroadcastHashJoin", "!SortMergeJoin"],
    ),
    # per-edge truss support: oriented wedge join is an equi hash join on
    # the wedge center + map-side-combined per-edge count — no nested loop
    "edge_support_equi_wedges": (
        lambda g, docs, emb: gq.edge_support(
            gq._canonical_undirected(g._typed(None))
        ),
        ["partial_count", "!BroadcastNestedLoop", "!CartesianProduct"],
    ),
    # betweenness forward hop: frontier-edge equi join + sigma sum with
    # map-side combine; anti join against visited is hash, not nested loop
    "betweenness_forward_hop": (
        lambda g, docs, emb: gq.betweenness_bounded(g, [1, 2, 3], max_depth=1),
        ["partial_sum", "!BroadcastNestedLoop", "!CartesianProduct"],
    ),
    # degree-skew diagnostic: two map-side-combined aggs, no join/collect
    "powerlaw_two_aggs_no_join": (
        lambda g, docs, emb: gq.powerlaw_alpha(g),
        ["partial_count", "!Join"],
    ),
    # snapshot delta: both ts cutoffs reach the scan as pushed predicates;
    # the delta is one hash anti-join on the edge key
    "graph_diff_pushed_cutoffs": (
        lambda g, docs, emb: gq.graph_diff(g, "1994-12-31", "1995-06-30"),
        ["PushedFilters: [IsNotNull(o_orderdate), LessThanOrEqual(o_orderdate",
         "!BroadcastNestedLoop", "!CartesianProduct"],
    ),
    # language-ID scoring: the |langs|×buckets model must broadcast onto the
    # per-doc bucket counts (never a sort-merge of the corpus against the
    # model), and the softmax/argmax window must be doc-partitioned
    "langid_broadcast_model_join": (
        lambda g, docs, emb: text.detect_language(
            docs,
            labeled=docs.filter(F.col("doc_id") % 4 == 0).select("text", "lang"),
            buckets=256,
        ),
        ["BroadcastHashJoin", "hashpartitioning(doc_id"],
    ),
    # curriculum_order's 100 TB arm (exact_threshold=0): the corpus-side
    # position window is hash-partitioned on (stage, _shard) — never a
    # corpus-wide SinglePartition sort; the only SinglePartition exchange
    # feeds the stages×shards offsets AGGREGATE, which BroadcastExchanges
    # back onto the corpus. Stage cut is literal boundary comparisons
    # (percentile_approx collected at build time), so no ntile window.
    "curriculum_sampled_positions": (
        lambda g, docs, emb: pipeline.curriculum_order(
            docs.select("doc_id", F.length("text").cast("double").alias("score")),
            "score", n_stages=3, seed=7, exact_threshold=0, n_shards=8,
        ),
        ["hashpartitioning(stage", "BroadcastExchange", "!ntile"],
    ),
    # perplexity_buckets' 100 TB arm: bucket is a pure projection over the
    # logprob aggregate — no Window node anywhere in the plan
    "perplexity_buckets_sampled": (
        lambda g, docs, emb: text.perplexity_buckets(
            docs, n_buckets=3, exact_threshold=0
        ),
        ["!Window", "!ntile"],
    ),
    # sampled quantiles: the hash-sample predicate is a scan-side Filter
    # (agg input bounded to rate*N); single aggregation, no join
    "sampled_quantiles_filter_before_agg": (
        lambda g, docs, emb: _sampled_quantiles_plan(g),
        ["Filter", "partial_percentile", "!Join"],
    ),
    # A/B readout: ONE conditional aggregation for both arms — no per-arm
    # scans, no join, partials combined map-side
    "ab_metrics_single_agg": (
        lambda g, docs, emb: _ab_metrics_plan(g),
        ["partial_avg", "!Join"],
    ),
    # modularity: endpoint label joins are equi hash joins with map-side
    # partials; the only nested-loop is the deliberate 1-row scalar (m)
    # broadcast cross join — constant-size by construction
    "modularity_equi_joins": (
        lambda g, docs, emb: gq.modularity(
            g, g.vertices.selectExpr("id", "vtype AS lbl")
        ),
        ["partial_sum", "BroadcastHashJoin", "!CartesianProduct"],
    ),
    # vocab truncation: ONE token-count shuffle; the ordered window runs on
    # the post-aggregation vocab-sized table (a single Window, no join)
    "build_vocab_window_after_agg": (
        lambda g, docs, emb: __import__(
            "graphchidb_scala_spark.functions.text", fromlist=["text"]
        ).build_vocab(docs),
        ["partial_count", "Window", "!SortMergeJoin"],
    ),
    # build_vocab's 100 TB arm (exact_threshold=0, r13): the cumulative sum
    # is a _p-partitioned LOCAL window over the range-partitioned layout
    # (windowspecdefinition(_p…) needs only hashpartitioning(_p)); the only
    # SinglePartition window sorts the ≤n_partitions offsets aggregate,
    # broadcast back — no corpus-wide ordered window anywhere
    "build_vocab_distributed_prefix_sum": (
        lambda g, docs, emb: __import__(
            "graphchidb_scala_spark.functions.text", fromlist=["text"]
        ).build_vocab(docs, exact_threshold=0),
        ["hashpartitioning(_p", "windowspecdefinition(_p", "BroadcastHashJoin",
         "!SortMergeJoin"],
    ),
    # reciprocity: ONE reversed-key equi left join + one agg, lazy end to end
    "reciprocity_single_pass": (
        lambda g, docs, emb: gq.reciprocity(g),
        ["partial_count", "!BroadcastNestedLoop", "!CartesianProduct"],
    ),
    # weighted-parents relax round: one equi join + one struct min, no nested loop
    "weighted_parents_relax_round": (
        lambda g, docs, emb: _first_superstep(lambda: gq.weighted_sssp_parents(g, 1, iterations=1)),
        ["partial_min", "!BroadcastNestedLoop", "!CartesianProduct"],
    ),
    # DAG layering round: the pagerank zero-union shape with max — one
    # map-side-combined exchange per round
    "dag_layers_partial_max": (
        lambda g, docs, emb: _first_superstep(lambda: pregel.dag_layers(g, iterations=1)),
        ["partial_max", "!BroadcastNestedLoop", "!CartesianProduct"],
    ),
    # cross-corpus near-dup: band join is equi (A-banded x B-banded, never
    # cartesian). The verify-spread repartition (commit 1b52cbd; measured
    # >400s single-core -> 137s 32-way at sf0.1) is NOT plan-assertable at
    # audit scale: with sf0.01-sized inputs the planner broadcasts both
    # verify sides and optimizes the explicit exchange away entirely.
    # int8 quantization must stay a map-only codegen projection: no
    # exchange anywhere in the plan (the 100 TB contract — a column
    # rewrite riding whatever scan is already running)
    "quantize_int8_no_shuffle": (
        lambda g, docs, emb: similarity.quantize_int8(emb),
        ["!Exchange"],
    ),
    # kNN classification: the labeled side is broadcast (corpus never
    # shuffles for the candidate join, cosine stays in codegen), and the
    # rank window's hash(id) exchange carries a NUMBERED pin — its input
    # is bytes-small but CPU-heavy, the AQE coalescing trap (r8: 2 tasks
    # at the sf1 replica without it)
    "knn_classify_broadcast_labeled": (
        lambda g, docs, emb: similarity.knn_classify(
            emb.filter(F.col("vec_id") % 5 != 0),
            emb.filter(F.col("vec_id") % 5 == 0),
            k=5,
        ),
        ["BroadcastNestedLoopJoin", "!CartesianProduct", "REPARTITION_BY_NUM"],
    ),
    # blocked cosine pairs: numbered repartition pins the expansion-join
    # parallelism (AQE-coalescing exemption, same as the LSH band joins)
    "blocked_cosine_repartition_pinned": (
        lambda g, docs, emb: similarity.cosine_pairs_lsh(
            emb, dim=64, threshold=0.3, n_planes=6, seed=42
        ),
        ["REPARTITION_BY_NUM"],
    ),
    # members-mode star edges: one equi-join of the bucket table against its
    # per-bucket min — never a bucket self-join (the group² clique expansion
    # members mode exists to avoid) — with the numbered repartition pin
    "members_star_edges_equi_pinned": (
        lambda g, docs, emb: dedup.band_bucket_star_edges(
            docs.select(
                F.col("doc_id").alias("id"),
                (F.col("doc_id") % 97).cast("string").alias("bkt"),
            ),
            32,
        ),
        ["REPARTITION_BY_NUM", "!CartesianProduct", "!BroadcastNestedLoop"],
    ),
    # containment members (r9): the star seam must keep its round-robin
    # numbered pin (the operator's own final plan hides it behind
    # cut_lineage materialization, so the seam is audited directly — the
    # same approach as members_star_edges_equi_pinned) and the bucket
    # join must never degrade to a cartesian.
    "containment_members_star_seam_pinned": (
        lambda g, docs, emb: dedup.shingle_bucket_star_edges(
            docs.select(
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
    # bpe encode (r9): token counts must partial-aggregate below the
    # exchange (map-side combine over the vocab-bounded explode)
    "bpe_encode_partial_agg": (
        lambda g, docs, emb: text.bpe_encode_counts(docs, n_merges=2, k=10),
        ["partial_sum"],
    ),
    # cusum changepoint (r9): mean/sigma/count + ordered cumsum share the
    # user partition key and the argmax is an aggregation — NO join-back
    # anywhere in the plan (the one-shuffle claim's plan signature)
    "cusum_changepoint_no_join_back": (
        lambda g, docs, emb: __import__(
            "graphchidb_scala_spark.functions.events", fromlist=["events"]
        ).cusum_changepoint(
            docs.select(
                F.col("doc_id").alias("user_id"),
                F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
                F.col("n_chars").cast("double").alias("value"),
            ),
            min_events=1,
        ),
        ["!SortMergeJoin", "!BroadcastHashJoin", "partial_max"],
    ),
    "crosscorpus_band_join_equi": (
        lambda g, docs, emb: dedup.cross_corpus_neardup_pairs(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        ),
        ["!CartesianProduct", "!BroadcastNestedLoop"],
    ),
    # resample+ffill: grid explode, ONE left equi-join, one ordered window —
    # no cartesian, no nested loop anywhere
    "resample_gapfill_single_window": (
        lambda g, docs, emb: _resample_plan(g),
        ["Window", "!CartesianProduct", "!BroadcastNestedLoop"],
    ),
    # PMI: the bigram-vs-unigram joins are vocab-bounded equi joins and the
    # two corpus totals arrive as broadcast 1-row aggregates; the final
    # top-k is TakeOrdered, never a full sort
    "bigram_pmi_vocab_join_topk": (
        lambda g, docs, emb: text.bigram_pmi(docs, min_count=5, k=20),
        ["TakeOrderedAndProject", "BroadcastNestedLoopJoin", "!CartesianProduct"],
    ),
    # inter-arrival: one lag window + one agg on the same user-key shuffle
    "interarrival_single_window": (
        lambda g, docs, emb: __import__(
            "graphchidb_scala_spark.functions.events", fromlist=["events"]
        ).interarrival_stats(
            docs.selectExpr(
                "doc_id % 7 AS user_id",
                "timestamp_seconds(1600000000 + doc_id) AS ts",
            )
        ),
        ["Window", "partial_count", "!Join"],
    ),
    # bigram LM (r11): model tables join on token keys (equi); the only
    # nested loop is the broadcast 1-row V+1 constant; never a cartesian
    "bigram_lm_equi_model_joins": (
        lambda g, docs, emb: text.bigram_lm_scores(docs),
        ["partial_count", "!CartesianProduct"],
    ),
    # hard-negative mining (r11): pinned cell equi-join, label filter in
    # the join stage — no cartesian, no nested loop
    "hard_negatives_pinned_equi_join": (
        lambda g, docs, emb: similarity.hard_negatives_ivf(
            emb, k=3, nprobe=2,
            codebook=[(0, [0.0] * 64), (1, [1.0] * 64)],
        ),
        ["REPARTITION_BY_NUM", "!CartesianProduct", "!BroadcastNestedLoop"],
    ),
    # yield curve (r11): decile histogram + 10-row window — the corpus is
    # touched once, never exploded per threshold
    "yield_curve_single_histogram": (
        lambda g, docs, emb: text.quality_yield_curve(docs),
        ["partial_count", "Window", "!CartesianProduct"],
    ),
    # frequent items (r14): candidate pass is a shuffle-free MapInPandas
    # scan; the exact verify joins the data against the BROADCAST candidate
    # list (never a sort-merge shuffle of the key universe) with map-side
    # combine on the final count
    "frequent_items_sketch_verify": (
        lambda g, docs, emb: _frequent_items_plan(docs),
        ["MapInPandas", "BroadcastHashJoin", "partial_count", "!SortMergeJoin"],
    ),
}


def _sampled_quantiles_plan(g):
    from graphchidb_scala_spark.functions import sketches

    deg = g.degrees()
    return sketches.sampled_quantiles(deg, "out_deg", "id", probs=[0.5], rate=0.125)


def _ab_metrics_plan(g):
    from graphchidb_scala_spark.functions import events as ev

    deg = g.degrees()
    return ev.ab_metrics(deg, F.col("id") % 2 == 0, "out_deg")


def _resample_plan(g):
    from graphchidb_scala_spark.functions import events as ev_mod

    ev = g.spark.range(1000).select(
        F.col("id").alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 977).alias("ts"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    return ev_mod.resample_gapfill(ev, bucket_minutes=60)


def _set_signature_plan(docs):
    from graphchidb_scala_spark.functions import sketches

    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    )
    return sketches.set_signature(toks, "tok", num_hashes=16)


def _frequent_items_plan(docs):
    from graphchidb_scala_spark.functions import sketches

    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    return sketches.frequent_items(toks, "tok", 0.002, n_total=50_000)


def _bloom_probe_plan(docs):
    from graphchidb_scala_spark.functions import sketches

    ref = docs.limit(10).select(F.col("text").alias("v"))
    bits = sketches.bloom_build(ref, "v", m=1 << 14, k=3)
    probe = docs.select("doc_id", F.col("text").alias("v"))
    return sketches.bloom_probe(probe, ["doc_id"], "v", bits, m=1 << 14, k=3)


def _hll_plan(g):
    from graphchidb_scala_spark.functions import sketches

    ev = g.spark.range(1000).select(
        (F.col("id") % 5).cast("string").alias("event_type"),
        F.col("id").alias("user_id"),
    )
    return sketches.hll_distinct(ev, "user_id", ["event_type"], p=10)


def _sliding_window_plan(g):
    from graphchidb_scala_spark.functions import events as ev_mod

    ev = g.spark.range(1000).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 60).alias("ts"),
        (F.col("id") % 3).cast("string").alias("event_type"),
        F.lit(1.0).alias("value"),
    )
    return ev_mod.window_agg_sliding(ev, length_minutes=180, slide_minutes=60)


def _ivf_indexed_probe(emb):
    import tempfile

    path = tempfile.mkdtemp(prefix="audit_ivf_")
    similarity.save_ivf_index(emb, path)
    qvec = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    return similarity.ann_topk_ivf_indexed(emb.sparkSession, path, qvec, k=10, nprobe=2)


def _ivf_int8_indexed_probe(emb):
    import tempfile

    path = tempfile.mkdtemp(prefix="audit_ivf8_")
    similarity.save_ivf_index(emb, path, quantize=True)
    qvec = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    return similarity.ann_topk_ivf_int8_indexed(
        emb.sparkSession, path, qvec, k=10, nprobe=2
    )


def _search():
    from graphchidb_scala_spark.functions import search

    return search


def _funnel_plan(g):
    from graphchidb_scala_spark.functions import events as ev

    df = g.spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "view")],
        "user_id bigint, ts string, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return ev.funnel(df, ["view", "click", "purchase"])


def _postings_probe(docs):
    import tempfile

    path = tempfile.mkdtemp(prefix="audit_postings_")
    _search().save_postings_index(docs, path, n_buckets=16)
    return _search().tfidf_search_indexed(docs.sparkSession, path, ("spark", "merge"), k=20)


def _phrase_probe(docs):
    import tempfile

    path = tempfile.mkdtemp(prefix="audit_phrase_")
    _search().save_postings_index(docs, path, n_buckets=16)
    return _search().phrase_search_indexed(
        docs.sparkSession, path, ("table", "hash"), k=10
    )


def _near_probe(docs):
    import tempfile

    path = tempfile.mkdtemp(prefix="audit_near_")
    _search().save_postings_index(docs, path, n_buckets=16)
    return _search().proximity_search_indexed(
        docs.sparkSession, path, "table", "hash", slop=3, k=10
    )


def _node2vec_hop(g):
    # one production hop with a non-null prev frontier (step ≥ 2 shape, the
    # arm where the triangle probe join actually fires)
    spark = g.spark
    e = g._typed(0).select("src", "dst")
    und = e.select(
        F.least("src", "dst").alias("ux"), F.greatest("src", "dst").alias("uy")
    ).distinct()
    cur = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2)], "walk_id bigint, id bigint, prev bigint"
    )
    return gq.node2vec_step(e, und, cur, step=2, p=2.0, q=0.5)


def _first_superstep(run):
    """The uncut first round a pregel loop builds through its superstep
    core: ``run()`` runs the loop while the core records its rounds."""
    real, rounds = pregel._superstep, []

    def spy(*args, **kwargs):
        rounds.append(real(*args, **kwargs))
        return rounds[-1]

    pregel._superstep = spy
    try:
        run()
    finally:
        pregel._superstep = real
    return rounds[0]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    g = tpch_graph(spark, sf_dir)
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]

    out = ["# PLANS — physical-plan audit (generated by tools/explain_audit.py)\n"]
    failures = []
    for name, (build, expect) in CHECKS.items():
        df = build(g, docs, emb)
        plan = plan_of(df)
        # "X" = must appear; "!X" = must NOT appear
        missing = [
            e
            for e in expect
            if ((e[1:] in plan) if e.startswith("!") else (e not in plan))
        ]
        status = "OK" if not missing else f"MISSING {missing}"
        print(f"{status:24s} {name}")
        if missing:
            failures.append((name, missing))
        out.append(f"\n## {name}  [{status}]\n\n```\n{plan}\n```\n")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.writelines(out)
    print(f"\nwrote PLANS.md; {len(failures)} check(s) failed")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
