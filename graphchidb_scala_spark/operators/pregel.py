"""Vertex-centric computation — the reference's GraphChi engine surface
(VertexCentricComputation.scala:37-54, runGraphChiComputation
GraphChiDatabase.scala:2125-2255) as Pregel-style DataFrame loops.

Every loop here runs on one superstep core, :func:`_run`, as the reference
runs every ``update`` plug-in through one engine loop. The edges are
partitioned by ``src`` and cut once. A round joins them to the state
(partitioned by ``id``), turns each edge into a message row, unions the rows
with a base table and folds them in ONE ``groupBy(keys).agg``: one shuffle
exchange per round, after the map-side partial aggregate.

Checkpoint cadence is a rule of the core: cut every 5 rounds and after the
last; cut every round when the loop probes convergence or when its base is
the state itself (uncut, that union reads the previous round twice and the
plan doubles per round). Cuts go through ``checkpoint.cut_lineage``, which
persists to the fault-tolerant FS once ``setCheckpointDir`` is set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphchidb_scala_spark.checkpoint import cut_lineage
from graphchidb_scala_spark.db import GraphDB


# ---------------------------------------------------------------- superstep core

def _superstep(edges, state, base, msg, update, keys=("id",), send=None, keep=None):
    """One round: ``edges ⋈ state`` on ``src = id`` (senders filtered by
    ``send``) gives a row ``id = dst, *msg`` per edge; the rows union
    ``base`` by name (missing columns NULL) and fold in one
    ``groupBy(keys).agg(*update)``, filtered by ``keep``. Lazy."""
    sent = edges.join(state.withColumnRenamed("id", "src"), "src")
    sent = sent if send is None else sent.filter(send)
    rows = sent.select(F.col("dst").alias("id"), *msg).unionByName(base, allowMissingColumns=True)
    out = rows.groupBy(*keys).agg(*update)
    return out if keep is None else out.filter(keep)


def _run(edges, state, rounds, msg, update, base=None, keys=("id",), send=None,
         keep=None, probe=None):
    """Up to ``rounds`` supersteps; ``base=None`` unions the state itself and
    ``probe(old, new)`` returning True stops the loop. Cadence as in the
    module docstring."""
    every = 1 if base is None or probe is not None else 5
    for i in range(1, rounds + 1):
        new = _superstep(edges, state, state if base is None else base, msg, update,
                         keys, send, keep)
        if i % every == 0 or i == rounds:
            new = cut_lineage(new)
        if probe is not None and probe(state, new):
            return new
        state = new
    return state


def _edges(df: DataFrame) -> DataFrame:
    return cut_lineage(df.repartition("src"))


def _state(df: DataFrame) -> DataFrame:
    return cut_lineage(df.repartition("id"))


def _on_vertices(db, edges, start, rounds, msg, update, zero_base=True, probe=None):
    """:func:`_run` from ``start(vertex ids)``, base a zero message ``c`` per
    vertex (or the state). The zero rows keep vertices without in-edges in
    the state; they fold in the map-side partial aggregate and add exactly
    0.0. Edge endpoints outside the vertex table relay values mid-run, but
    one final semi-join drops them from the output."""
    vstatic = _state(db.vertices.select("id"))
    base = vstatic.select("id", F.lit(0.0).alias("c")) if zero_base else None
    out = _run(edges, start(vstatic), rounds, msg, update, base=base, probe=probe)
    return out.join(vstatic, "id", "semi")


def _state_row_aggs(msg: str, combiner):
    """``state ⟕ messages`` as aggregates over state rows (``_t = 1``)
    unioned with message rows (``_t = 0``): the state row's old ``val``, the
    combined message (NULL when none arrived) and ``_t``, which stays 1 only
    for ids with a state row (``keep`` drops the rest)."""
    combined = F.when(F.min("_t") == 0, combiner(F.col(msg)))
    return F.max_by("val", "_t"), combined, F.max("_t").alias("_t")


def _out_weighted(e: DataFrame, norm) -> DataFrame:
    """Edges with their source's out-weight ``norm`` (count or weight sum) —
    the reference's degree column (GraphChiDatabase.scala:1777-1833)."""
    return _edges(e.join(e.groupBy("src").agg(norm.alias("norm")), "src"))


# --------------------------------------------------------------------- PageRank

def pagerank(
    db: GraphDB,
    iterations: int = 10,
    damping: float = 0.85,
    etype: int | None = None,
    tol: float | None = None,
    initial: DataFrame | None = None,
) -> DataFrame:
    """PageRank, non-normalized accumulator formulation of the reference
    (Pagerank.scala:34-61): rank = 0.15 + 0.85 * Σ_in rank(u)/outdeg(u),
    rank0 = 1.0 over all vertices. Fixed ``iterations`` (set ``tol`` for
    convergence-stop instead). Returns DF(id, rank) over the vertex table.

    ``initial`` DF(id, rank) warm-starts from previous ranks (SURVEY §2.12:
    recompute after online appends without starting over); new vertices
    enter at 1.0. Same fixpoint, reached in fewer iterations."""
    def start(vstatic: DataFrame) -> DataFrame:
        if initial is None:
            return vstatic.withColumn("rank", F.lit(1.0))
        return cut_lineage(
            vstatic.join(initial.select("id", "rank"), "id", "left")
            .select("id", F.coalesce("rank", F.lit(1.0)).alias("rank"))
        )

    def converged(old: DataFrame, new: DataFrame) -> bool:
        both = new.join(old.withColumnRenamed("rank", "old"), "id")
        delta = both.agg(F.max(F.abs(both["rank"] - both["old"]))).first()[0]
        return delta is not None and delta < tol

    return _on_vertices(
        db, _out_weighted(db._typed(etype).select("src", "dst"), F.count(F.lit(1))),
        start, iterations,
        msg=[(F.col("rank") / F.col("norm")).alias("c")],
        update=[(F.lit(1.0 - damping) + F.lit(damping) * F.sum("c")).alias("rank")],
        probe=None if tol is None else converged,
    )


def personalized_pagerank(
    db: GraphDB,
    source: int,
    iterations: int = 10,
    damping: float = 0.85,
    etype: int | None = None,
) -> DataFrame:
    """Personalized PageRank: the reset mass returns to ``source`` instead
    of spreading uniformly — rank = (1−d)·[id = source] + d·Σ_in rank/outdeg,
    rank0 = [id = source]: the walk-based relevance-to-a-seed score behind
    recommend-from-here queries. Returns DF(id, rank); vertices outside the
    seed's reachable set decay to ~0."""
    is_src = F.when(F.col("id") == int(source), F.lit(1.0)).otherwise(F.lit(0.0))
    return _on_vertices(
        db, _out_weighted(db._typed(etype).select("src", "dst"), F.count(F.lit(1))),
        lambda v: v.withColumn("rank", is_src), iterations,
        msg=[(F.col("rank") / F.col("norm")).alias("c")],
        update=[(F.lit(1.0 - damping) * is_src + F.lit(damping) * F.sum("c")).alias("rank")],
    )


def personalized_pagerank_multi(
    db: GraphDB,
    sources,
    iterations: int = 3,
    damping: float = 0.85,
    etype: int | None = None,
) -> DataFrame:
    """Personalized PageRank for MANY seeds at once: DF(seed, id, rank), the
    PPR analogue of multi-BFS (MultiBFS.scala:51). All seeds advance in ONE
    edge join per iteration. Sparse state: a (seed, vertex) row exists only
    if it carries mass, so state is Σ|reachable≤k|, not |seeds|·|V|; the
    values equal :func:`personalized_pagerank` over the reachable set."""
    seeds = _state(
        db.spark.createDataFrame([(int(s),) for s in sources], "seed bigint")
        .select("seed", F.col("seed").alias("id"))
    )
    return _run(
        _out_weighted(db._typed(etype).select("src", "dst"), F.count(F.lit(1))),
        seeds.withColumn("rank", F.lit(1.0)), iterations,
        msg=["seed", (F.lit(damping) * F.col("rank") / F.col("norm")).alias("c")],
        update=[F.sum("c").alias("rank")],
        base=seeds.withColumn("c", F.lit(1.0 - damping)),
        keys=("seed", "id"),
    )


def pagerank_weighted(
    db: GraphDB,
    iterations: int = 10,
    damping: float = 0.85,
    etype: int | None = None,
    weight_col: str = "weight",
) -> DataFrame:
    """Edge-value-weighted PageRank: rank = 0.15 + 0.85 · Σ_in rank(u) ·
    w(u→v)/W_out(u) — the GraphChi-idiomatic variant where the propagated
    mass follows the edge VALUE column, not the uniform 1/outdeg
    (Pagerank.scala:34-61 reads edge values through the same update).
    DF(id, rank).

    NULL/zero-weight edges are dropped up front (they carry no mass;
    keeping them would divide by their W_out share of 0)."""
    e = db._typed(etype).select(
        "src", "dst", F.col(weight_col).cast("double").alias("w")
    ).filter(F.col("w").isNotNull() & (F.col("w") != 0.0))
    return _on_vertices(
        db, _out_weighted(e, F.sum("w")),
        lambda v: v.withColumn("rank", F.lit(1.0)), iterations,
        msg=[(F.col("rank") * F.col("w") / F.col("norm")).alias("c")],
        update=[(F.lit(1.0 - damping) + F.lit(damping) * F.sum("c")).alias("rank")],
    )


def katz_centrality(
    db: GraphDB,
    iterations: int = 5,
    alpha: float = 0.1,
    etype: int | None = None,
) -> DataFrame:
    """Katz centrality, truncated series: after T iterations
    x(v) = Σ_{k=1..T} α^k · (#paths of length k ending at v) — attenuated
    path-count influence, the centrality that sees beyond direct in-degree
    without PageRank's degree normalization. Iteration:
    x ← α · Σ_{u→v} (x(u) + 1), x₀ = 0. DF(id, katz). Any α works for a
    truncated run; the untruncated series needs α < 1/λ_max."""
    return _on_vertices(
        db, _edges(db._typed(etype).select("src", "dst")),
        lambda v: v.withColumn("katz", F.lit(0.0)), iterations,
        msg=[(F.col("katz") + F.lit(1.0)).alias("c")],
        update=[(F.lit(alpha) * F.sum("c")).alias("katz")],
    )


def dag_layers(
    db: GraphDB,
    iterations: int,
    etype: int | None = None,
) -> DataFrame:
    """Topological layering of a DAG: layer(v) = length of the longest path
    ending at v (sources at 0) — the dependency-depth / scheduling-level
    query (Kahn's algorithm's level sets, computed by fixpoint instead of
    queue). DF(id, layer). Converges in longest-path-length rounds (3 on
    the layered c→o→p→s graph); on a graph WITH cycles it returns the
    capped partial layering, where vertices on or below a cycle keep rising."""
    return _on_vertices(
        db, _edges(db._typed(etype).select("src", "dst")),
        lambda v: v.withColumn("layer", F.lit(0).cast("bigint")), iterations,
        msg=[(F.col("layer") + F.lit(1)).alias("layer")],
        update=[F.max("layer").alias("layer")],
        zero_base=False,
    )


# ---------------------------------------------------------- connected components

def connected_components_star(
    db: GraphDB,
    etype: int | None = None,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star / small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond") — the
    O(log n)-round formulation that replaces O(diameter)-round label
    propagation at scale. Produces the same result as converged min-label
    propagation: cc = min vertex id of the component. Returns DF(id, cc).

    Per round: two groupBy+join+distinct passes over the (shrinking) edge
    set. The loop stops in the round whose edge set is a star forest, the
    fixpoint, which one per-vertex aggregate over the already-checkpointed
    set detects: no extra round runs just to see the set unchanged."""
    # build the symmetric closure from canonical (min, max) pairs: the
    # distinct then runs over half the rows undirected_edges would feed it,
    # and the swap union after it is shuffle-free
    e0 = db._typed(etype)
    canon = (
        e0.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    L = cut_lineage(canon.unionAll(canon.select(F.col("b").alias("a"), F.col("a").alias("b"))))
    for _ in range(max_iterations):
        # large-star: attach strictly-larger neighbors of u to m(u) = min(N(u) ∪ {u})
        m = L.groupBy("a").agg(F.min("b").alias("_mn")).select(
            "a", F.least(F.col("_mn"), F.col("a")).alias("m")
        )
        # no distinct here: duplicate (b, m) pairs are absorbed by the
        # min-aggregation in m2 and the final distinct on small — skipping
        # the dedupe drops a full shuffle of the round's largest set
        # (measured ~13% per-run win at sf0.1, identical round count)
        large = (
            L.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
        )
        # small-star input: orient so a = max endpoint
        o = large.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        m2 = o.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            o.join(m2, "a")
            .select(F.col("b").alias("v"), F.col("m"))
            .unionAll(m2.select(F.col("a").alias("v"), F.col("m")))
            .filter(F.col("v") != F.col("m"))
            .distinct()
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        # re-symmetrize for the next large-star
        L = cut_lineage(
            small.select("a", "b").unionAll(small.select(F.col("b"), F.col("a")))
        )
        # converged once L is a star forest centered on component minima
        # (the next round would reproduce it): L has no duplicate rows, so
        # that holds iff no vertex with a smaller neighbor has another one
        bad = (
            L.groupBy("a")
            .agg(F.count(F.lit(1)).alias("_d"), F.min("b").alias("_mn"))
            .filter((F.col("_d") > 1) & (F.col("_mn") < F.col("a")))
        )
        if bad.isEmpty():
            break
    # at convergence L holds symmetric star edges (v ↔ center); center = min
    stars = L.groupBy(F.col("a").alias("id")).agg(F.min("b").alias("c"))
    return (
        db.vertices.select("id")
        .join(stars, "id", "left")
        .select("id", F.least(F.coalesce(F.col("c"), F.col("id")), F.col("id")).alias("cc"))
    )


def connected_components(
    db: GraphDB,
    etype: int | None = None,
    max_iterations: int = 50,
    fixed_iterations: int | None = None,
) -> DataFrame:
    """Min-label propagation over the undirected graph — reference
    ConnectedComponentsLabelProp.scala:38-85 (label init = own id; iterate
    lbl(v) = min(lbl(v), min_{u~v} lbl(u))). With ``fixed_iterations`` runs
    exactly that many rounds (deterministic partial result, used for oracle
    parity); otherwise runs to fixpoint with an early-stop changed-count check
    (the Scheduler's "no new tasks" break, GraphChiDatabase.scala:2247-2252).
    Returns DF(id, cc).

    Label-prop needs O(diameter) rounds, so the fixpoint mode delegates to
    :func:`connected_components_star` (O(log n) rounds, same result)."""
    if fixed_iterations is None:
        return connected_components_star(db, etype, max_iterations)
    und = db.undirected_edges(etype).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    labels = _on_vertices(
        db, _edges(und), lambda v: v.withColumn("lbl", F.col("id")), fixed_iterations,
        msg=["lbl"],
        update=[F.min("lbl").alias("lbl")],
        zero_base=False,
    )
    return labels.select("id", F.col("lbl").alias("cc"))


def cc_stats(cc: DataFrame, k: int = 20) -> DataFrame:
    """Component size top-k — reference ``printStats``
    (ConnectedComponentsLabelProp.scala:66-84). Returns DF(cc, size)."""
    return (
        cc.groupBy("cc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("size"))
        .orderBy(F.desc("size"), F.asc("cc"))
        .limit(k)
    )


# ------------------------------------------------------ generic vertex program

def run_vertex_program(
    db: GraphDB,
    initial: DataFrame,
    msg_fn,
    agg_fn,
    combine_fn,
    max_iterations: int = 30,
    etype: int | None = None,
    initial_active: DataFrame | None = None,
) -> DataFrame:
    """Generic vertex-centric computation with selective scheduling — the
    reference's ``VertexCentricComputation.update`` plug-in point
    (VertexCentricComputation.scala:37-54) plus ``BitSetScheduler`` semantics
    (Scheduler.scala:31-83: only vertices whose value changed send messages
    next round; terminate when no vertex changed).

    - ``initial``: DF(id, val) starting state (val may be NULL = unset)
    - ``msg_fn(src_val) -> Column``: message each out-edge carries
    - ``agg_fn``: message combiner (F.min / F.max / F.sum / ...; it must
      skip NULLs, as every Spark aggregate but ``first``/``last`` does)
    - ``combine_fn(old_val, msg) -> Column``: vertex update rule (``msg`` is
      NULL for a vertex that received no message)
    - ``initial_active``: DF(id) of initially-scheduled vertices (default all)

    An active-flag state column gates the senders like the reference's
    bitset (GraphChiDatabase.scala:2131-2252); recipients absent from
    ``initial`` are dropped. Returns DF(id, val)."""
    active = (initial if initial_active is None else initial_active).select("id").distinct()
    state = initial.select("id", "val").join(active.withColumn("act", F.lit(True)), "id", "left")
    old, m, tag = _state_row_aggs("m", agg_fn)
    new = combine_fn(old, m)
    state = _run(
        _edges(db._typed(etype).select("src", "dst")),
        _state(state.fillna(False, ["act"]).withColumn("_t", F.lit(1))),
        max_iterations,
        msg=[msg_fn(F.col("val")).alias("m"), F.lit(0).alias("_t")],
        update=[new.alias("val"), (~new.eqNullSafe(old)).alias("act"), tag],
        send=F.col("act"),
        keep=F.col("_t") == 1,
        probe=lambda _, s: s.filter("act").limit(1).count() == 0,
    )
    return state.select("id", "val")


def gather_apply(
    db: GraphDB,
    initial: DataFrame,
    gather_fn,
    sum_fn,
    apply_fn,
    iterations: int = 1,
    etype: int | None = None,
) -> DataFrame:
    """Gather-Sum-Apply — the reference's second compute abstraction
    (compute/GatherApplyComputation.scala: ``gather`` over in-edges, a
    commutative ``sum``, ``apply`` at the vertex).

    - ``initial``: DF(id, val)
    - ``gather_fn(src_val) -> Column``: per-in-edge gathered value; the
      expression may also reference edge property columns (e.g.
      ``F.col("weight")``) — they are in scope at the gather join.
    - ``sum_fn``: the gather combiner (F.sum / F.min / ...; it must skip
      NULLs, as every Spark aggregate but ``first``/``last`` does)
    - ``apply_fn(old_val, acc) -> Column``: vertex update (``acc`` is NULL
      for vertices that gathered nothing).

    Vertices absent from ``initial`` never gain rows. Returns DF(id, val)."""
    old, acc, tag = _state_row_aggs("g", sum_fn)
    state = _run(
        _edges(db._typed(etype)),
        _state(initial.select("id", "val").withColumn("_t", F.lit(1))),
        iterations,
        msg=[gather_fn(F.col("val")).alias("g"), F.lit(0).alias("_t")],
        update=[apply_fn(old, acc).alias("val"), tag],
        keep=F.col("_t") == 1,
    )
    return state.select("id", "val")


def bfs_via_vertex_program(
    db: GraphDB, source: int, max_depth: int, etype: int | None = None
) -> DataFrame:
    """BFS expressed on the generic vertex program (parity demonstration of
    the reference's MultiBFS-as-computation form, MultiBFS.scala:37-157).
    Returns DF(id, level) for reached vertices."""
    init = db.vertices.select(
        "id",
        F.when(F.col("id") == int(source), F.lit(0).cast("bigint")).alias("val"),
    )
    src_only = db.spark.createDataFrame([(int(source),)], "id bigint")
    out = run_vertex_program(
        db,
        init,
        msg_fn=lambda sv: sv + F.lit(1),
        agg_fn=F.min,
        combine_fn=lambda old, m: F.least(old, m),
        max_iterations=max_depth,
        etype=etype,
        initial_active=src_only,
    )
    return out.filter(F.col("val").isNotNull()).select("id", F.col("val").alias("level"))


# ------------------------------------------------------------- label propagation

def propagate_labels(
    db: GraphDB,
    initial: DataFrame,
    iterations: int,
    etype: int | None = None,
    agg: str = "min",
    restrict_to_initial: bool = False,
) -> DataFrame:
    """Generic directed label propagation (building block mirroring the
    reference's update-function plug-in point,
    VertexCentricComputation.scala:37-54): state DF(id, lbl) evolves by
    lbl(v) ← agg(lbl(v), agg_{u→v} lbl(u)); the own label is one more message.

    The state GROWS to message recipients: a vertex absent from ``initial``
    that receives a label holds and forwards it (the graph defines the
    universe). The OUTPUT keeps only ``db.vertices`` ids, so endpoints
    outside an explicit vertices table relay labels but gain no rows;
    ``restrict_to_initial=True`` also keeps only the initial ids."""
    agg_fn = {"min": F.min, "max": F.max, "sum": F.sum}[agg]
    init = _state(initial.select("id", "lbl"))
    labels = _on_vertices(
        db, _edges(db._typed(etype).select("src", "dst")), lambda _: init, iterations,
        msg=["lbl"],
        update=[agg_fn("lbl").alias("lbl")],
        zero_base=False,
    )
    return labels.join(init, "id", "semi") if restrict_to_initial else labels
