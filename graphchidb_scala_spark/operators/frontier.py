"""Frontier — Ligra-style traversal layer (reference: VertexFrontier.scala,
FrontierQueries.scala), re-expressed as a thin wrapper over a one-column
DataFrame of vertex ids.

The reference keeps two physical representations (sparse hash set vs dense
bitset, VertexFrontier.scala:160-201 / 75-157) and a direction-optimizing
``step`` that switches between indexed top-down traversal and a full
bottom-up sweep at a 100k threshold (FrontierQueries.scala:45-65). In Spark
the representation is uniformly a DataFrame; the sparse/dense switch maps to
the broadcast-vs-shuffle join decision. Catalyst makes that decision from
statistics, but statistics are unavailable mid-traversal, so — like the
reference — we track the frontier's (materialized) size and apply an explicit
``broadcast()`` hint below a threshold. That is the whole direction
optimization: a broadcast hash join of a small frontier IS top-down (each
executor probes its local edge partitions with the frontier in memory), and a
shuffle join of a huge frontier IS the bottom-up sweep (every edge is
scanned once and tested against the frontier).

Every multi-hop traversal runs on ONE level-synchronous hop loop,
:func:`hop_levels` — the reference's ``traverseOutUntil``, ``shortestPath``
and MultiBFS all sit on one frontier step, and so do
:meth:`Frontier.traverse_out_until`, ``graph_queries.bfs_levels``,
``multi_bfs_levels`` and ``shortest_path_length``. Dense fixpoints (weighted
SSSP, SCC colouring) are not frontier traversals; they run on
``pregel._run``.

At 100 TB: traversal hops are self-joins of the edge table; co-partitioning
(bucketed by src) keeps hop joins shuffle-free on one side; the frontier
re-uses the same hash partitioning across hops so only the *new* side moves.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from graphchidb_scala_spark.checkpoint import cut_lineage

from graphchidb_scala_spark.db import GraphDB
from graphchidb_scala_spark.session import local_table

#: Same spirit as the reference's sparse→dense switch (FrontierQueries.scala:59).
BROADCAST_THRESHOLD = 100_000


def _hinted(df: DataFrame, size: int | None) -> DataFrame:
    """``df`` broadcast-hinted when its known ``size`` is below
    :data:`BROADCAST_THRESHOLD`."""
    return F.broadcast(df) if size is not None and size < BROADCAST_THRESHOLD else df


def hop_levels(
    edges: DataFrame,
    level0: DataFrame,
    size: int,
    max_hops: int,
    keys: Sequence[str] = ("id",),
    hit: Column | DataFrame | None = None,
) -> tuple[list[DataFrame], bool]:
    """The hop loop of the BFS family. ``level0`` is a cut or local,
    distinct DF(*keys, level) of ``size`` rows at ``level`` 0; ``keys`` ends
    in ``id`` and any key before it (a BFS's ``seed``) rides along. Each hop
    joins the frontier to ``edges`` on ``src = id`` and keeps the distinct
    ``(keys…, id = dst, level + 1)`` rows not yet visited. The frontier and
    the visited set are broadcast-hinted below :data:`BROADCAST_THRESHOLD`
    from their counted sizes, so the join strategies, and with them the
    generated code, stay the same at every depth; the level is a column,
    not a per-hop literal, for the same reason. One cut per hop
    materializes the level and observes its size and ``hit``: a predicate
    on the level's rows, or a DF(id) the level meets, joined inside the
    cut.

    Returns ``[level0, level1, …]`` up to the last non-empty level and
    whether that level hit; the loop stops on an empty level, a hit or
    ``max_hops``."""
    keys, levels, seen = list(keys), [level0], size
    probe_hit = isinstance(hit, DataFrame)
    flag = F.col("_hit") if probe_hit else hit
    for _ in range(max_hops):
        nxt = (
            edges.join(_hinted(levels[-1], size).withColumnRenamed("id", "src"), "src")
            .select(*keys[:-1], F.col("dst").alias("id"), (F.col("level") + 1).alias("level"))
            .distinct()
            .join(_hinted(reduce(DataFrame.unionAll, levels), seen), keys, "left_anti")
        )
        if probe_hit:
            nxt = nxt.join(hit.withColumn("_hit", F.lit(True)), "id", "left")
        nxt, (size, *met) = cut_lineage(
            nxt, stats=[F.count(F.lit(1)), *([] if flag is None else [F.max(flag)])]
        )
        if size == 0:
            break
        seen += size
        levels.append(nxt.drop("_hit") if probe_hit else nxt)
        if any(met):
            return levels, True
    return levels, False


class Frontier:
    """An (optionally size-annotated) set of vertex ids under traversal."""

    def __init__(
        self,
        db: GraphDB,
        ids: DataFrame,
        size: int | None = None,
        assume_distinct: bool = False,
    ):
        """Set semantics are unconditional: the input is deduplicated no matter
        what the column is named (a caller passing a non-distinct ``id`` column
        must not silently get multiset algebra). Internal call sites that
        already produced a distinct set pass ``assume_distinct=True`` to skip
        the redundant shuffle."""
        self.db = db
        col0 = ids.columns[0]
        ids = ids.select(F.col(col0).alias("id")) if col0 != "id" else ids
        self.ids = ids if assume_distinct else ids.distinct()
        self.size = size  # None = unknown (not yet materialized)

    # ------------------------------------------------------------ constructors

    @classmethod
    def of(cls, db: GraphDB, vertices: Sequence[int]) -> "Frontier":
        """Singleton/literal frontier — reference ``queryVertex``
        (FrontierQueries.scala:41-43)."""
        uniq = sorted({int(v) for v in vertices})
        return cls(db, local_table(db.spark, "id bigint", uniq), size=len(uniq), assume_distinct=True)

    # ------------------------------------------------------------- materialize

    def materialize(self) -> "Frontier":
        """Pin the frontier and learn its size (drives the broadcast decision,
        and — like the reference's per-hop frontier arrays — cuts lineage so
        iterative traversals don't re-execute prior hops)."""
        ids, (size,) = cut_lineage(self.ids, stats=[F.count(F.lit(1))])
        return Frontier(self.db, ids, size=size, assume_distinct=True)

    def _hinted(self) -> DataFrame:
        return _hinted(self.ids, self.size)

    # -------------------------------------------------------------- traversal

    def traverse_out(
        self, etype: int | None = None, edge_filter: Column | None = None
    ) -> "Frontier":
        """Frontier → distinct out-neighbor frontier — reference
        ``traverseOut`` (FrontierQueries.scala:82-142). ``edge_filter`` is the
        per-edge lambda variant (may reference any edge column)."""
        e = self.db._typed(etype)
        if edge_filter is not None:
            e = e.filter(edge_filter)
        hop = e.join(self._hinted().withColumnRenamed("id", "src"), "src", "inner")
        return Frontier(self.db, hop.select(F.col("dst").alias("id")).distinct(), assume_distinct=True)

    def traverse_in(self, etype: int | None = None, edge_filter: Column | None = None) -> "Frontier":
        e = self.db._typed(etype)
        if edge_filter is not None:
            e = e.filter(edge_filter)
        hop = e.join(self._hinted().withColumnRenamed("id", "dst"), "dst", "inner")
        return Frontier(self.db, hop.select(F.col("src").alias("id")).distinct(), assume_distinct=True)

    def select_out(
        self,
        etype: int | None = None,
        condition: Column | None = None,
        exclude: "Frontier | None" = None,
    ) -> DataFrame:
        """Emit every out-neighbor (with dst-filter and exclusion set) grouped
        by dst with path counts — reference ``selectOut`` + ``GroupBy``
        receiver (FrontierQueries.scala:255-301). Returns DF(id, cnt)."""
        e = self.db._typed(etype)
        hop = e.join(self._hinted().withColumnRenamed("id", "src"), "src", "inner")
        if condition is not None:
            hop = hop.filter(condition)
        out = hop.select(F.col("dst").alias("id"))
        if exclude is not None:
            out = out.join(exclude._hinted(), "id", "left_anti")
        return out.groupBy("id").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))

    def traverse_out_until(
        self,
        target: int,
        etype: int | None = None,
        max_hops: int = 5,
    ) -> int | None:
        """Early-terminating traversal — reference ``traverseOutUntil``
        (FrontierQueries.scala:191-244): the hop at which ``target`` is first
        reached, or None. Spark can't abort a stage mid-scan
        (FinishQueryException semantics); parity is the per-hop found-check
        of :func:`hop_levels`. A target already in this frontier is never
        newly reached, so it gives None."""
        fr = self.materialize()
        level0 = fr.ids.withColumn("level", F.lit(0).cast("bigint"))
        levels, hit = hop_levels(
            self.db._typed(etype), level0, fr.size, max_hops, hit=F.col("id") == int(target)
        )
        return len(levels) - 1 if hit else None

    # -------------------------------------------------------------- set algebra

    def union(self, other: "Frontier") -> "Frontier":
        return Frontier(self.db, self.ids.unionAll(other.ids).distinct(), assume_distinct=True)

    def remove(self, other: "Frontier") -> "Frontier":
        """Difference — reference VertexFrontier.remove (VertexFrontier.scala:94-103)."""
        return Frontier(self.db, self.ids.join(other._hinted(), "id", "left_anti"), assume_distinct=True)

    def intersect(self, other: "Frontier") -> "Frontier":
        return Frontier(self.db, self.ids.join(other._hinted(), "id", "semi"), assume_distinct=True)

    def has_vertex(self, v: int) -> bool:
        return self.ids.filter(F.col("id") == int(v)).limit(1).count() > 0

    def has_any_vertex(self, other: "Frontier") -> bool:
        """Intersection probe — VertexFrontier.scala:105-125."""
        return self.ids.join(other._hinted(), "id", "semi").limit(1).count() > 0

    def is_empty(self) -> bool:
        return self.ids.limit(1).count() == 0

    def count(self) -> int:
        return self.ids.count()

    def limit(self, max_size: int, randomize: bool = False, seed: int = 42) -> "Frontier":
        """Frontier truncation / seeded random sample — VertexFrontier.scala:53-68.
        Randomized order uses a deterministic id hash, not rand(), so results
        are reproducible across runs and engines (FIXTURES.md determinism)."""
        ids = self.ids
        if randomize:
            mixed = F.pmod(F.col("id") * F.lit(1103515245) + F.lit(int(seed)), F.lit(2147483648))
            ids = ids.orderBy(mixed, "id")
        else:
            ids = ids.orderBy("id")
        return Frontier(self.db, ids.limit(int(max_size)), size=None, assume_distinct=True)
