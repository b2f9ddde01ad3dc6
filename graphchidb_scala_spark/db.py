"""GraphDB — the engine's core: a typed directed property multigraph.

Capability parity with the reference's ``GraphChiDatabase``
(GraphChiDatabase.scala) re-expressed as two DataFrames:

- ``edges``:   ``etype int, src bigint, dst bigint, *edge property columns``.
  The uniqueness key is exactly ``(etype, src, dst)`` — the reference's
  find/update/delete all key on this triple (QueryShard.java:207,
  GraphChiDatabase.scala:1234, 1273).
- ``vertices``: ``id bigint, *vertex property columns`` (optional; derivable
  from edge endpoints). The reference's vertices are implicit in the id space
  (GraphChiDatabase.scala:56-58); we allow an explicit table because property
  columns (Column.scala:40-80) hang off it.

Edge types are 0..14 — the reference packs the type into 4 bits and reserves
0xf as the DELETED tombstone (VertexIdTranslate.java:148-169,
GraphChiDatabase.scala:1115-1117). We validate the range for parity but have
no tombstones: deletes are real anti-join deletes.

Scale notes
-----------
Every method returns a *lazy* DataFrame plan; Catalyst pushes the
``etype/src/dst`` filters into the parquet scan (min/max + dictionary row-group
pruning replaces the reference's shard skip-indexes, SURVEY.md §4). Point
lookups on a 100 TB edge table should additionally rely on the layout produced
by :mod:`graphchidb_scala_spark.streaming.ingest` (sorted-within-partition by
``src`` → parquet row-group stats prune on src). Mutations are rewrites of the
lazy plan — at scale they are batched and materialized by compaction, not
applied per edge (SURVEY.md §7.4 "Mutation semantics").
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from graphchidb_scala_spark.session import local_table

#: 4-bit edge types; 0xf reserved as tombstone in the reference
#: (VertexIdTranslate.java:152) — never user-visible here.
MAX_EDGE_TYPE = 14

EDGE_KEY = ("etype", "src", "dst")


def _check_etype(etype: int | None) -> None:
    if etype is not None and not (0 <= int(etype) <= MAX_EDGE_TYPE):
        raise ValueError(
            f"edge type must be in [0, {MAX_EDGE_TYPE}] (4-bit types, 0xf reserved); got {etype}"
        )


class GraphDB:
    """A property graph over two DataFrames. All operations are lazy plans."""

    def __init__(self, edges: DataFrame, vertices: DataFrame | None = None):
        for c in EDGE_KEY:
            if c not in edges.columns:
                raise ValueError(f"edges DataFrame must have column '{c}'; has {edges.columns}")
        if vertices is not None and "id" not in vertices.columns:
            raise ValueError("vertices DataFrame must have column 'id'")
        self.edges = edges
        self._vertices = vertices

    # ------------------------------------------------------------------ basics

    @property
    def spark(self) -> SparkSession:
        return self.edges.sparkSession

    @property
    def edge_props(self) -> list[str]:
        return [c for c in self.edges.columns if c not in EDGE_KEY]

    @property
    def vertices(self) -> DataFrame:
        """Vertex table; derived from edge endpoints when not supplied
        (vertices are implicit in the reference too, GraphChiDatabase.scala:56-58)."""
        if self._vertices is not None:
            return self._vertices
        return (
            self.edges.select(F.col("src").alias("id"))
            .unionAll(self.edges.select(F.col("dst").alias("id")))
            .distinct()
        )

    def _typed(self, etype: int | None) -> DataFrame:
        """Edge-type filter; ``None`` is the reference's ignoreType wildcard
        (QueryShard.java:322,402)."""
        _check_etype(etype)
        return self.edges if etype is None else self.edges.filter(F.col("etype") == int(etype))

    def with_vertices(self, vertices: DataFrame) -> "GraphDB":
        return GraphDB(self.edges, vertices)

    def as_of(self, cutoff, ts_col: str = "ts") -> "GraphDB":
        """Time-travel snapshot: the graph restricted to edges with
        ``ts_col <= cutoff`` — the query-side counterpart of the durable
        edge log (reference analogue: the transaction-log replay point,
        GraphChiDatabase.scala durable-buffer flush). Every query method
        works unchanged on the snapshot; the filter is a plain pushed
        predicate, so at 100 TB a ts-partitioned layout turns this into
        partition pruning rather than a scan."""
        return GraphDB(self.edges.filter(F.col(ts_col) <= cutoff), self._vertices)

    # ------------------------------------------------- neighborhood queries (§2.4)

    def query_out(self, vertex: int, etype: int | None = None) -> DataFrame:
        """All out-edges of one vertex — reference ``queryOut``
        (GraphChiDatabase.scala:1478-1556). The buffer+shard probe machinery
        collapses to a pushed-down filter on (src, etype)."""
        return self._typed(etype).filter(F.col("src") == int(vertex))

    def query_in(self, vertex: int, etype: int | None = None) -> DataFrame:
        """All in-edges of one vertex — reference ``queryIn``
        (GraphChiDatabase.scala:1425-1475); the in-edge linked-list walk
        (QueryShard.java:662-812) is a filter on (dst, etype)."""
        return self._typed(etype).filter(F.col("dst") == int(vertex))

    def query_out_multiple(
        self, vertices: Sequence[int] | DataFrame, etype: int | None = None,
        broadcast_frontier: bool = True,
    ) -> DataFrame:
        """Batched out-neighbors — reference ``queryOutMultiple``
        (GraphChiDatabase.scala:1561-1695). Small id sets become an IN-list
        (pushed to the scan); DataFrame frontiers become a (broadcast) semi
        pattern: join keeps the edge row per frontier hit."""
        e = self._typed(etype)
        if isinstance(vertices, DataFrame):
            fr = vertices.select(F.col(vertices.columns[0]).alias("src"))
            if broadcast_frontier:
                fr = F.broadcast(fr)
            return e.join(fr, "src", "inner")
        ids = [int(v) for v in vertices]
        return e.filter(F.col("src").isin(ids))

    def query_in_multiple(
        self, vertices: Sequence[int] | DataFrame, etype: int | None = None,
        broadcast_frontier: bool = True,
    ) -> DataFrame:
        e = self._typed(etype)
        if isinstance(vertices, DataFrame):
            fr = vertices.select(F.col(vertices.columns[0]).alias("dst"))
            if broadcast_frontier:
                fr = F.broadcast(fr)
            return e.join(fr, "dst", "inner")
        ids = [int(v) for v in vertices]
        return e.filter(F.col("dst").isin(ids))

    def join_vertex_columns(
        self, result: DataFrame, columns: Sequence[str], on: str = "dst"
    ) -> DataFrame:
        """Neighbor set ⋈ vertex property columns — reference
        ``QueryResult.join(column[, column2])`` (QueryResult.scala:44-69).
        Catalyst picks broadcast vs shuffle; property fetch by pointer becomes
        an equi-join on id."""
        v = self.vertices.select("id", *columns)
        return result.join(v, result[on] == v["id"], "left").drop("id")

    # -------------------------------------------------------- point ops (§2.2)

    def find_edge(self, etype: int, src: int, dst: int) -> DataFrame:
        """Point edge lookup — reference ``find`` (QueryShard.java:207-253).
        All three key predicates push down to the scan."""
        _check_etype(etype)
        return self.edges.filter(
            (F.col("etype") == int(etype)) & (F.col("src") == int(src)) & (F.col("dst") == int(dst))
        )

    def edge_exists(self, etype: int, src: int, dst: int) -> bool:
        return bool(self.find_edge(etype, src, dst).limit(1).count() > 0)

    def get_edge_value(self, etype: int, src: int, dst: int, column: str) -> DataFrame:
        """Single-edge property read — reference ``getEdgeValue``
        (GraphChiDatabase.scala:1385-1399)."""
        return self.find_edge(etype, src, dst).select(column)

    def get_edge_values(
        self,
        keys: DataFrame | Sequence[tuple[int, int, int]],
        columns: Sequence[str],
    ) -> DataFrame:
        """Batch edge-property lookup for a set of (etype, src, dst) keys —
        reference ``edgeColumnValues`` (GraphChiDatabase.scala:1409-1422),
        where the pointer set becomes a semi-join on the edge key. A local
        Python key list is known-tiny and broadcast-hinted; a DataFrame key
        set is arbitrary caller data, so the planner/AQE picks the strategy
        from its actual size (an unconditional hint would ship an unbounded
        set to every executor). Returns DF(etype, src, dst, *columns)."""
        e = self.edges.select("etype", "src", "dst", *columns)
        if isinstance(keys, DataFrame):
            k = keys.select("etype", "src", "dst")
        else:
            rows = [(int(t), int(s), int(d)) for t, s, d in keys]
            k = F.broadcast(local_table(self.spark, "etype int, src bigint, dst bigint", *zip(*rows)))
        return e.join(k, ["etype", "src", "dst"], "semi")

    def update_edge(self, etype: int, src: int, dst: int, column: str, value) -> "GraphDB":
        """Set one property of one edge — reference ``updateEdge``
        (GraphChiDatabase.scala:1234-1265). Expressed as a conditional
        projection; at scale batch many updates and apply via
        :meth:`upsert_edges` (MERGE-style) instead of per-edge calls."""
        _check_etype(etype)
        key = (
            (F.col("etype") == int(etype)) & (F.col("src") == int(src)) & (F.col("dst") == int(dst))
        )
        new_edges = self.edges.withColumn(column, F.when(key, F.lit(value)).otherwise(F.col(column)))
        return GraphDB(new_edges, self._vertices)

    def delete_edge(self, etype: int, src: int, dst: int) -> "GraphDB":
        """Delete one edge — reference ``deleteEdge`` tombstones type→0xf
        (GraphChiDatabase.scala:1273-1303); we delete for real via a filter."""
        _check_etype(etype)
        keep = ~(
            (F.col("etype") == int(etype)) & (F.col("src") == int(src)) & (F.col("dst") == int(dst))
        )
        return GraphDB(self.edges.filter(keep), self._vertices)

    def delete_edges(self, keys: DataFrame) -> "GraphDB":
        """Batch delete by key set — anti-join (the scale path for deletes).
        No broadcast hint: the key set is arbitrary caller data (a bulk GDPR
        delete can be billions of keys); planner/AQE broadcasts iff it fits."""
        keys = keys.select(*EDGE_KEY)
        return GraphDB(self.edges.join(keys, list(EDGE_KEY), "left_anti"), self._vertices)

    def delete_vertex(self, vertex: int) -> "GraphDB":
        """Delete all in+out edges of a vertex — reference ``deleteVertex``
        (GraphChiDatabase.scala:1307-1337)."""
        v = int(vertex)
        edges = self.edges.filter((F.col("src") != v) & (F.col("dst") != v))
        vertices = None
        if self._vertices is not None:
            vertices = self._vertices.filter(F.col("id") != v)
        return GraphDB(edges, vertices)

    # ------------------------------------------- vertex property columns (§2.2-2.3)

    def get_vertex_value(self, vertex: int, column: str) -> DataFrame:
        """Vertex property point read — reference
        ``getVertexColumnValueOrigId`` (GraphChiDatabase.scala:1342-1347) /
        ``Column.get`` (Column.scala:48-57)."""
        return self.vertices.filter(F.col("id") == int(vertex)).select(column)

    def set_vertex_value(self, vertex: int, column: str, value) -> "GraphDB":
        """Vertex property point write — reference
        ``setVertexColumnValueOrigId``; conditional projection, batched via
        :meth:`update_vertex_column` at scale."""
        v = self.vertices.withColumn(
            column, F.when(F.col("id") == int(vertex), F.lit(value)).otherwise(F.col(column))
        )
        return GraphDB(self.edges, v)

    def select_vertices(self, condition, columns: Sequence[str] = ()) -> DataFrame:
        """Filtered vertex-column scan — reference ``Column.select(cond)``
        (Column.scala:198-225): DF(id, *columns) for vertices passing the
        predicate; the filter pushes into the vertex scan."""
        cols = ["id", *columns] if columns else ["id", *[c for c in self.vertices.columns if c != "id"]]
        return self.vertices.filter(condition).select(*cols)

    def update_vertex_column(self, column: str, expr) -> "GraphDB":
        """Map over all values of a vertex column in place — reference
        ``Column.updateAll`` (Column.scala:187-190); one projection, no
        shuffle."""
        return GraphDB(self.edges, self.vertices.withColumn(column, expr))

    def get_vertex_values(self, vertex_ids: Sequence[int] | DataFrame, columns: Sequence[str]) -> DataFrame:
        """Batch vertex-property read — reference ``Column.getMany``
        (Column.scala:137-168): IN-list filter for small id sets, semi-join
        for DataFrame sets."""
        v = self.vertices.select("id", *columns)
        if isinstance(vertex_ids, DataFrame):
            # arbitrary caller set: no forced hint, planner/AQE sizes it
            ids = vertex_ids.select(F.col(vertex_ids.columns[0]).alias("id"))
            return v.join(ids, "id", "semi")
        return v.filter(F.col("id").isin([int(x) for x in vertex_ids]))

    # ------------------------------------------------------------ writes (§2.1)

    def add_edges(
        self,
        new_edges: DataFrame,
        upsert: bool = True,
        defaults: dict | None = None,
    ) -> "GraphDB":
        """Append a micro-batch of edges — reference ``addEdge``
        (GraphChiDatabase.scala:1112-1164). The buffer/LSM machinery
        (SURVEY.md §3.1) is replaced by union-at-read; durability comes from
        the compaction job in ``streaming.ingest``. ``upsert`` keeps the
        reference's (etype,src,dst) key discipline: a re-added key replaces
        the old edge.

        ``defaults`` maps column name → Column expression (may reference
        etype/src/dst and other edge columns): rows arriving with that column
        NULL (or missing entirely) get the computed value — the reference's
        ``autoFillEdge`` (Column.scala:77-78, GraphChiDatabase.scala:1107-1149).
        Pure projection over the (tiny) batch; the base is untouched."""
        if defaults:
            for col, expr in defaults.items():
                if col not in new_edges.columns:
                    new_edges = new_edges.withColumn(col, F.lit(None))
                new_edges = new_edges.withColumn(col, F.coalesce(F.col(col), expr))
        new_edges = new_edges.select(*self.edges.columns)
        base = self.edges
        if upsert:
            # the upsert key mask is the batch's key set — usually a micro-batch
            # but contractually arbitrary; no forced broadcast (AQE converts
            # the anti-join to broadcast at runtime when the batch is small)
            base = base.join(new_edges.select(*EDGE_KEY), list(EDGE_KEY), "left_anti")
        return GraphDB(base.unionAll(new_edges), self._vertices)

    def add_vertices(
        self,
        new_vertices: DataFrame,
        upsert: bool = True,
        defaults: dict | None = None,
    ) -> "GraphDB":
        """Append/upsert vertex rows, with ``autoFillVertex`` computed
        defaults (Column.scala:77-78; MovieDatabase.scala:76-77 derives the
        vertex type from the id range, ConnectedComponentsLabelProp.scala:43-44
        initializes labels from the id): for each ``defaults[col]`` expression,
        NULL/missing values in the incoming batch are filled with the computed
        Column (which may reference ``id`` and other vertex columns)."""
        cur = self.vertices
        if defaults:
            for col, expr in defaults.items():
                if col not in new_vertices.columns:
                    new_vertices = new_vertices.withColumn(col, F.lit(None))
                new_vertices = new_vertices.withColumn(
                    col, F.coalesce(F.col(col), expr)
                )
        for col, dtype in cur.dtypes:
            if col not in new_vertices.columns:
                new_vertices = new_vertices.withColumn(col, F.lit(None).cast(dtype))
        new_vertices = new_vertices.select(*cur.columns)
        base = cur
        if upsert:
            # same discipline as add_edges: no forced broadcast of caller data
            base = base.join(new_vertices.select("id"), ["id"], "left_anti")
        return GraphDB(self.edges, base.unionAll(new_vertices))

    def fill_vertex_column(self, column: str, expr) -> "GraphDB":
        """Fill unset (NULL) values of an existing vertex column with a
        computed expression — the read-side face of ``autoFillVertex``: one
        projection, no shuffle."""
        return GraphDB(
            self.edges,
            self.vertices.withColumn(column, F.coalesce(F.col(column), expr)),
        )

    # ------------------------------------------------------- aggregations (§2.6)

    def degrees(self, etype: int | None = None) -> DataFrame:
        """Per-vertex (in_deg, out_deg) — the reference maintains these
        incrementally in a packed long column (GraphChiDatabase.scala:1759-1833);
        we recompute with one map-side-combined shuffle."""
        e = self._typed(etype)
        ends = e.select(
            F.col("src").alias("id"), F.lit(0).alias("in_c"), F.lit(1).alias("out_c")
        ).unionAll(e.select(F.col("dst").alias("id"), F.lit(1), F.lit(0)))
        return ends.groupBy("id").agg(
            F.sum("in_c").cast("bigint").alias("in_deg"),
            F.sum("out_c").cast("bigint").alias("out_deg"),
        )

    def num_edges(self) -> int:
        return self.edges.count()

    def num_vertices(self) -> int:
        return self.vertices.count()

    # ------------------------------------------------------- persistence (§2.1)

    def save(self, path: str, num_buckets: int = 32) -> None:
        """Persist the graph — the reference's ``createDatabase`` + shard
        files (GraphChiDatabase.scala:56-80; FastSharder.java:55-198). Edges
        are written src-bucketed and (src, dst)-sorted so reloaded point
        queries prune row groups on parquet min/max, the role of the
        reference's shard pointer/skip indexes; vertices id-sorted likewise."""
        (
            self.edges.repartition(int(num_buckets), "src")
            .sortWithinPartitions("src", "dst")
            .write.mode("overwrite")
            .parquet(f"{path}/edges")
        )
        (
            self.vertices.repartition(max(int(num_buckets) // 4, 1), "id")
            .sortWithinPartitions("id")
            .write.mode("overwrite")
            .parquet(f"{path}/vertices")
        )

    @staticmethod
    def load(spark: SparkSession, path: str) -> "GraphDB":
        return GraphDB(
            spark.read.parquet(f"{path}/edges"),
            spark.read.parquet(f"{path}/vertices"),
        )

    # ----------------------------------------------------- subgraphs & misc (§2.8)

    def induced_subgraph(
        self, vertex_ids: Sequence[int] | DataFrame, etype: int | None = None,
        broadcast_set: bool | None = None,
    ) -> DataFrame:
        """Edges whose BOTH endpoints are in the vertex set — reference
        ``inducedSubgraph`` (Queries.scala:87-103) as a double semi-join.
        By default the vertex set is count-gated (one cheap count): small
        sets (ego-nets) get the broadcast hint, huge sets keep the shuffle
        path — an unconditional hint would force-broadcast an arbitrary
        caller set at 100 TB. Pass ``broadcast_set=True/False`` to override
        the gate in either direction."""
        e = self._typed(etype)
        if not isinstance(vertex_ids, DataFrame):
            ids = [int(v) for v in vertex_ids]
            return e.filter(F.col("src").isin(ids) & F.col("dst").isin(ids))
        vs = vertex_ids.select(F.col(vertex_ids.columns[0]).alias("id"))
        if broadcast_set is None:
            from graphchidb_scala_spark.functions.dedup import _broadcast_if_small_ids

            vs = _broadcast_if_small_ids(vs)
        elif broadcast_set:
            vs = F.broadcast(vs)
        return (
            e.join(vs.withColumnRenamed("id", "src"), "src", "semi")
            .join(vs.withColumnRenamed("id", "dst"), "dst", "semi")
            .select(e.columns)
        )

    def undirected_edges(self, etype: int | None = None) -> DataFrame:
        """Distinct symmetric closure (a, b) — building block for CC,
        FoF-undirected, triangles."""
        e = self._typed(etype)
        return (
            e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .unionAll(e.select(F.col("dst").alias("a"), F.col("src").alias("b")))
            .distinct()
        )

    def random_vertex(self, seed: int = 42) -> DataFrame:
        """Deterministic pseudo-random existing vertex — reference
        ``randomVertex`` (GraphChiDatabase.scala:1839-1852). Uses an explicit
        LCG mix so the choice is reproducible across engines (FIXTURES.md
        determinism rules): argmin of ``((id mod 2^31)*1103515245 + seed) mod
        2^31`` — the id is reduced mod 2^31 before the multiply so the mix
        can't overflow int64 however wide the vertex-id space (typed-vertex
        offsets are 1e12 apart)."""
        mixed = F.pmod(
            F.pmod(F.col("id"), F.lit(2147483648)) * F.lit(1103515245) + F.lit(int(seed)),
            F.lit(2147483648),
        )
        return (
            self.vertices.select("id")
            .withColumn("_mix", mixed)
            .orderBy("_mix", "id")
            .limit(1)
            .select("id")
        )


# ---------------------------------------------------------- categorical codes

def categorical_dictionary(
    df: DataFrame, col: str, max_cardinality: int = 65_536
) -> DataFrame:
    """Deterministic (value ↔ code) dictionary for a categorical column —
    parity helper for the reference's byte-coded categorical vertex columns
    (Column.scala:228-242 createCategoricalColumn: values indexed by their
    position in the category list; here the list is the sorted distinct
    value set, so code assignment is reproducible across runs and engines).
    Returns DF(value, code) with dense codes 0..K-1 in value sort order.

    Scale shape: one distinct (map-side combined) over the column, then a
    window over the DISTINCT SET only — categorical means K ≪ N, so the
    single-partition rank over K values is driver-trivial while the N-row
    encode stays a broadcast-joined projection. (Parquet already
    dictionary-codes string pages at rest — this helper exists for users
    porting explicit byte-coded columns, not for storage efficiency.)

    The K ≪ N contract is ENFORCED, not assumed: the distinct-set size is
    checked against ``max_cardinality`` (default 65,536 — comfortably past
    any byte-/short-coded categorical, far below where the unpartitioned
    rank window or the broadcast encode would hurt) and a ValueError names
    the column when exceeded — pointing a user at a free-text/id column
    fails fast instead of funnelling the distinct set through one task."""
    from pyspark.sql.window import Window

    distinct = (
        df.select(F.col(col).alias("value"))
        .where(F.col("value").isNotNull())
        .distinct()
    )
    k = distinct.limit(int(max_cardinality) + 1).count()
    if k > int(max_cardinality):
        raise ValueError(
            f"categorical_dictionary: column {col!r} has more than "
            f"{max_cardinality} distinct values — not categorical. The "
            "dictionary ranks the distinct set in a single-partition window "
            "and broadcasts it for encode; use a hash/surrogate key or raise "
            "max_cardinality explicitly if this is intended."
        )
    w = Window.orderBy("value")
    return distinct.select(
        "value", (F.row_number().over(w) - 1).cast("int").alias("code")
    )


def categorical_encode(
    df: DataFrame,
    col: str,
    dictionary: DataFrame | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Replace ``col``'s values with their dictionary codes (keeping every
    other column). With no dictionary supplied, builds one from the column
    itself. Values absent from a supplied dictionary encode as NULL (the
    unseen-category contract a train/serve split needs). One broadcast
    equi-join — the dictionary is K rows by definition."""
    out = out_col or f"{col}_code"
    d = dictionary if dictionary is not None else categorical_dictionary(df, col)
    mapping = F.broadcast(
        d.select(F.col("value").alias(col), F.col("code").alias(out))
    )
    return df.join(mapping, col, "left").drop(col)


def categorical_decode(
    df: DataFrame,
    code_col: str,
    dictionary: DataFrame,
    out_col: str,
) -> DataFrame:
    """Inverse of :func:`categorical_encode`: codes back to values via the
    same broadcast dictionary; unknown codes decode as NULL."""
    mapping = F.broadcast(
        dictionary.select(F.col("code").alias(code_col), F.col("value").alias(out_col))
    )
    return df.join(mapping, code_col, "left").drop(code_col)
