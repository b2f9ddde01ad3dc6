"""DuckDB oracles for the benchmark's output checks. They run after the
measured window and are never timed.

The graph view is the library's own oracle definition
(``sources.tpch.GRAPH_SQL_CTES``) over the generated parquet tables. The
online workload's expected state at any point is that base plus the
mutation log applied so far, newest write per key winning; the batch calls
are checked against unrolled SQL twins (PageRank, multi-BFS, random walks,
triangles) or an exact union-find (connected components).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd

from graphchidb_scala_spark.sources.tpch import GRAPH_SQL_CTES

TABLES = ("customer", "orders", "part", "supplier", "lineitem")
EDGE_COLS = ("etype", "src", "dst", "weight", "ts")


def open_graph(tables_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with the generated tables as views and the edge and
    vertex sets of the TPC-H graph view materialized as ``base``/``verts``."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(tables_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    con.execute(f"CREATE TABLE base AS WITH {GRAPH_SQL_CTES} SELECT etype, src, dst, weight, ts FROM edges")
    con.execute(f"CREATE TABLE verts AS WITH {GRAPH_SQL_CTES} SELECT id FROM vertices")
    return con


def base_keys(con) -> list[tuple[int, int, int]]:
    return [tuple(r) for r in con.execute("SELECT etype, src, dst FROM base ORDER BY ALL").fetchall()]


# ------------------------------------------------------------- online state

class MutationLog:
    """Every write the online workload applied, in order. ``seq`` is the
    number of writes applied so far; a read records the seq it ran at."""

    def __init__(self):
        self.seq = 0
        self._frames: list[pd.DataFrame] = []

    def add(self, rows: pd.DataFrame) -> None:
        self.seq += 1
        self._frames.append(rows.assign(seq=self.seq, deleted=False))

    def delete(self, keys: pd.DataFrame) -> None:
        self.seq += 1
        self._frames.append(keys.assign(seq=self.seq, deleted=True))

    def load(self, con) -> None:
        cols = ["seq", *EDGE_COLS, "deleted"]
        # tombstones carry no weight or ts: reindex leaves those null
        frame = (pd.concat(self._frames, ignore_index=True).reindex(columns=cols) if self._frames
                 else pd.DataFrame({c: [] for c in cols}))
        con.register("mlog_df", frame)
        con.execute(
            "CREATE OR REPLACE TABLE mlog AS SELECT CAST(seq AS BIGINT) AS seq, "
            "CAST(etype AS INT) AS etype, CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst, "
            "CAST(weight AS DOUBLE) AS weight, CAST(ts AS DATE) AS ts, CAST(deleted AS BOOLEAN) AS deleted "
            "FROM mlog_df"
        )
        con.unregister("mlog_df")


def materialize_state(con, upto: int) -> None:
    """Table ``st``: the edge set after the first ``upto`` logged writes."""
    con.execute(f"""
        CREATE OR REPLACE TABLE st AS
        WITH latest AS (
          SELECT * FROM mlog WHERE seq <= {int(upto)}
          QUALIFY row_number() OVER (PARTITION BY etype, src, dst ORDER BY seq DESC) = 1
        )
        SELECT b.* FROM base b ANTI JOIN latest l USING (etype, src, dst)
        UNION ALL
        SELECT etype, src, dst, weight, ts FROM latest WHERE NOT deleted
    """)


def expected_read(con, kind: str, args: dict):
    """Expected result of one online read against table ``st``, in the
    form ``workloads._rows`` gives the program's result (sorted tuples;
    friends-of-friends in its ranked order; a path length as a number)."""
    if kind in ("query_out", "query_in", "find_edge"):
        if kind == "query_out":
            where = f"src = {int(args['vertex'])} AND etype = {int(args['etype'])}"
        elif kind == "query_in":
            where = f"dst = {int(args['vertex'])} AND etype = {int(args['etype'])}"
        else:
            where = (f"etype = {int(args['etype'])} AND src = {int(args['src'])} "
                     f"AND dst = {int(args['dst'])}")
        return sorted(con.execute(f"SELECT etype, src, dst, weight, ts FROM st WHERE {where}").fetchall())
    if kind == "fof":
        return [tuple(r) for r in con.execute(f"""
            SELECT e2.dst AS id, count(*) AS cnt
            FROM st e1 JOIN st e2 ON e2.src = e1.dst
            WHERE e1.etype = {int(args['etype1'])} AND e1.src = {int(args['vertex'])}
              AND e2.etype = {int(args['etype2'])}
            GROUP BY e2.dst ORDER BY cnt DESC, id LIMIT 20
        """).fetchall()]
    if kind == "shortest_path":
        s, t, d = int(args["source"]), int(args["target"]), int(args["max_depth"])
        return con.execute(f"""
            WITH RECURSIVE walk(node, depth) AS (
              SELECT CAST({s} AS BIGINT), 0
              UNION
              SELECT e.dst, w.depth + 1 FROM walk w JOIN st e ON e.src = w.node
              WHERE w.depth < {d}
            )
            SELECT min(depth) FROM walk WHERE node = {t}
        """).fetchone()[0]
    raise ValueError(f"no oracle for read kind {kind!r}")


def state_edge_count(con) -> int:
    return con.execute("SELECT count(*) FROM st").fetchone()[0]


# ------------------------------------------------------------ batch calls

def pagerank(con, iterations: int) -> pd.DataFrame:
    """Unrolled twin of pregel.pagerank: rank = 0.15 + 0.85 * sum over
    in-edges of rank(src) / outdeg(src), rank0 = 1 over every vertex."""
    parts = [
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM base GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM verts)",
    ]
    for k in range(1, iterations + 1):
        parts.append(f"""r{k} AS MATERIALIZED (
          SELECT r.id, 0.15 + 0.85 * COALESCE(m.acc, 0) AS rank
          FROM r{k-1} r LEFT JOIN (
            SELECT e.dst AS id, SUM(rp.rank / d.outdeg) AS acc
            FROM base e JOIN r{k-1} rp ON rp.id = e.src JOIN deg d ON d.src = e.src
            GROUP BY e.dst
          ) m ON m.id = r.id)""")
    return con.execute("WITH " + ",\n".join(parts) + f" SELECT id, rank FROM r{iterations}").df()


def connected_components(con) -> pd.DataFrame:
    """Exact min-id component labels by union-find over the undirected edges."""
    ids = con.execute("SELECT id FROM verts").fetchnumpy()["id"].tolist()
    edges = con.execute("SELECT src, dst FROM base").fetchall()
    parent = {v: v for v in ids}
    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for s, d in edges:
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return pd.DataFrame({"id": ids, "cc": [find(v) for v in ids]})


def multi_bfs(con, seeds: list[int], max_depth: int) -> pd.DataFrame:
    con.register("bfs_seeds", pd.DataFrame({"s": seeds}))
    try:
        return con.execute(f"""
            WITH RECURSIVE mwalk(seed, node, depth) AS (
              SELECT CAST(s AS BIGINT), CAST(s AS BIGINT), 0 FROM bfs_seeds
              UNION
              SELECT w.seed, e.dst, w.depth + 1 FROM mwalk w JOIN base e ON e.src = w.node
              WHERE w.depth < {int(max_depth)}
            )
            SELECT seed, node AS id, min(depth) AS level FROM mwalk GROUP BY seed, node
        """).df()
    finally:
        con.unregister("bfs_seeds")


def random_walks(con, seeds: list[int], walk_length: int) -> pd.DataFrame:
    """Twin of graph_queries.random_walks with one walk per seed: the next
    hop minimizes the md5-60-bit hash of 'walk_id:step:dst', ties by dst."""
    con.register("walk_seeds", pd.DataFrame({"s": seeds}))
    ctes = ["s0 AS MATERIALIZED (SELECT CAST(s AS BIGINT) AS walk_id, CAST(s AS BIGINT) AS id FROM walk_seeds)"]
    for step in range(1, walk_length + 1):
        h = (f"('0x' || substr(md5(w.walk_id::VARCHAR || ':{step}:' || "
             f"e.dst::VARCHAR), 1, 15))::BIGINT")
        ctes.append(
            f"s{step} AS MATERIALIZED (SELECT walk_id, dst AS id FROM ("
            f"SELECT w.walk_id, e.dst, row_number() OVER ("
            f"PARTITION BY w.walk_id ORDER BY {h}, e.dst) AS rn "
            f"FROM s{step - 1} w JOIN base e ON e.src = w.id) t WHERE rn = 1)"
        )
    union = " UNION ALL ".join(
        f"SELECT walk_id, CAST({i} AS BIGINT) AS step, id FROM s{i}" for i in range(walk_length + 1)
    )
    try:
        return con.execute("WITH " + ",\n".join(ctes) + " " + union).df()
    finally:
        con.unregister("walk_seeds")


def triangle_count(con) -> int:
    return con.execute("""
        WITH und AS (SELECT src AS a, dst AS b FROM base UNION SELECT dst, src FROM base),
        ce AS (SELECT DISTINCT LEAST(a, b) AS x, GREATEST(a, b) AS y FROM und WHERE a <> b)
        SELECT count(*) FROM ce e1 JOIN ce e2 ON e2.x = e1.x AND e2.y > e1.y
        JOIN ce e3 ON e3.x = e1.y AND e3.y = e2.y
    """).fetchone()[0]


def same_frame(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
               tol: dict[str, float] | None = None) -> bool:
    """Row-set equality on ``keys`` plus the remaining columns, exact except
    for the absolute tolerances in ``tol``. A dropped, extra or changed row
    is a mismatch."""
    if len(got) != len(want) or set(got.columns) != set(want.columns):
        return False
    cols = list(want.columns)
    a = got[cols].sort_values(keys, ignore_index=True)
    b = want[cols].sort_values(keys, ignore_index=True)
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        t = (tol or {}).get(c)
        if t is None:
            if not (x.astype("int64") == y.astype("int64")).all():
                return False
        elif not (abs(x.astype(float) - y.astype(float)) <= t).all():
            return False
    return True
