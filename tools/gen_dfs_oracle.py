"""Generate the frozen golden-rows oracle for graph_traverse_dfs.

Pre-order DFS (graph.rs:796-855) is not SQL-expressible (the visited set
is path-dependent), so the oracle is a frozen VALUES literal. To stay
independent of the Spark implementation, the graph here is derived from
the events parquet with the SAME DuckDB SQL the other graph oracles use
(GRAPH_CTE), and the DFS itself is a ~20-line pure-Python port of the
reference semantics: pre-order, ascending neighbor order, nodes at
max depth visited but not expanded.

The emitted SQL dispatches on COUNT(*) of events so one string is valid
at every generated SF (the driver gates at sf0.01; local probes also run
sf0.001/sf0.1). Run:  python tools/gen_dfs_oracle.py
then paste the output into ORACLE_SQL["graph_traverse_dfs"] in
kremis_spark/plans/graph_queries.py.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kremis_spark.plans.graph_queries import (  # noqa: E402
    FILTER_MIN_WEIGHT,
    FILTERED_DEPTH,
    GRAPH_CTE,
)

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def dfs_rows(edges: list[tuple[int, int, int]], depth: int) -> list[tuple[int, int]]:
    """Reference pre-order DFS on the weight-filtered subgraph."""
    filt = [(s, d, w) for s, d, w in edges if w >= FILTER_MIN_WEIGHT]
    if not filt:
        return []
    # anchor: src of the heaviest edge under (weight desc, src, dst)
    start = min(filt, key=lambda e: (-e[2], e[0], e[1]))[0]
    adj: dict[int, list[tuple[int, int]]] = {}
    for s, d, w in filt:
        adj.setdefault(s, []).append((d, w))
    for lst in adj.values():
        lst.sort()
    visited: set[int] = set()
    path: list[int] = []

    def rec(node: int, nd: int) -> None:
        if node in visited or nd > depth:
            return
        visited.add(node)
        path.append(node)
        if nd < depth:
            for neighbor, _w in adj.get(node, ()):
                if neighbor not in visited:
                    rec(neighbor, nd + 1)

    rec(start, 0)
    return list(enumerate(path))


def main() -> None:
    branches = []
    for sf_dir in SF_DIRS:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        n_events = con.execute("SELECT count(*) FROM events").fetchone()[0]
        edges = [
            (int(s), int(d), int(w))
            for s, d, w in con.execute(
                GRAPH_CTE + "SELECT src, dst, weight FROM edges"
            ).fetchall()
        ]
        rows = dfs_rows(edges, FILTERED_DEPTH)
        print(f"-- {sf_dir}: n_events={n_events}, dfs rows={len(rows)}",
              file=sys.stderr)
        values = ", ".join(f"({i}, {n})" for i, n in rows)
        branches.append(
            "SELECT CAST(v.step AS BIGINT) AS step, "
            "CAST(v.node_id AS BIGINT) AS node_id\n"
            f"FROM (VALUES {values}) AS v(step, node_id)\n"
            f"WHERE (SELECT count(*) FROM events) = {n_events}"
        )
    print("\nUNION ALL\n".join(branches))


if __name__ == "__main__":
    main()
