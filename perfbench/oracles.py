"""Driver-side reference answers the benchmark checks the engine against.

Each oracle works from the generator's ground-truth edge arrays alone,
never from engine output, so a wrong engine result cannot agree with it.
"""

from __future__ import annotations

import numpy as np


def indptr(src: np.ndarray, n_nodes: int) -> np.ndarray:
    """CSR row pointers of an edge list sorted by (src, dst)."""
    ptr = np.zeros(n_nodes + 1, dtype=np.int64)
    np.cumsum(np.bincount(src, minlength=n_nodes), out=ptr[1:])
    return ptr


def component_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Weakly connected components over the vertices that appear in an
    edge (what connected_components labels when given no vertex table),
    by min-label union-find with pointer jumping over numpy arrays."""
    nodes = np.unique(np.concatenate([src, dst]))
    parent = np.arange(nodes.size)
    a = np.searchsorted(nodes, src)
    b = np.searchsorted(nodes, dst)
    # vectorized min-label propagation until a fixpoint
    while True:
        ra, rb = parent[a], parent[b]
        lo = np.minimum(ra, rb)
        changed = False
        for r in (ra, rb):
            upd = lo < parent[r]
            if upd.any():
                np.minimum.at(parent, r[upd], lo[upd])
                changed = True
        # path halving: parent <- parent[parent]
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
        if not changed:
            break
    return int(np.unique(parent).size)


def pagerank(src: np.ndarray, dst: np.ndarray, iters: int,
             alpha: float = 0.85) -> tuple[np.ndarray, np.ndarray]:
    """(vertex ids, ranks) after `iters` power iterations over the vertices
    that appear in an edge, dangling mass spread uniformly — the update
    algos.pagerank applies with tol=0."""
    nodes = np.unique(np.concatenate([src, dst]))
    n = nodes.size
    s = np.searchsorted(nodes, src)
    d = np.searchsorted(nodes, dst)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    rank = np.full(n, 1.0 / n)
    inv = np.where(dangling, 0.0, 1.0 / np.maximum(outdeg, 1.0))
    for _ in range(iters):
        contrib = np.bincount(d, weights=(rank * inv)[s], minlength=n)
        base = (1.0 - alpha) / n + alpha * rank[dangling].sum() / n
        rank = base + alpha * contrib
    return nodes, rank


def top_ids(ids: np.ndarray, ranks: np.ndarray, k: int) -> list[int]:
    """The k highest-ranked ids, ties broken by id."""
    order = np.lexsort((ids, -ranks))
    return ids[order[:k]].tolist()


# Triangles of the undirected simple graph, each counted once.
TRIANGLES_SQL = """
WITH und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM edges WHERE src <> dst
)
SELECT count(*) FROM und a
JOIN und b ON a.v = b.u
JOIN und c ON c.u = a.u AND c.v = b.v
"""


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    try:
        con.register("edges", pa.table({"src": src, "dst": dst}))
        return int(con.sql(TRIANGLES_SQL).fetchone()[0])
    finally:
        con.close()
