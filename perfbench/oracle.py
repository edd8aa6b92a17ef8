"""Reference results computed from the planted graph alone (numpy, DuckDB).

Nothing here reads engine output: every function takes the planted edge
arrays, already mapped to the engine's internal id space by
:func:`internal_ids` (rank of the repo name among the sorted names of repos
that appear in an edge — the id map ``graph.from_edge_df`` documents).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


def internal_ids(names: np.ndarray, src: np.ndarray, dst: np.ndarray):
    """(vertex names sorted, src internal ids, dst internal ids)."""
    present = np.union1d(src, dst)
    order = np.argsort(names[present], kind="stable")
    vertices = present[order]
    rank = np.full(len(names), -1, np.int64)
    rank[vertices] = np.arange(len(vertices))
    return names[vertices], rank[src], rank[dst], rank


def pagerank(n: int, src: np.ndarray, dst: np.ndarray, *,
             damping: float, max_iterations: int,
             l1_tolerance: float | None = None):
    """Delta-push PageRank with tolerance 0: superstep 1 sets every rank to
    ``1 - damping`` and pushes it; superstep t > 1 adds
    ``delta = damping * sum(pushes)`` and pushes ``delta / outdeg`` where
    delta > 0. Stops after ``max_iterations`` supersteps, or at the first
    superstep whose ``sum |delta|`` is <= ``l1_tolerance``.
    Returns (rank, supersteps run)."""
    deg = np.bincount(src, minlength=n).astype(np.float64)
    safe = np.where(deg > 0, deg, 1.0)
    rank = np.full(n, 1.0 - damping)
    delta = rank.copy()
    t = 1
    while True:
        l1 = float(np.abs(delta).sum())
        if l1_tolerance is not None and l1 <= l1_tolerance:
            return rank, t
        if t == max_iterations or not (delta > 0).any():
            return rank, t
        push = np.where((delta > 0) & (deg > 0), delta / safe, 0.0)
        delta = damping * np.bincount(dst, weights=push[src], minlength=n)
        rank = rank + delta
        t += 1


def pagerank_residual(rank: np.ndarray, src: np.ndarray, dst: np.ndarray,
                      damping: float) -> float:
    """L1 norm of ``r - ((1-d) + d * A^T (r / outdeg))``."""
    n = len(rank)
    deg = np.bincount(src, minlength=n).astype(np.float64)
    inflow = np.bincount(dst, weights=rank[src] / deg[src], minlength=n)
    return float(np.abs(rank - (1.0 - damping) - damping * inflow).sum())


def components(n: int, src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Weak components by union-find; each vertex gets the smallest vertex
    id of its component."""
    parent = list(range(n))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(v) for v in range(n)], np.int64)


def label_propagation(n: int, src: np.ndarray, dst: np.ndarray,
                      rounds: int) -> np.ndarray:
    """Synchronous label propagation: labels start as vertex ids; each
    round every vertex with out-edges takes the label most frequent among
    its out-neighbours (ties to the smaller label); others keep theirs."""
    label = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        votes = pd.DataFrame({"v": src, "l": label[dst]})
        tally = votes.groupby(["v", "l"], sort=True).size().reset_index()
        tally.columns = ["v", "l", "c"]
        best = tally.sort_values(["v", "c", "l"], ascending=[True, False, True])
        winner = best.drop_duplicates("v")
        new = label.copy()
        new[winner["v"].to_numpy()] = winner["l"].to_numpy()
        if np.array_equal(new, label):
            break
        label = new
    return label


def triangles(n: int, src: np.ndarray, dst: np.ndarray):
    """(per-vertex triangle counts, global count) of the undirected simple
    graph, by a DuckDB join over the a < b edge list."""
    a = np.minimum(src, dst)
    b = np.maximum(src, dst)
    keep = a != b
    edges = pd.DataFrame({"a": a[keep], "b": b[keep]}).drop_duplicates()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("e", edges)
        tri = con.execute(
            "SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 "
            "JOIN e e2 ON e1.b = e2.a "
            "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"
        ).fetchnumpy()
    finally:
        con.close()
    corners = np.concatenate([tri["x"], tri["y"], tri["z"]]).astype(np.int64)
    return np.bincount(corners, minlength=n), len(tri["x"])
