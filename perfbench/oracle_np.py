"""Vectorized single-node oracle for the benchmark's kernels.

Follows the recurrences of ``tests/oracle.py`` (pure-Python loops, kept as
the reference and cross-checked by ``selftest.py``), rewritten with NumPy
so that graphs of a million edges check in about a second:

- PageRank: pull recurrence, init 1/N, damping 0.85, fixed iterations,
  dangling mass lost.
- Connected components: synchronous hash-min until no label changes;
  ``rounds`` counts the rounds including the final one that changes
  nothing, which is what a frontier-driven fixpoint reports.
- Label propagation: synchronous rounds, mode of the neighbours' labels
  with the smallest label winning ties; isolated nodes keep their label.
- Triangle count: each undirected triangle once, self-loops ignored.

Node ids are arbitrary int64 values; every result is keyed by the sorted
array of distinct ids returned alongside it.
"""

from __future__ import annotations

import numpy as np


def relabel(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, s, d): sorted distinct ids and both endpoints as indices into it."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src) :]


def pagerank(src: np.ndarray, dst: np.ndarray, iters: int = 10, damping: float = 0.85):
    """(ids, rank) after ``iters`` power iterations."""
    ids, s, d = relabel(src, dst)
    n = len(ids)
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    for _ in range(iters):
        rank = base + damping * np.bincount(d, weights=rank[s] / out_deg[s], minlength=n)
    return ids, rank


def _neighbours(src: np.ndarray, dst: np.ndarray):
    """(ids, u, v, starts): undirected, deduplicated, self-loop-free
    neighbour pairs sorted by ``u``; ``starts`` are the run starts of ``u``."""
    ids, s, d = relabel(src, dst)
    keep = s != d
    u = np.concatenate([s[keep], d[keep]])
    v = np.concatenate([d[keep], s[keep]])
    n = np.int64(len(ids))
    pairs = np.unique(u * n + v)
    u, v = pairs // n, pairs % n
    starts = np.flatnonzero(np.r_[True, u[1:] != u[:-1]]) if len(u) else np.zeros(0, np.int64)
    return ids, u, v, starts


def connected_components(src: np.ndarray, dst: np.ndarray):
    """(ids, component, rounds) — component = smallest id reachable."""
    ids, u, v, starts = _neighbours(src, dst)
    comp = np.arange(len(ids))  # index order == id order, so min index == min id
    rounds = 0
    while True:
        rounds += 1
        new = comp.copy()
        if len(u):
            heads = u[starts]
            new[heads] = np.minimum(comp[heads], np.minimum.reduceat(comp[v], starts))
        if np.array_equal(new, comp):
            return ids, ids[comp], rounds
        comp = new


def label_propagation(src: np.ndarray, dst: np.ndarray, iters: int = 5):
    """(ids, label) after ``iters`` synchronous rounds."""
    ids, u, v, _ = _neighbours(src, dst)
    n = np.int64(len(ids))
    label = np.arange(n)  # label indices; index order == id order
    for _ in range(iters):
        keys, cnt = np.unique(u * n + label[v], return_counts=True)
        ku, kl = keys // n, keys % n
        order = np.lexsort((kl, -cnt, ku))  # per node: most votes, then smallest
        ku, kl = ku[order], kl[order]
        first = np.r_[True, ku[1:] != ku[:-1]]
        new = label.copy()
        new[ku[first]] = kl[first]
        label = new
    return ids, ids[label]


def triangle_count(src: np.ndarray, dst: np.ndarray, chunk_wedges: int = 4_000_000) -> int:
    """Exact undirected triangle count.

    Edges are oriented from the lower (degree, id) endpoint to the higher
    one, so each triangle a<b<c is found exactly once as the wedge
    a→b→c closed by a→c; the orientation keeps the wedge count near
    O(E·sqrt(E)) on hub-heavy graphs. Wedges are expanded in chunks to
    bound memory."""
    ids, s, d = relabel(src, dst)
    keep = s != d
    n = np.int64(len(ids))
    und = np.unique(np.minimum(s[keep], d[keep]) * n + np.maximum(s[keep], d[keep]))
    a, b = und // n, und % n
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    lo_first = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    lo, hi = np.where(lo_first, a, b), np.where(lo_first, b, a)
    keys = np.sort(lo * n + hi)
    lo, hi = keys // n, keys % n
    indptr = np.zeros(n + 1, np.int64)
    np.cumsum(np.bincount(lo, minlength=n), out=indptr[1:])
    w = np.diff(indptr)[hi]  # wedges a→b→c per oriented edge (a, b)
    cw = np.cumsum(w)
    total, start = 0, 0
    while start < len(w):
        done = cw[start - 1] if start else 0
        stop = max(start + 1, int(np.searchsorted(cw, done + chunk_wedges, side="right")))
        ea, eb, ew = lo[start:stop], hi[start:stop], w[start:stop]
        start = stop
        # expanded position j of edge e reads out-neighbour indptr[b_e] + (j - offset_e)
        first = np.repeat(indptr[eb] - (np.cumsum(ew) - ew), ew)
        probe = np.repeat(ea, ew) * n + hi[first + np.arange(ew.sum())]
        pos = np.searchsorted(keys, probe).clip(max=len(keys) - 1)
        total += int(np.count_nonzero(keys[pos] == probe))
    return total
