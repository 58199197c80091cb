"""Sparse NumPy references for the benchmarked algorithm calls.

Each function takes the raw edge arrays of a simple directed graph and
replays the library's documented semantics with vectorized NumPy over
edge lists, so it runs at benchmark sizes where the dense O(n^2) oracles
in ``graph_python_spark.oracles`` cannot.  Vertex ids are compacted to
``0..V-1`` in sorted order, which preserves every "smallest id wins" rule;
results are mapped back to the original ids.

Round counts follow the library's loops: a loop that stops on "nothing
changed" counts the final no-change round.
"""

from __future__ import annotations

import numpy as np


def _compact(src: np.ndarray, dst: np.ndarray):
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    m = len(src)
    return ids, inv[:m].astype(np.int64), inv[m:].astype(np.int64)


def _undirected(s: np.ndarray, d: np.ndarray, v: int):
    """Both directions of every undirected simple edge, sorted by source."""
    a, b = np.minimum(s, d), np.maximum(s, d)
    key = np.unique(a[a != b] * v + b[a != b])
    a, b = key // v, key % v
    fs, fd = np.concatenate([a, b]), np.concatenate([b, a])
    order = np.lexsort((fd, fs))
    return fs[order], fd[order]


def pagerank(src, dst, damping=0.85, tol=1e-6, itermax=100):
    """pagerank_3f power iteration. Returns (ids, scores, iterations)."""
    ids, s, d = _compact(src, dst)
    v = len(ids)
    outdeg = np.bincount(s, minlength=v).astype(np.float64)
    inv_d = np.zeros(v)
    nz = outdeg > 0
    inv_d[nz] = damping / outdeg[nz]
    teleport = (1.0 - damping) / v
    r = np.full(v, 1.0 / v)
    iters = 0
    for _ in range(itermax):
        w = r * inv_d
        new = teleport + np.bincount(d, weights=w[s], minlength=v)
        rdiff = np.abs(new - r).sum()
        r = new
        iters += 1
        if rdiff <= tol:
            break
    return ids, r, iters


def components(src, dst, max_rounds=50):
    """FastSV min-label rounds: neighbour-min hook plus grandparent shortcut.
    Returns (ids, component, rounds)."""
    ids, s, d = _compact(src, dst)
    v = len(ids)
    fs, fd = np.concatenate([s, d]), np.concatenate([d, s])
    f = np.arange(v)
    rounds = 0
    for _ in range(max_rounds):
        nm = np.full(v, v)
        np.minimum.at(nm, fd, f[fs])
        new = np.minimum(np.minimum(f, nm), f[f])
        changed = bool((new != f).any())
        f = new
        rounds += 1
        if not changed:
            break
    return ids, ids[f], rounds


def kcore(src, dst, k, max_rounds=50):
    """Synchronous peeling of the undirected simple graph.
    Returns (core ids, degree inside the core, rounds)."""
    ids, s, d = _compact(src, dst)
    v = len(ids)
    fs, fd = _undirected(s, d, v)
    alive_e = np.ones(len(fs), dtype=bool)
    rounds = 0
    while rounds < max_rounds:
        deg = np.bincount(fs[alive_e], minlength=v)
        has_edge = deg > 0
        dead = has_edge & (deg < k)
        rounds += 1
        if not dead.any():
            keep = has_edge & (deg >= k)
            return ids[keep], deg[keep], rounds
        alive_e &= ~dead[fs] & ~dead[fd]
    deg = np.bincount(fs[alive_e], minlength=v)
    keep = deg >= k
    return ids[keep], deg[keep], rounds


def label_propagation(src, dst, max_sweeps=100):
    """Synchronous LPA: each vertex takes its neighbours' most frequent
    label, smallest label on ties.  Returns (ids, label, sweeps)."""
    ids, s, d = _compact(src, dst)
    v = len(ids)
    fs, fd = _undirected(s, d, v)
    present = np.bincount(fs, minlength=v) > 0
    lbl = np.arange(v)
    sweeps = 0
    for _ in range(max_sweeps):
        # (vertex, neighbour label) pair counts
        key, n = np.unique(fd * v + lbl[fs], return_counts=True)
        vert, cand = key // v, key % v
        # per vertex: highest count first, then smallest label
        order = np.lexsort((cand, -n, vert))
        first = np.r_[True, vert[order][1:] != vert[order][:-1]]
        new = lbl.copy()
        new[vert[order][first]] = cand[order][first]
        changed = bool((new != lbl).any())
        lbl = new
        sweeps += 1
        if not changed:
            break
    return ids[present], ids[lbl[present]], sweeps


def triangle_count(src, dst) -> int:
    """Triangles of the undirected simple graph, by degree-ordered wedges:
    each edge points from lower to higher (degree, id), so every triangle
    is closed exactly once and no vertex fans out more than sqrt(2E)."""
    ids, s, d = _compact(src, dst)
    v = len(ids)
    fs, fd = _undirected(s, d, v)
    deg = np.bincount(fs, minlength=v)
    rank = np.empty(v, dtype=np.int64)
    rank[np.lexsort((np.arange(v), deg))] = np.arange(v)
    up = rank[fs] < rank[fd]
    a, b = rank[fs[up]], rank[fd[up]]
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    edge_keys = a * v + b  # sorted
    starts = np.searchsorted(a, np.arange(v + 1))
    total = 0
    # every pair b1 < b2 of out-neighbours of a is a wedge, closed when
    # (b1, b2) is an edge; centres go in chunks so the pair arrays stay small
    for lo in range(0, v, 4096):
        outd = np.diff(starts[lo:min(v, lo + 4096) + 1])
        pairs = [np.stack(np.triu_indices(c, 1), axis=1) + first
                 for c, first in zip(outd, starts[lo:lo + len(outd)]) if c > 1]
        if not pairs:
            continue
        pos = np.concatenate(pairs)
        key = b[pos[:, 0]] * v + b[pos[:, 1]]
        hit = np.minimum(np.searchsorted(edge_keys, key), len(edge_keys) - 1)
        total += int((edge_keys[hit] == key).sum())
    return total


def wedge_totals(src, dst) -> tuple[int, float]:
    """(sum of common, sum of adamic_adar) over all link-prediction pairs:
    every wedge u - w - v adds 1 and 1/ln(deg w) to its pair."""
    ids, s, d = _compact(src, dst)
    v = len(ids)
    fs, _ = _undirected(s, d, v)
    deg = np.bincount(fs, minlength=v).astype(np.int64)
    deg = deg[deg >= 2]
    pairs = deg * (deg - 1) // 2
    return int(pairs.sum()), float((pairs / np.log(deg)).sum())


def link_rows(src, dst, sources) -> dict[tuple[int, int], tuple[int, float, int]]:
    """Every link-prediction row (u, v) with u in ``sources`` and v > u:
    {(u, v): (common, adamic_adar, pref_attach)}."""
    ids, s, d = _compact(src, dst)
    v = len(ids)
    fs, fd = _undirected(s, d, v)
    deg = np.bincount(fs, minlength=v)
    starts = np.searchsorted(fs, np.arange(v + 1))
    pos = {int(x): i for i, x in enumerate(ids)}
    out = {}
    for u_id in sources:
        u = pos[int(u_id)]
        centres = fd[starts[u]:starts[u + 1]]
        centres = centres[deg[centres] >= 2]  # a leaf closes no pair
        nb = [fd[starts[w]:starts[w + 1]] for w in centres]
        if not nb:
            continue
        ends = np.concatenate(nb)
        aa = np.repeat(1.0 / np.log(deg[centres].astype(np.float64)),
                       [len(x) for x in nb])
        mask = ends > u
        ends, aa = ends[mask], aa[mask]
        uniq, inv, cnt = np.unique(ends, return_inverse=True, return_counts=True)
        aa_sum = np.bincount(inv, weights=aa, minlength=len(uniq))
        for x, c, a in zip(uniq, cnt, aa_sum):
            out[(int(ids[u]), int(ids[x]))] = (int(c), float(a),
                                               int(deg[u]) * int(deg[x]))
    return out
