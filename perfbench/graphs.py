"""Seeded link-graph generators and input statistics.

Every workload graph is a simple directed graph (no duplicate edges, no
self-loops) drawn in NumPy.  Its shape comes from the workload's fixed
``shape_seed``.  The benchmark's ``--seed`` draws new vertex ids, with
random gaps but in the same order, and a new row order.  Every algorithm
here depends on ids only through their order (smallest label wins), so
each seed asks for the same logical work -- the same iterations, rounds and
sweeps -- while the id values, and with them hash partitioning, and the
input order change.  Without this, label propagation alone needs from 8 to
over 50 sweeps depending on the labelling.  The same seed gives the same
edge list, in the same row order, on every host.

Skew is Zipf over vertex ranks: a skewed endpoint of an edge is drawn with
probability proportional to ``rank ** -s`` (ranks assigned to vertex ids by
a seeded permutation, so hubs are scattered over the id space); an
unskewed endpoint is uniform.  ``skew="out"`` gives Zipf out-degree and
uniform in-degree, ``skew="in"`` the reverse, and ``skew="both"`` Zipf
degrees on both sides, with independent rankings (in-hubs are not
out-hubs) and many pages without out-links.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


ID_GAP = 1000  # new ids are increasing, with gaps drawn from [1, ID_GAP)


@dataclass(frozen=True)
class GraphSpec:
    n: int          # vertices drawn from (isolated ones do not appear)
    m: int          # edges drawn before dedup and self-loop removal
    s: float        # Zipf exponent of the skewed endpoint
    skew: str       # "out", "in" or "both"
    shape_seed: int = 0
    linked: float = 1.0  # share of ranks a Zipf endpoint is drawn from


def generate(spec: GraphSpec, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Return ``(src, dst)`` int64 arrays of a simple directed graph."""
    if spec.skew not in ("out", "in", "both"):
        raise ValueError(f"skew must be 'out', 'in' or 'both', not {spec.skew!r}")
    rng = np.random.default_rng(spec.shape_seed)
    w = np.arange(1, int(spec.linked * spec.n) + 1, dtype=np.float64) ** -spec.s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]

    def zipf_ends():
        rank_to_id = rng.permutation(spec.n).astype(np.int64)
        ranks = np.searchsorted(cdf, rng.random(spec.m), side="right")
        return rank_to_id[np.minimum(ranks, len(cdf) - 1)]

    def uniform_ends():
        return rng.integers(0, spec.n, spec.m, dtype=np.int64)

    src = zipf_ends() if spec.skew in ("out", "both") else uniform_ends()
    dst = zipf_ends() if spec.skew in ("in", "both") else uniform_ends()
    keep = src != dst
    key = np.unique(src[keep] * spec.n + dst[keep])
    labels = np.random.default_rng(seed)
    relabel = np.cumsum(labels.integers(1, ID_GAP, spec.n, dtype=np.int64))
    key = key[labels.permutation(len(key))]
    return relabel[key // spec.n], relabel[key % spec.n]


def input_stats(src: np.ndarray, dst: np.ndarray) -> dict:
    """Vertices, edges, in-degree tail, wedge count and hub share of wedges.

    A wedge is a path u - w - v of the undirected simple graph, counted once
    per centre ``w`` and unordered end pair: sum over w of C(deg w, 2).
    ``skew_share`` is the fraction of wedges centred on the top 1% of
    vertices by undirected degree.
    """
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    v = len(ids)
    s, d = inv[:len(src)], inv[len(src):]
    indeg = np.bincount(d, minlength=v)
    key = np.unique(np.minimum(s, d) * v + np.maximum(s, d))
    deg = np.bincount(key // v, minlength=v) + np.bincount(key % v, minlength=v)
    wedges = np.sort(deg * (deg - 1) // 2)[::-1]
    top_wedges = wedges[:max(1, v // 100)].sum()
    total = wedges.sum()
    return {
        "vertices": v,
        "edges": int(len(src)),
        "max_in_degree": int(indeg.max()),
        "p99_in_degree": float(np.percentile(indeg, 99)),
        "wedges": int(total),
        "skew_share": float(top_wedges / total) if total else 0.0,
    }
