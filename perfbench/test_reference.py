"""The sparse references against the package's dense oracles and brute
force, on small seeded graphs.

Run from the root of the repository: ``python3 -m pytest perfbench``.
"""

import itertools
import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import graphs  # noqa: E402
import reference  # noqa: E402
from graph_python_spark.oracles import algos  # noqa: E402


@pytest.fixture(scope="module", params=[("out", 1), ("in", 2)])
def graph(request):
    """A small graph with compact ids 0..n-1 and no reciprocal edge pairs
    (the dense LPA oracle counts a reciprocal neighbour twice)."""
    skew, seed = request.param
    src, dst = graphs.generate(graphs.GraphSpec(80, 400, 0.8, skew, shape_seed=3), seed)
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[:len(src)], inv[len(src):]
    edges = set(zip(s.tolist(), d.tolist()))
    keep = [(a, b) for a, b in edges if a < b or (b, a) not in edges]
    s = np.array([a for a, _ in keep])
    d = np.array([b for _, b in keep])
    ids = np.unique(np.concatenate([s, d]))
    assert np.array_equal(ids, np.arange(len(ids)))
    return s, d, len(ids)


def test_pagerank(graph):
    s, d, n = graph
    _, got, iters = reference.pagerank(s, d, tol=1e-10)
    want, want_iters = algos.pagerank_3f(zip(s, d), n, tol=1e-10)
    assert np.allclose(got, want, rtol=0, atol=1e-12)
    assert iters == want_iters


def test_components(graph):
    s, d, n = graph
    ids, comp, _ = reference.components(s, d)
    assert np.array_equal(comp, algos.fastsv_components(zip(s, d), n)[ids])


def test_label_propagation(graph):
    s, d, n = graph
    ids, lbl, _ = reference.label_propagation(s, d)
    assert np.array_equal(lbl, algos.label_propagation(list(zip(s, d)), n)[ids])


@pytest.mark.parametrize("k", [2, 3, 4])
def test_kcore(graph, k):
    s, d, n = graph
    ids, deg, _ = reference.kcore(s, d, k)
    assert dict(zip(ids.tolist(), deg.tolist())) == algos.kcore_peel(zip(s, d), n, k)


def test_triangles(graph):
    s, d, n = graph
    assert reference.triangle_count(s, d) == algos.triangle_count(zip(s, d), n)


def test_link_prediction(graph):
    s, d, n = graph
    nbrs = {v: set() for v in range(n)}
    for a, b in zip(s.tolist(), d.tolist()):
        nbrs[a].add(b)
        nbrs[b].add(a)
    want = {}
    for u, v in itertools.combinations(range(n), 2):
        common = nbrs[u] & nbrs[v]
        if common:
            want[(u, v)] = (len(common),
                            sum(1 / math.log(len(nbrs[w])) for w in common),
                            len(nbrs[u]) * len(nbrs[v]))
    got = reference.link_rows(s, d, range(n))
    assert got.keys() == want.keys()
    for key, (c, aa, pa) in want.items():
        assert got[key][0] == c and got[key][2] == pa
        assert got[key][1] == pytest.approx(aa, rel=1e-12)
    total_common, total_aa = reference.wedge_totals(s, d)
    assert total_common == sum(c for c, _, _ in want.values())
    assert total_aa == pytest.approx(sum(a for _, a, _ in want.values()), rel=1e-12)
