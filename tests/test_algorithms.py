"""Algorithm-level validation vs NumPy oracles on the reference's notebook
graphs (PR5, CC12, G7) — PageRank allclose 1e-6, CC/labels exact."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from graph_python_spark.algorithms import (
    bfs_levels,
    bfs_parents,
    cc_fixed_rounds,
    connected_components,
    label_propagation,
    pagerank,
    pagerank_fixed,
    sssp,
    triangle_count,
)
from graph_python_spark.oracles import algos as O
from tests.fixtures import (
    A7_COLS,
    A7_N,
    A7_ROWS,
    A7_VALS,
    CC12_COLS,
    CC12_N,
    CC12_ROWS,
    K4_EDGES,
    PR5_COLS,
    PR5_N,
    PR5_ROWS,
    STAR_EDGES,
)


def edge_df(spark, rows, cols, vals=None):
    if vals is None:
        vals = [1.0] * len(rows)
    return spark.createDataFrame(
        [(int(r), int(c), float(v)) for r, c, v in zip(rows, cols, vals)],
        "i long, j long, v double",
    )


def vertex_df(spark, n):
    return spark.range(n).select(F.col("id"))


def test_pagerank_pr5(spark):
    e = edge_df(spark, PR5_ROWS, PR5_COLS)
    scores, iters, rdiffs = pagerank(e, vertex_df(spark, PR5_N), tol=1e-6, itermax=200)
    got = {r["id"]: r["score"] for r in scores.collect()}
    want, oiters = O.pagerank_3f(list(zip(PR5_ROWS, PR5_COLS)), PR5_N, tol=1e-6, itermax=200)
    assert iters == oiters
    assert len(got) == PR5_N
    for i in range(PR5_N):
        assert got[i] == pytest.approx(want[i], rel=1e-6, abs=1e-9), i
    assert rdiffs[-1] <= 1e-6


def test_pagerank_dangling_semantics(spark):
    # vertex 2 has no out-edges: contributes teleport only (3f intersection)
    rows, cols = [0, 1], [2, 2]
    e = edge_df(spark, rows, cols)
    scores, _, _ = pagerank(e, vertex_df(spark, 3), tol=1e-10, itermax=100)
    got = {r["id"]: r["score"] for r in scores.collect()}
    want, _ = O.pagerank_3f(list(zip(rows, cols)), 3, tol=1e-10, itermax=100)
    for i in range(3):
        assert got[i] == pytest.approx(want[i], rel=1e-9), i


def test_pagerank_fixed_matches_oracle_iterations(spark):
    e = edge_df(spark, PR5_ROWS, PR5_COLS)
    scores = pagerank_fixed(e, vertex_df(spark, PR5_N), iterations=7)
    got = {r["id"]: r["score"] for r in scores.collect()}
    want, _ = O.pagerank_3f(list(zip(PR5_ROWS, PR5_COLS)), PR5_N, tol=0.0, itermax=7)
    for i in range(PR5_N):
        assert got[i] == pytest.approx(want[i], rel=1e-9), i


def test_connected_components_cc12(spark):
    e = edge_df(spark, CC12_ROWS, CC12_COLS)
    labels, rounds = connected_components(e, vertex_df(spark, CC12_N))
    got = {r["id"]: r["component"] for r in labels.collect()}
    want = O.fastsv_components(list(zip(CC12_ROWS, CC12_COLS)), CC12_N)
    assert got == {i: int(want[i]) for i in range(CC12_N)}
    assert rounds <= 10


def test_cc_permutation_invariance(spark):
    # FastSV notebook cells 54-63: exact same partition under vertex relabeling
    rng = np.random.RandomState(42)
    perm = rng.permutation(CC12_N)
    rows = [int(perm[r]) for r in CC12_ROWS]
    cols = [int(perm[c]) for c in CC12_COLS]
    e = edge_df(spark, rows, cols)
    labels, _ = connected_components(e, vertex_df(spark, CC12_N))
    got = {r["id"]: r["component"] for r in labels.collect()}
    want = O.fastsv_components(list(zip(rows, cols)), CC12_N)
    assert got == {i: int(want[i]) for i in range(CC12_N)}


def test_cc_fixed_rounds_pure_min_propagation(spark):
    e = edge_df(spark, CC12_ROWS, CC12_COLS)
    labels = cc_fixed_rounds(e, vertex_df(spark, CC12_N), rounds=12)
    got = {r["id"]: r["component"] for r in labels.collect()}
    want = O.fastsv_components(list(zip(CC12_ROWS, CC12_COLS)), CC12_N)
    assert got == {i: int(want[i]) for i in range(CC12_N)}


def test_label_propagation_cc12(spark):
    e = edge_df(spark, CC12_ROWS, CC12_COLS)
    labels, sweeps = label_propagation(e, vertex_df(spark, CC12_N))
    got = {r["id"]: r["label"] for r in labels.collect()}
    want = O.label_propagation(list(zip(CC12_ROWS, CC12_COLS)), CC12_N)
    assert got == {i: int(want[i]) for i in range(CC12_N)}


def test_triangle_count(spark):
    k4 = edge_df(spark, [a for a, b in K4_EDGES], [b for a, b in K4_EDGES])
    assert triangle_count(k4) == 4
    cc12 = edge_df(spark, CC12_ROWS, CC12_COLS)
    assert triangle_count(cc12) == O.triangle_count(list(zip(CC12_ROWS, CC12_COLS)), CC12_N) == 1
    star = edge_df(spark, [a for a, b in STAR_EDGES], [b for a, b in STAR_EDGES])
    assert triangle_count(star) == 0
    # duplicate + reversed edges must not change the count
    both = cc12.unionByName(cc12.select(F.col("j").alias("i"), F.col("i").alias("j"), "v"))
    assert triangle_count(both) == 1


def test_triangle_count_releases_its_cache(spark):
    """triangle_count caches the canonical edge table for its self-join and
    must release it before returning: a leaked cache makes a second call
    in the same session do less work than the first."""
    k4 = edge_df(spark, [a for a, b in K4_EDGES], [b for a, b in K4_EDGES])
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    assert triangle_count(k4) == 4
    assert persistent().size() == before


def test_bfs_levels_g7(spark):
    e = edge_df(spark, A7_ROWS, A7_COLS)
    got = {r["id"]: r["level"] for r in bfs_levels(e, source=1).collect()}
    want = O.bfs_levels(list(zip(A7_ROWS, A7_COLS)), A7_N, 1)
    assert got == want


def test_bfs_parents_g7(spark):
    e = edge_df(spark, A7_ROWS, A7_COLS)
    got = {r["id"]: r["parent"] for r in bfs_parents(e, source=1).collect()}
    want = O.bfs_parents(list(zip(A7_ROWS, A7_COLS)), A7_N, 1)
    assert got == want


def test_sssp_a7(spark):
    e = edge_df(spark, A7_ROWS, A7_COLS, A7_VALS)
    got = {r["id"]: r["distance"] for r in sssp(e, source=1).collect()}
    want = O.sssp(list(zip(A7_ROWS, A7_COLS, [float(v) for v in A7_VALS])), A7_N, 1)
    assert got == want


def test_bfs_parents_fixed_rounds(spark):
    from graph_python_spark.algorithms.traversal import bfs_parents_fixed

    e = spark.createDataFrame(
        list(zip(PR5_ROWS, PR5_COLS)), "i long, j long"
    )
    got = {r["id"]: r["parent"] for r in bfs_parents_fixed(e, source=0, rounds=8).collect()}
    # dist: 0:0, 1:1, 2:1, 3:2, 4:2; min-id predecessor on a shortest path
    assert got == {0: 0, 1: 0, 2: 0, 3: 1, 4: 2}


def test_sparsify_by_degree(spark):
    from graph_python_spark.algorithms.sparsify import sparsify_by_degree

    # star hub (deg 40) + a 3-cycle of leaves (deg 1 each)
    pairs = [(0, t) for t in range(1, 41)] + [(100, 101), (101, 102), (102, 100)]
    e = spark.createDataFrame(pairs, "i long, j long")
    kept = sparsify_by_degree(e, target_degree=6)
    rows = {(r["i"], r["j"]) for r in kept.collect()}
    # every low-degree edge survives
    assert {(100, 101), (101, 102), (102, 100)} <= rows
    hub_kept = [p for p in rows if p[0] == 0]
    # hub is downsampled to ~6 (binomial(40, 6/40)); deterministic exact replay:
    P1, P2, M = 1000003, 10007, 1000000007
    want = {(0, t) for t in range(1, 41)
            if (((((0 * P1 + t * P2 + 41) % M) * P1 + 99991) % M + 1) / M) * 40 < 6.0}
    assert set(hub_kept) == want
    assert 1 <= len(hub_kept) <= 15
    # partition-invariant
    rows2 = {(r["i"], r["j"]) for r in
             sparsify_by_degree(e.repartition(7), target_degree=6).collect()}
    assert rows2 == rows
