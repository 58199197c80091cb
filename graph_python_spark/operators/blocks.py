"""The cached adjacency table: the loop-invariant CSR operand of the
iterative sweeps (PageRank, components, label propagation).

``adjacency_table`` groups an edge list into one deduplicated neighbor
array per source, hash-partitioned by source, built once per job by a numpy
segment walk over Arrow batches.  The per-iteration SpMV stays a plain
DataFrame plan: ``explode`` of the arrays feeding a partial + final
⊕-aggregate, whose map-side combine bounds a hub's reduce input by the
number of map tasks, not by its in-degree (BASELINE.md, "hub skew in the
PageRank dst aggregate").
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def adjacency_table(edges: DataFrame, src: str = "s", dst: str = "d",
                    partitions: Optional[int] = None,
                    max_chunk: int = 4_000_000) -> DataFrame:
    """Group an edge list into cached, deduplicated adjacency rows
    ``(s, ds: array<long>, deg: long)`` hash-partitioned by s — the
    per-partition CSR block of the north star, built ONCE per job.

    Hub rows are SEGMENTED: a vertex with degree above ``max_chunk`` emits
    ⌈deg/max_chunk⌉ rows, each carrying a bounded ``ds`` slice plus the
    vertex's TOTAL degree in ``deg``.  On power-law graphs a 10⁸-degree hub
    would otherwise be a single ~800 MB array cell that blows Arrow batch /
    record limits during build and cache; chunking bounds every cell at
    max_chunk×8 B, and downstream explode+⊕ consumers are associative so
    the split is exact (chunks are disjoint slices of the sorted, deduped
    neighbor list).

    This is the loop-invariant operand of every iterative sweep: the
    per-iteration join then probes O(V) adjacency rows instead of O(E) edge
    rows, and the O(E) fan-out happens inline via ``explode`` in the same
    whole-stage-codegen span as the partial aggregation that follows.
    Measured 4× over the edge-join loop at 57M edges (BASELINE.md).  Per-row
    arrays are bounded by max degree; a hub row's explode is one task's
    sequential scan, and the downstream partial agg caps shuffle volume at
    O(distinct dst per partition).

    Build strategy: one hash(s) shuffle + in-partition sort, then the array
    segments are assembled in numpy over Arrow batches (``mapInPandas``).
    This is 3× faster than ``collect_set`` (measured 55s vs 172s at 57M
    edges / 10M rows): Spark's set/list aggregates run on the object-hash
    path with a sort-based fallback, while here the sort is JVM radix sort
    and the segment walk is vectorized.  ``ds`` comes out sorted + deduped
    (np.unique), giving deterministic array order.
    """
    import numpy as np  # local: keep module import light on executors
    import pandas as pd

    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    part = e.repartition(partitions, "s") if partitions else e.repartition("s")
    sorted_e = part.sortWithinPartitions("s", "d")

    def build(batches):
        buf_s: list[int] = []
        buf_ds: list[np.ndarray] = []
        buf_deg: list[int] = []
        pend_s = None
        pend: list[np.ndarray] = []

        def flush_group():
            nonlocal pend_s, pend
            if pend_s is not None:
                arr = np.concatenate(pend) if len(pend) > 1 else pend[0]
                uniq = np.unique(arr)
                deg = len(uniq)
                # hub segmentation: bounded array cells, total degree on
                # every chunk row so consumers never need a second pass
                for lo in range(0, deg, max_chunk):
                    buf_s.append(pend_s)
                    buf_ds.append(uniq[lo:lo + max_chunk])
                    buf_deg.append(deg)
            pend_s = None
            pend = []

        for pdf in batches:
            ss = pdf["s"].to_numpy()
            dd = pdf["d"].to_numpy()
            if len(ss) == 0:
                continue
            starts = np.flatnonzero(np.r_[True, ss[1:] != ss[:-1]])
            bounds = np.r_[starts, len(ss)]
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                key = int(ss[lo])
                if pend_s == key:
                    pend.append(dd[lo:hi])
                else:
                    flush_group()
                    pend_s = key
                    pend = [dd[lo:hi]]
            if len(buf_s) >= 200000:
                yield pd.DataFrame({"s": buf_s, "ds": buf_ds, "deg": buf_deg})
                buf_s, buf_ds, buf_deg = [], [], []
        flush_group()
        if buf_s:
            yield pd.DataFrame({"s": buf_s, "ds": buf_ds, "deg": buf_deg})

    built = sorted_e.mapInPandas(build, "s long, ds array<long>, deg long")
    # mapInPandas output carries no partitioning metadata; re-assert hash(s)
    # (one extra O(V) shuffle at build time) so the cached plan advertises
    # HashPartitioning and the per-iteration join needs NO exchange on the
    # adjacency side.
    built = built.repartition(partitions, "s") if partitions else built.repartition("s")
    return built.cache()
