"""Property test for the degree-oriented triangle kernel.

The registered keys are cross-checked against a DIFFERENT-orientation
DuckDB oracle at every fixture tier, but both run on the same trade
graph; this test pins the enumeration itself on SEEDED RANDOM graphs —
skewed degree distributions, isolated nodes, no triangles, near-complete
blocks — against an itertools brute force.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pytest

from yc_data_proc_metadata_import_spark.operators.analytics import (
    _TRI_BROADCAST_MAX_EDGES,
    _tri_triangles,
)


def _random_und(rng: np.random.RandomState, n_nodes: int, p: float):
    """Seeded undirected canonical (a < b) edge list."""
    edges = [
        (a, b)
        for a, b in combinations(range(n_nodes), 2)
        if rng.rand() < p
    ]
    return edges


def _brute_triangles(edges: list[tuple[int, int]]) -> set[tuple[int, int, int]]:
    es = set(edges)
    nodes = sorted({v for e in edges for v in e})
    return {
        (a, b, c)
        for a, b, c in combinations(nodes, 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    }


def test_degree_oriented_enumeration_matches_brute_force(spark):
    rng = np.random.RandomState(42)
    # densities straddle sparse (few/no triangles) to near-complete
    # (every wedge closes — the worst case for double-count bugs).
    for n_nodes, p in ((8, 0.15), (12, 0.35), (10, 0.9), (20, 0.25)):
        edges = _random_und(rng, n_nodes, p)
        if not edges:
            continue
        und = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "a long, b long"
        )
        got = {
            tuple(sorted((r["u"], r["v1"], r["v2"])))
            for r in _tri_triangles(und, len(edges)).collect()
        }
        want = _brute_triangles(edges)
        assert got == want, (n_nodes, p, got ^ want)
        # exactly-once: the collected row count equals the set size
        assert _tri_triangles(und, len(edges)).count() == len(want)


def test_edge_count_beyond_the_broadcast_bound_raises(spark):
    """The kernel broadcasts every relation it joins, so a graph larger
    than the bound those broadcasts rely on must raise, not broadcast.
    The row count is what the caller's materialization observed; here a
    tiny frame carries an overstated one."""
    und = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "a long, b long")
    assert _tri_triangles(und, _TRI_BROADCAST_MAX_EDGES).count() == 1
    with pytest.raises(ValueError, match="_TRI_BROADCAST_MAX_EDGES"):
        _tri_triangles(und, _TRI_BROADCAST_MAX_EDGES + 1)
