"""Tests of the graph entries (operators/relational3.py): Adamic-Adar
against a pure-Python wedge sum, and the 1-ulp safety of its fixed-point
floor for every degree the graph can produce.

The oracle gate (tools/check_oracle.py) certifies Spark == DuckDB. These
tests check both against a third computation over the same parquet (pure
Python, pandas or numpy, with no SQL engine in the loop where the entry
allows it), so a misunderstanding shared by the two SQL dialects cannot
pass, and they pin the edges the generated tables may not exercise.
"""

from __future__ import annotations

import math
from collections import defaultdict

from tests.conftest import SF_DIR

from data_ingestion_api_system_spark.operators.relational3 import (
    _brand_edges,
    q_graph_adamic_adar,
)


def test_adamic_adar_matches_pure_python(spark):
    """Re-derive AA from the SAME pinned edge list the operator reads
    (``_brand_edges`` is certified through graph_common_neighbors /
    triangle_count), so this pins the wedge+weight math independently of
    both SQL engines' aggregate paths."""
    edges = [(r.a, r.b) for r in _brand_edges(spark, SF_DIR).collect()]
    adj: dict[str, set[str]] = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = {n: len(vs) for n, vs in adj.items()}
    expected = {}
    for a, b in edges:
        commons = adj[a] & adj[b]
        aa = sum(math.floor(1_000_000_000 / math.log(deg[z])) for z in commons)
        expected[(a, b)] = (len(commons), aa)
    got = {
        (r.brand_a, r.brand_b): (r.common_neighbors, r.aa_x9)
        for r in q_graph_adamic_adar(spark, SF_DIR).collect()
    }
    assert got == expected
    # vacuity pin: some edges share neighbors, some don't
    assert any(c > 0 for c, _ in expected.values())
    assert any(c == 0 for c, _ in expected.values())


def test_adamic_adar_floor_is_ulp_safe():
    """floor(1e9 / ln(d)) must not sit within engine-rounding distance of
    an integer boundary, or the two engines could disagree by 1. One ulp
    of 1e9/ln(2) is ~2e-7. TOP_EDGES=120 bounds a node's degree
    structurally, and inside that domain the worst margin is 0.0135
    (d=72) — ~10^5 ulps. Sweep far past it anyway at a 50-ulp bar (the
    tightest in 2..4096 is d=2063 at 1.76e-4, still ~880 ulps)."""
    from data_ingestion_api_system_spark.operators.relational3 import TOP_EDGES

    for d in range(2, 4097):
        x = 1_000_000_000 / math.log(d)
        frac = x - math.floor(x)
        margin = min(frac, 1 - frac)
        assert margin > 1e-5, d
        if d <= TOP_EDGES:
            assert margin > 1e-2, d
