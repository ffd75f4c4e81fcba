"""Tests of the range-join entries (operators/rangejoin.py): the geo radius
join against a pure-Python distance scan, with a check that the grid-cell
neighborhood covers the radius.

The oracle gate (tools/check_oracle.py) certifies Spark == DuckDB. These
tests check both against a third computation over the same parquet (pure
Python, pandas or numpy, with no SQL engine in the loop where the entry
allows it), so a misunderstanding shared by the two SQL dialects cannot
pass, and they pin the edges the generated tables may not exercise.
"""

from __future__ import annotations

import hashlib

import duckdb

from tests.conftest import SF_DIR

from data_ingestion_api_system_spark.operators.rangejoin import (
    GRID,
    PACK,
    R2,
    RADIUS,
    q_geo_radius_join,
)


def _grid_point_py(key: int, salt: str) -> int:
    return int(hashlib.md5(f"{salt}{key}".encode()).hexdigest()[:6], 16) % GRID


def test_geo_radius_join_matches_pure_python(spark):
    """Brute-force quadratic NN-in-radius in python vs the cell-bucketed
    plan — the losslessness proof for cell size = radius."""
    custs = [
        r[0]
        for r in duckdb.sql(
            f"SELECT c_custkey FROM read_parquet('{SF_DIR}/customer.parquet')"
        ).fetchall()
    ]
    supps = [
        r[0]
        for r in duckdb.sql(
            f"SELECT s_suppkey FROM read_parquet('{SF_DIR}/supplier.parquet')"
        ).fetchall()
    ]
    spts = [(k, _grid_point_py(k, "sx"), _grid_point_py(k, "sy")) for k in supps]
    expected = {}
    for ck in custs:
        x, y = _grid_point_py(ck, "cx"), _grid_point_py(ck, "cy")
        hits = [
            (sk, (x - sx) ** 2 + (y - sy) ** 2)
            for sk, sx, sy in spts
            if (x - sx) ** 2 + (y - sy) ** 2 <= R2
        ]
        if hits:
            best = min(d2 * PACK + sk for sk, d2 in hits)
            expected[ck] = (len(hits), best % PACK, best // PACK)
    got = {
        r.c_custkey: (r.n_in_radius, r.nearest_suppkey, r.nearest_d2)
        for r in q_geo_radius_join(spark, SF_DIR).collect()
    }
    assert got == expected
    # the radius must bite both ways at this SF: matched and unmatched
    # customers both exist
    assert 0 < len(expected) < len(custs)


def test_geo_cell_neighborhood_covers_radius():
    """Cell size = RADIUS ⟹ any in-radius point is within one cell index
    on each axis — the property that makes the equi-join rewrite exact.
    Exhaustive over the worst case: points at opposite cell-border
    extremes."""
    assert RADIUS * RADIUS == R2
    for x1 in (0, RADIUS - 1, RADIUS, GRID - 1):
        for dx in range(-RADIUS, RADIUS + 1, RADIUS // 4):
            x2 = x1 + dx
            if not (0 <= x2 < GRID):
                continue
            if dx * dx <= R2:
                assert abs(x1 // RADIUS - x2 // RADIUS) <= 1
