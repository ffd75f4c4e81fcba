"""Tests of the vector-similarity entries (operators/similarity.py): the
bitext margin against a pure-Python re-derivation, and its hub deflation.

The oracle gate (tools/check_oracle.py) certifies Spark == DuckDB. These
tests check both against a third computation over the same parquet (pure
Python, pandas or numpy, with no SQL engine in the loop where the entry
allows it), so a misunderstanding shared by the two SQL dialects cannot
pass, and they pin the edges the generated tables may not exercise.
"""

from __future__ import annotations

import duckdb

from tests.conftest import SF_DIR

from data_ingestion_api_system_spark.operators.similarity import DIMS


def _bitext_python():
    """Pure-Python re-derivation (third source, no SQL engine): left-to-
    right double folds for dot/norm exactly as both engines compute them,
    HALF_UP micro-unit rounding, integer margin arithmetic."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from data_ingestion_api_system_spark.operators.similarity import (
        BITEXT_K,
        BITEXT_MARGIN_PPM,
    )

    vecs = duckdb.sql(
        f"SELECT vec_id, label, CAST(embedding AS DOUBLE[]) "
        f"FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    ).fetchall()
    xs = [(i, l, v) for i, l, v in vecs if i % 7 == 0]
    ys = [(i, l, v) for i, l, v in vecs if i % 7 != 0]

    def norm(v):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return math.sqrt(acc)

    def cos6(av, bv):
        acc = 0.0
        for x, y in zip(av, bv):
            acc = acc + x * y
        c = acc / (norm(av) * norm(bv))
        return int(
            Decimal(c * 1000000).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )

    pairs = {}  # (x_id, y_id) -> (x_label, y_label, cos6)
    for xi, xl, xv in xs:
        for yi, yl, yv in ys:
            pairs[(xi, yi)] = (xl, yl, cos6(yv, xv))
    xstat = {}
    for xi, _, _ in xs:
        cands = sorted(
            ((pairs[(xi, yi)][2], yi) for yi, _, _ in ys),
            key=lambda t: (-t[0], t[1]),
        )[:BITEXT_K]
        xstat[xi] = (sum(c for c, _ in cands), len(cands))
    ystat = {}
    for yi, _, _ in ys:
        cands = sorted(
            ((pairs[(xi, yi)][2], xi) for xi, _, _ in xs),
            key=lambda t: (-t[0], t[1]),
        )[:BITEXT_K]
        ystat[yi] = (sum(c for c, _ in cands), len(cands))
    margins = {}
    for (xi, yi), (xl, yl, c6) in pairs.items():
        xn, xc = xstat[xi]
        yn, yc = ystat[yi]
        den = xn * yc + yn * xc
        if c6 > 0 and den > 0:
            margins[(xi, yi)] = (xl, yl, c6, 2 * c6 * xc * yc * 1000000 // den)
    back_best = {}
    for yi, _, _ in ys:
        cands = sorted(
            (
                (m[3], xi)
                for (xi, y2), m in margins.items()
                if y2 == yi
            ),
            key=lambda t: (-t[0], t[1]),
        )
        if cands:
            back_best[yi] = cands[0][1]
    out = {}
    for xi, _, _ in xs:
        cands = sorted(
            (
                (m[3], yi, m)
                for (x2, yi), m in margins.items()
                if x2 == xi
            ),
            key=lambda t: (-t[0], t[1]),
        )
        if not cands:
            continue
        mppm, yi, (xl, yl, c6, _) = cands[0]
        if mppm >= BITEXT_MARGIN_PPM:
            out[(xi, yi)] = (xl, yl, c6, mppm, back_best.get(yi) == xi)
    return out


def test_bitext_margin_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.similarity import (
        q_sim_bitext_margin,
    )

    got = {
        (r.x_id, r.y_id): (r.x_label, r.y_label, r.cos6, r.margin_ppm, r.mutual)
        for r in q_sim_bitext_margin(spark, SF_DIR).collect()
    }
    assert got == _bitext_python()
    assert got, "threshold mined nothing at sf0.001 — not a useful pin"


def test_bitext_margin_deflates_hubs(spark):
    """The behavioral edge margin mining exists for (Artetxe & Schwenk
    2019 §3): a hub vector with the highest RAW cosine to every query
    loses to each query's true partner once the kNN-average normalizer
    deflates it. Synthetic geometry: x_i = 0.6 e_i + 0.8 h (hub-leaning),
    partner y_i = 0.98 e_i + 0.199 h (raw cos 0.747 < hub's 0.8), hub =
    h. Raw-cosine best for every x is the hub; margin best must be the
    partner, mutual both ways."""
    import tempfile

    from data_ingestion_api_system_spark.operators import tune
    from data_ingestion_api_system_spark.operators.similarity import (
        DIMS,
        q_sim_bitext_margin,
    )

    tune(spark)
    m = 5

    def vec(i, a, b):
        v = [0.0] * DIMS
        v[i] = a
        v[DIMS - 1] = b
        return v

    rows = []
    for i in range(m):
        rows.append((i * 7, 0, vec(i, 0.6, 0.8)))  # x_i  (id % 7 == 0)
        rows.append((i * 7 + 1, 0, vec(i, 0.98, 0.199)))  # partner y_i
    rows.append((2 + 7 * m, 0, vec(0, 0.0, 1.0)))  # hub (id % 7 != 0)
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/embeddings.parquet")
        mined = {
            r.x_id: r for r in q_sim_bitext_margin(spark, tmp).collect()
        }
    assert set(mined) == {i * 7 for i in range(m)}
    for i in range(m):
        r = mined[i * 7]
        assert r.y_id == i * 7 + 1, "margin best must be the partner, not the hub"
        assert r.mutual
        assert r.margin_ppm >= 1_100_000
