"""Independent re-derivations for the round-7f operators — CUSUM
changepoint, MAD outlier report, seasonal-naive backtest, and word-entropy
scoring. The oracle gate certifies Spark == DuckDB; these tests certify
both against a THIRD computation (pure Python / numpy), so a shared
misunderstanding between the twin SQL dialects cannot slip through.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import duckdb
import pytest

from tests.conftest import SF_DIR

from data_ingestion_api_system_spark.operators.insights import (
    MAD_K,
    q_dq_mad_outliers,
    q_events_cusum_changepoint,
    q_events_seasonal_backtest,
)
from data_ingestion_api_system_spark.operators.text import q_text_entropy_score


def _daily(sf_dir: str):
    rows = duckdb.sql(
        f"SELECT event_type, CAST(ts AS DATE), count(*) FROM "
        f"read_parquet('{sf_dir}/events.parquet') GROUP BY 1, 2"
    ).fetchall()
    series: dict[str, dict] = defaultdict(dict)
    for et, d, y in rows:
        series[et][d] = y
    return series


# ---------------------------------------------------------------------------
# events_cusum_changepoint
# ---------------------------------------------------------------------------

def test_cusum_matches_pure_python(spark):
    out = {r.event_type: r for r in q_events_cusum_changepoint(spark, SF_DIR).collect()}
    for et, by_day in _daily(SF_DIR).items():
        days = sorted(by_day)
        n, total = len(days), sum(by_day.values())
        best = None
        prefix = 0
        for i, d in enumerate(days, start=1):
            prefix += by_day[d]
            s = abs(n * prefix - i * total)
            if best is None or s > best[0]:
                best = (s, d)
        r = out[et]
        assert r.n_days == n
        assert r.cusum_scaled_max == best[0]
        assert r.changepoint_day == best[1].isoformat()


# ---------------------------------------------------------------------------
# dq_mad_outliers
# ---------------------------------------------------------------------------

def _median(xs: list) -> float:
    xs = sorted(xs)
    n = len(xs)
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


def test_mad_outliers_matches_pure_python(spark):
    out = {r.event_type: r for r in q_dq_mad_outliers(spark, SF_DIR).collect()}
    rows = duckdb.sql(
        f"SELECT event_type, value FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    vals: dict[str, list] = defaultdict(list)
    for et, v in rows:
        vals[et].append(v)
    for et, vs in vals.items():
        med = _median(vs)
        adev = [abs(v - med) for v in vs]
        mad = _median(adev)
        n_out = sum(1 for a in adev if a > MAD_K * mad)
        r = out[et]
        assert r.n == len(vs)
        assert abs(r.median - med) < 1e-6
        assert abs(r.mad - mad) < 1e-6
        assert r.n_outliers == n_out
        # robustness sanity: outliers exist but are a small minority
        assert 0 <= n_out < len(vs) * 0.2


# ---------------------------------------------------------------------------
# events_seasonal_backtest
# ---------------------------------------------------------------------------

def test_seasonal_backtest_matches_pure_python(spark):
    out = {r.event_type: r for r in q_events_seasonal_backtest(spark, SF_DIR).collect()}
    from datetime import timedelta

    for et, by_day in _daily(SF_DIR).items():
        for shift, (n_col, e_col, ppm_col) in {
            7: ("n_eval7", "abs_err7", "mae7_ppm"),
            1: ("n_eval1", "abs_err1", "mae1_ppm"),
        }.items():
            pairs = [
                (y, by_day[d - timedelta(days=shift)])
                for d, y in by_day.items()
                if d - timedelta(days=shift) in by_day
            ]
            r = out[et]
            assert getattr(r, n_col) == len(pairs)
            err = sum(abs(a - b) for a, b in pairs)
            assert getattr(r, e_col) == err
            assert getattr(r, ppm_col) == err * 1_000_000 // len(pairs)


# ---------------------------------------------------------------------------
# text_entropy_score
# ---------------------------------------------------------------------------

def test_entropy_matches_pure_python(spark):
    out = {r.doc_id: r for r in q_text_entropy_score(spark, SF_DIR).collect()}
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    import re

    for did, text in docs:
        # ASCII-flagged to mirror the JVM \s+ exactly (see test_round6b)
        toks = [t.lower() for t in re.split(r"\s+", text, flags=re.ASCII) if t]
        if not toks:
            assert did not in out
            continue
        counts = Counter(toks)
        n = len(toks)
        # exact integer pipeline: per-term round-6 of ln, decimal sum, then
        # half-up integer division into micro-nats
        s = -sum(c * round(round(math.log(c / n), 6) * 1_000_000) for c in counts.values())
        micro = (2 * s + n) // (2 * n)
        r = out[did]
        assert r.n_tokens == n
        assert r.n_distinct == len(counts)
        assert r.entropy_micronats == micro
        # entropy bounds: 0 <= H <= ln(n_distinct)
        assert 0 <= r.entropy_micronats <= math.log(len(counts)) * 1e6 + 1


# ---------------------------------------------------------------------------
# streaming_static_enrich
# ---------------------------------------------------------------------------

def test_stream_static_enrich_equals_batch_join(spark):
    from data_ingestion_api_system_spark.streaming.jobs import (
        q_streaming_static_enrich,
    )

    out = {
        r.c_mktsegment: (r.n_events, r.n_users, r.sum_value)
        for r in q_streaming_static_enrich(spark, SF_DIR).collect()
    }
    rows = duckdb.sql(
        f"SELECT c_mktsegment, user_id, value "
        f"FROM read_parquet('{SF_DIR}/events.parquet') e "
        f"JOIN read_parquet('{SF_DIR}/customer.parquet') c "
        f"ON e.user_id = c.c_custkey"
    ).fetchall()
    from decimal import Decimal

    per_seg: dict[str, dict] = defaultdict(lambda: {"n": 0, "u": set(), "s": Decimal(0)})
    for seg, uid, v in rows:
        a = per_seg[seg]
        a["n"] += 1
        a["u"].add(uid)
        a["s"] += Decimal(str(round(v, 4)))
    assert set(out) == set(per_seg)
    for seg, a in per_seg.items():
        n, u, s = out[seg]
        assert (n, u) == (a["n"], len(a["u"]))
        assert abs(s - float(round(a["s"], 2))) < 1e-9


# ---------------------------------------------------------------------------
# sim_pq_adc_search
# ---------------------------------------------------------------------------

def test_pq_adc_search_matches_numpy(spark):
    import numpy as np

    from data_ingestion_api_system_spark.operators.similarity import (
        ADC_TOPK,
        PQ_CODES,
        PQ_SUBDIM,
        PQ_SUBSPACES,
        q_sim_pq_adc_search,
    )

    rows = duckdb.sql(
        f"SELECT vec_id, label, CAST(embedding AS DOUBLE[]) FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    vecs = {vid: np.array(v) for vid, _, v in rows}
    labels = {vid: lab for vid, lab, _ in rows}

    def split(v):
        return [v[s * PQ_SUBDIM:(s + 1) * PQ_SUBDIM] for s in range(PQ_SUBSPACES)]

    book = {s: [split(vecs[c])[s] for c in range(PQ_CODES)] for s in range(PQ_SUBSPACES)}
    q = split(vecs[0])
    adc = {}
    for vid, v in vecs.items():
        if vid == 0:
            continue
        total = 0.0
        for s, sv in enumerate(split(v)):
            dists = [float(((sv - c) ** 2).sum()) for c in book[s]]
            code = min(range(PQ_CODES), key=lambda c: (dists[c], c))
            total += float(((q[s] - book[s][code]) ** 2).sum())
        adc[vid] = total
    expect = sorted(adc, key=lambda vid: (adc[vid], vid))[:ADC_TOPK]

    out = {r.vec_id: r for r in q_sim_pq_adc_search(spark, SF_DIR).collect()}
    assert set(out) == set(expect)
    for vid in expect:
        r = out[vid]
        assert r.label == labels[vid]
        assert abs(r.adc_dist - adc[vid]) < 1e-4  # numpy sums reorder
        exact = float(((vecs[vid] - vecs[0]) ** 2).sum())
        assert abs(r.exact_dist - exact) < 1e-4
        # ADC approximates exact within the quantization error scale:
        # sanity-bound, not a tight guarantee
        assert r.adc_dist >= 0 and r.exact_dist >= 0


# ---------------------------------------------------------------------------
# io_partitioned_roundtrip
# ---------------------------------------------------------------------------

def test_io_roundtrip_preserves_rows_and_prunes(spark):
    import os

    from data_ingestion_api_system_spark.operators.io import (
        IO_KEEP_TYPES,
        _dest,
        q_io_partitioned_roundtrip,
    )

    out = {r.event_type: r for r in q_io_partitioned_roundtrip(spark, SF_DIR).collect()}
    expect = duckdb.sql(
        f"SELECT event_type, count(*), count(DISTINCT event_id), "
        f"count(DISTINCT user_id) FROM read_parquet('{SF_DIR}/events.parquet') "
        f"WHERE event_type IN {IO_KEEP_TYPES!r} GROUP BY 1"
    ).fetchall()
    assert {e[0] for e in expect} == set(out)
    for et, n, nid, nu in expect:
        r = out[et]
        assert (r.n_events, r.n_distinct_ids, r.n_users) == (n, nid, nu)
    # the write really produced one directory per type (Hive layout)
    dest = _dest(spark, SF_DIR)
    parts = {d for d in os.listdir(dest) if d.startswith("event_type=")}
    assert len(parts) == 5
    # and the read-back plan prunes to the two requested directories
    from data_ingestion_api_system_spark.sources.formats import read_table
    from pyspark.sql import functions as F

    plan = (
        read_table(spark, dest, "parquet")
        .filter(F.col("event_type").isin(*IO_KEEP_TYPES))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_roundtrip_root_follows_session_warehouse(tmp_path):
    """Round trips write under the session's warehouse (a ``file:`` URI),
    not a fixed path in the checkout, and the first use sweeps the pid dir
    of a process that died without its atexit removal."""
    import os
    import subprocess

    from data_ingestion_api_system_spark.operators.io import _roundtrip_root

    dead = subprocess.Popen(["true"])
    dead.wait()
    orphan = tmp_path / "wh" / "io_roundtrip" / f"pid{dead.pid}"
    orphan.mkdir(parents=True)
    root = _roundtrip_root(f"file:{tmp_path}/wh")
    assert root == f"{tmp_path}/wh/io_roundtrip/pid{os.getpid()}"
    assert not orphan.exists()


# ---------------------------------------------------------------------------
# arrow_cents_ledger (mapInArrow)
# ---------------------------------------------------------------------------

def test_arrow_cents_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.relational2 import (
        q_arrow_cents_ledger,
    )

    out = {r.event_type: r for r in q_arrow_cents_ledger(spark, SF_DIR).collect()}
    rows = duckdb.sql(
        f"SELECT event_type, value FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    ledger: dict[str, list] = defaultdict(list)
    for et, v in rows:
        x = v * 100.0
        # SQL ROUND: half away from zero (values are positive here)
        ledger[et].append(math.floor(x + 0.5))
    for et, cents in ledger.items():
        r = out[et]
        assert r.n_events == len(cents)
        assert r.total_cents == sum(cents)
        assert (r.min_cents, r.max_cents) == (min(cents), max(cents))


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-q"]))
