"""Tests of the event-analytics entries (operators/events.py): activity
streaks and DAU/WAU stickiness.

The oracle gate (tools/check_oracle.py) certifies Spark == DuckDB. These
tests check both against a third computation over the same parquet (pure
Python, pandas or numpy, with no SQL engine in the loop where the entry
allows it), so a misunderstanding shared by the two SQL dialects cannot
pass, and they pin the edges the generated tables may not exercise.
"""

from __future__ import annotations

from collections import defaultdict
from datetime import timedelta

import duckdb

from tests.conftest import SF_DIR

from data_ingestion_api_system_spark.operators.events import (
    DAU_WAU_WINDOW,
    q_events_dau_wau,
    q_events_streaks,
)


def _user_days(sf_dir: str):
    rows = duckdb.sql(
        f"SELECT DISTINCT user_id, CAST(ts AS DATE) FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    by_user: dict[int, set] = defaultdict(set)
    for uid, d in rows:
        by_user[uid].add(d)
    return by_user


def test_streaks_matches_pure_python(spark):
    out = {r.user_id: r for r in q_events_streaks(spark, SF_DIR).collect()}
    for uid, days in _user_days(SF_DIR).items():
        streaks = []
        run = 0
        prev = None
        for d in sorted(days):
            if prev is not None and (d - prev).days == 1:
                run += 1
            else:
                if run:
                    streaks.append(run)
                run = 1
            prev = d
        streaks.append(run)
        r = out[uid]
        assert r.n_active_days == len(days)
        assert r.n_streaks == len(streaks)
        assert r.longest_streak == max(streaks)
        assert r.latest_streak == streaks[-1]


def test_dau_wau_matches_pure_python(spark):
    out = {r.day: r for r in q_events_dau_wau(spark, SF_DIR).collect()}
    by_user = _user_days(SF_DIR)
    all_days = sorted({d for days in by_user.values() for d in days})
    lo, hi = all_days[0], all_days[-1]
    d = lo
    expect = {}
    while d <= hi:
        dau = sum(1 for days in by_user.values() if d in days)
        wau = sum(
            1
            for days in by_user.values()
            if any(d - timedelta(days=o) in days for o in range(DAU_WAU_WINDOW))
        )
        if dau:  # the entry inner-joins DAU and WAU, so DAU=0 days drop
            expect[d.isoformat()] = (dau, wau, dau * 1_000_000 // wau)
        d += timedelta(days=1)
    assert set(out) == set(expect)
    for day, (dau, wau, ppm) in expect.items():
        r = out[day]
        assert (r.dau, r.wau, r.stickiness_ppm) == (dau, wau, ppm)
        assert r.wau >= r.dau  # trailing window always covers the day itself
