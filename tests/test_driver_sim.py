"""Driver-contract simulation: the driver calls __spark_entry__ with ITS
OWN session (not our factory), so nothing may depend on get_spark()'s confs.
The registry (operators.collect_queries) applies operators.tune() before
every entry — pinned here for all entries with a stub session, and end to
end by starting from a hostile session (non-UTC, AQE off) and checking a
timestamp-bucketing query against DuckDB."""

from __future__ import annotations

from contextlib import contextmanager

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

_CONTRACT = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}


def test_entry_contract(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert len(df.schema.fields) > 0


def test_registry_dicts_aligned():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 100


class _Used(Exception):
    pass


class _Untouchable:
    """A session stand-in that raises on first use."""

    def __getattr__(self, name):
        raise _Used(name)


def test_registry_tunes_every_entry_first(spark, monkeypatch):
    """Every collect_queries() callable hands its session to tune() before
    the entry body touches it. The stub raises at the body's first use, so
    no DataFrame is built. The real session is only the active context
    that entries defining a UDF need before that first use."""
    from data_ingestion_api_system_spark import operators

    seen = []
    monkeypatch.setattr(operators, "tune", lambda s: seen.append(s) or s)
    untuned = []
    for name, fn in operators.collect_queries()[0].items():
        stub = _Untouchable()
        seen.clear()
        with pytest.raises(_Used):
            fn(stub, SF_DIR)
        if seen != [stub]:
            untuned.append(name)
    assert not untuned, untuned


@contextmanager
def _hostile(spark):
    """What a caller's session could look like: America/New_York, AQE and
    partition coalescing off. The test session's confs come back after."""
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        yield
    finally:
        for k, v in _CONTRACT.items():
            spark.conf.set(k, v)


def test_window_query_survives_non_utc_session(spark):
    """On a hostile session, the tumbling-window query must pin UTC so the
    window bucket counts match DuckDB's naive-timestamp arithmetic exactly,
    and both it and the entry() smoke check leave all three contract confs
    set."""
    with _hostile(spark):
        df = entrymod.queries()["events_tumbling_window"](spark, SF_DIR)
        got = df.agg({"n_events": "sum"}).collect()[0][0]
        n_rows = df.count()
        after_query = {k: spark.conf.get(k) for k in _CONTRACT}
    with _hostile(spark):
        entrymod.entry(spark).collect()
        after_entry = {k: spark.conf.get(k) for k in _CONTRACT}
    assert after_query == _CONTRACT
    assert after_entry == _CONTRACT

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    want_rows, want_events = con.execute(
        "SELECT count(*), sum(n) FROM (SELECT time_bucket(INTERVAL 5 MINUTE, ts) w,"
        " event_type, count(*) n FROM events GROUP BY 1, 2)"
    ).fetchone()
    assert n_rows == want_rows
    assert got == want_events
