"""Loader-drift regression: the driver's events.parquet has shipped ``ts``
as TIMESTAMP(NANOS) (round 1-3 testdata) and as plain timestamp[us]
(round 4+). ``load_table`` and the events stream source must yield
identical instants for both — the environment changed once; it can change
again. Both resolve the read schema from the parquet footer, so neither
starts a Spark job."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from data_ingestion_api_system_spark.streaming.jobs import _events_stream, _run_to_memory
from data_ingestion_api_system_spark.tables import (
    TABLE_NAMES,
    footer_schema,
    load_table,
    load_tables,
    table_path,
)

_INSTANTS_US = [
    1704067200_000000,  # 2024-01-01T00:00:00
    1704067200_123456,  # sub-second precision survives
    1706738776_220708,
]


def _write_events(path, ts_array):
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(_INSTANTS_US)), pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([1] * len(_INSTANTS_US), pa.int64()),
            "event_type": pa.array(["click"] * len(_INSTANTS_US)),
            "value": pa.array([1.0] * len(_INSTANTS_US)),
            "props": pa.array(["{}"] * len(_INSTANTS_US)),
        }
    )
    pq.write_table(tbl, path)


@pytest.fixture(scope="module")
def encodings(tmp_path_factory):
    """Two sf-dir fixtures with the same instants in each ts encoding."""
    us_dir = tmp_path_factory.mktemp("sf_us")
    ns_dir = tmp_path_factory.mktemp("sf_ns")
    _write_events(
        us_dir / "events.parquet",
        pa.array(_INSTANTS_US, pa.timestamp("us")),
    )
    _write_events(
        ns_dir / "events.parquet",
        pa.array([v * 1000 for v in _INSTANTS_US], pa.timestamp("ns")),
    )
    return str(us_dir), str(ns_dir)


def test_footer_probe(encodings):
    us_dir, ns_dir = encodings
    us_ts = footer_schema(table_path(us_dir, "events"))["ts"]
    assert us_ts.dataType == T.TimestampType()
    # NANOS: declared as raw int64, marked for the timestamp_micros rewrite
    ns_ts = footer_schema(table_path(ns_dir, "events"))["ts"]
    assert ns_ts.dataType == T.LongType() and ns_ts.metadata


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_footer_schema_matches_inferred(spark, sf):
    """The footer schema is the one Spark infers, apart from the one
    documented timestamp rule: a naive timestamp column, inferred as
    TimestampNTZType, is declared TimestampType."""
    for name in TABLE_NAMES:
        path = table_path(f"/root/testdata/{sf}", name)
        inferred = T.StructType(
            [
                T.StructField(f.name, T.TimestampType(), f.nullable)
                if isinstance(f.dataType, T.TimestampNTZType)
                else f
                for f in spark.read.parquet(path).schema.fields
            ]
        )
        assert footer_schema(path) == inferred, name


def _job_ids(spark, group, build):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        build()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_table_resolution_starts_no_spark_job(spark):
    """Loading every table and building the events stream source read
    parquet footers on the driver: no Spark job runs."""
    sf_dir = "/root/testdata/sf0.01"
    assert _job_ids(spark, "load-probe", lambda: load_tables(spark, sf_dir)) == []
    assert _job_ids(spark, "stream-probe", lambda: _events_stream(spark, sf_dir)) == []


def test_stream_source_same_instants(spark, encodings):
    """The events stream source reads both ts encodings as the instants
    ``load_table`` reads."""
    for d in encodings:
        streamed = _run_to_memory(_events_stream(spark, d), mode="append")
        batch = load_table(spark, d, "events")
        assert streamed.schema == batch.schema
        assert sorted(streamed.collect()) == sorted(batch.collect())


def test_stream_source_reads_directory_of_parts(spark, tmp_path):
    """An events table stored as a directory of part files streams every
    row ``load_table`` reads."""
    (tmp_path / "events.parquet").mkdir()
    _write_events(
        tmp_path / "events.parquet" / "part-00000.parquet",
        pa.array(_INSTANTS_US, pa.timestamp("us")),
    )
    streamed = _run_to_memory(_events_stream(spark, str(tmp_path)), mode="append")
    batch = load_table(spark, str(tmp_path), "events")
    assert streamed.count() == batch.count() == len(_INSTANTS_US)


def test_both_encodings_same_instants(spark, encodings):
    us_dir, ns_dir = encodings
    got = {}
    for label, d in (("us", us_dir), ("ns", ns_dir)):
        df = load_table(spark, d, "events")
        assert [f.name for f in df.schema.fields] == [
            "event_id", "ts", "user_id", "event_type", "value", "props",
        ]
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        got[label] = sorted(
            (r.event_id, r.ts) for r in df.select("event_id", "ts").collect()
        )
    assert got["us"] == got["ns"]
    # and the absolute wall clocks are the ones we wrote
    assert got["us"][0][1] == dt.datetime(2024, 1, 1, 0, 0, 0)
    assert got["us"][1][1] == dt.datetime(2024, 1, 1, 0, 0, 0, 123456)


def test_current_testdata_loads(spark):
    """Whatever encoding the live testdata uses, the loader must read it."""
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert df.count() > 0
