"""Focused tests for the streaming state-partition derivation
(_stream_shuffle_partitions) and the contract of _run_to_memory: the
input-size-derived count must scale linearly with bytes, respect
floor/cap, and never leak into the shared session's batch queries; and
each run's memory-sink view is dropped by release_pins()."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from data_ingestion_api_system_spark.streaming import jobs
from data_ingestion_api_system_spark.streaming.jobs import (
    _run_to_memory,
    _stream_shuffle_partitions,
)

SF_DIR = "/root/testdata/sf0.001"


def test_derivation_floor_is_one_for_tiny_input(spark):
    # sf0.001 events.parquet is ~KBs — far under one 32 MB target
    assert _stream_shuffle_partitions(spark, SF_DIR) == 1


def test_derivation_scales_with_bytes(spark, monkeypatch, tmp_path):
    # a genuinely multi-MB input (ADVICE r14: sf0.001 events.parquet is
    # under 1 MB, so the old form of this test only re-proved the floor):
    # write a ~3.5 MB events.parquet under tmp_path and assert the derived
    # count is >1 and matches the ceiling formula exactly
    src = tmp_path / "events.parquet"
    src.write_bytes(b"\0" * (3 * 1024 * 1024 + 512 * 1024))
    nbytes = src.stat().st_size
    target_mb = 1
    monkeypatch.setattr(jobs, "_STREAM_TARGET_BYTES", target_mb * 1024 * 1024)
    expect = -(-nbytes // (target_mb * 1024 * 1024))  # ceil -> 4
    cap = spark.sparkContext.defaultParallelism * 4
    got = _stream_shuffle_partitions(spark, str(tmp_path))
    assert got == max(1, min(cap, expect))
    assert got > 1


def test_derivation_caps_at_4x_parallelism(spark, monkeypatch):
    # a one-byte target asks for a partition per byte; the cap bounds it
    monkeypatch.setattr(jobs, "_STREAM_TARGET_BYTES", 1)
    cap = spark.sparkContext.defaultParallelism * 4
    assert 1 <= _stream_shuffle_partitions(spark, SF_DIR) <= cap


def test_run_to_memory_restores_session_conf(spark):
    from data_ingestion_api_system_spark.streaming.jobs import _events_stream

    before = spark.conf.get("spark.sql.shuffle.partitions")
    agg = (
        _events_stream(spark, SF_DIR)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_memory(agg, mode="complete", shuffle_partitions=1)
    assert out.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_release_pins_drops_memory_sink_views(spark):
    from data_ingestion_api_system_spark.operators import release_pins

    def sink_views():
        return {
            t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")
        }

    release_pins()
    before = sink_views()
    for _ in range(2):
        assert jobs.q_streaming_dedup(spark, SF_DIR).count() > 0
    assert len(sink_views() - before) == 2
    release_pins()
    assert sink_views() == set()
