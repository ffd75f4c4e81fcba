"""Tests for the custom stateful operator (applyInPandasWithState) and the
file-format connectors."""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_ingestion_api_system_spark.sources.formats import (
    convert_to_parquet,
    read_table,
    write_table,
)
from data_ingestion_api_system_spark.streaming.stateful import running_user_totals

EVENT_SCHEMA = "event_id long, user_id long, value double"


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """State accumulates across micro-batches: user 1 appears in both
    batches and its totals must carry over via the state store."""
    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()

    def write_batch(name, rows):
        staging = f"{tmp_path}/st_{name}"
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0], f"{stream_dir}/{name}.parquet"
        )

    write_batch(
        "b0",
        [Row(event_id=1, user_id=1, value=10.0), Row(event_id=2, user_id=2, value=5.0)],
    )

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(stream_dir))
    captured: list[dict] = []

    def capture(batch_df, _epoch):
        captured.extend(r.asDict() for r in batch_df.collect())

    q = (
        running_user_totals(stream)
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch(
            "b1",
            [Row(event_id=3, user_id=1, value=2.5), Row(event_id=4, user_id=3, value=1.0)],
        )
        q.processAllAvailable()
    finally:
        q.stop()

    by_user_latest = {}
    for row in captured:
        by_user_latest[row["user_id"]] = row
    assert by_user_latest[1]["n_events"] == 2
    assert by_user_latest[1]["total_value"] == pytest.approx(12.5)
    assert by_user_latest[2]["n_events"] == 1
    assert by_user_latest[3]["n_events"] == 1


@pytest.mark.parametrize("fmt", ["csv", "json", "orc", "xml"])
def test_format_roundtrip(spark, tmp_path, fmt):
    df = spark.createDataFrame(
        [Row(k=1, name="a", v=1.5), Row(k=2, name="b", v=2.5)],
        "k long, name string, v double",
    )
    path = str(tmp_path / f"out_{fmt}")
    write_table(df, path, fmt)
    back = read_table(spark, path, fmt, schema="k long, name string, v double")
    assert sorted((r.k, r.name, r.v) for r in back.collect()) == [
        (1, "a", 1.5),
        (2, "b", 2.5),
    ]


def test_convert_to_parquet_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [Row(day="2024-01-01", v=1), Row(day="2024-01-02", v=2)],
        "day string, v long",
    )
    src = str(tmp_path / "src_json")
    write_table(df, src, "json")
    dest = str(tmp_path / "dest_parquet")
    convert_to_parquet(spark, src, "json", dest, schema="day string, v long", partition_by=["day"])
    # partition-pruned layout: one subdir per day
    assert sorted(p.split("=")[-1] for p in glob.glob(f"{dest}/day=*")) == [
        "2024-01-01",
        "2024-01-02",
    ]
    back = read_table(spark, dest, "parquet")
    assert back.count() == 2


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution: a new column appears in later files; mergeSchema
    reads present the union schema with nulls for the old files — the
    add-a-column migration every long-lived table goes through."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([Row(k=1, v=1.0)], "k long, v double").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [Row(k=2, v=2.0, tag="new")], "k long, v double, tag string"
    ).write.mode("append").parquet(path)
    back = read_table(spark, path, "parquet", options={"mergeSchema": "true"})
    assert set(back.columns) == {"k", "v", "tag"}
    rows = {r.k: r.tag for r in back.collect()}
    assert rows == {1: None, 2: "new"}
