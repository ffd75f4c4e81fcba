"""Watermark + late-data semantics (SURVEY §2 Part B noted the reference
has none; the engine provides them): a file-source stream with a 5-minute
watermark drops events that arrive after their window's watermark passed.
"""

from __future__ import annotations

import time

from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import _ts


def test_watermark_drops_late_events(spark, stream_dir, tmp_path):
    schema = "event_id long, ts timestamp, value double"

    def write_batch(name: str, rows: list[Row]) -> None:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp_path}/staging_{name}")
        # atomically add one file to the watched dir = one micro-batch
        import glob
        import shutil

        src = glob.glob(f"{tmp_path}/staging_{name}/part-*.parquet")[0]
        shutil.copy(src, f"{stream_dir}/{name}.parquet")

    write_batch(
        "b0",
        [
            Row(event_id=1, ts=_ts(0, 30), value=1.0),
            Row(event_id=2, ts=_ts(2, 0), value=1.0),
            Row(event_id=3, ts=_ts(20, 0), value=1.0),  # advances watermark to 00:15
        ],
    )

    stream = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 0: ingests b0, watermark -> 00:15

        write_batch(
            "b1",
            [
                Row(event_id=4, ts=_ts(1, 0), value=1.0),  # LATE: before 00:15
                Row(event_id=5, ts=_ts(30, 0), value=1.0),  # fresh
            ],
        )
        q.processAllAvailable()  # batch 1: late row dropped, [00:00,00:05) emits
        time.sleep(1)
        rows = {
            r["w"]["start"].minute: r["n"]
            for r in spark.sql("SELECT * FROM wm_test").collect()
        }
        # the [00:00, 00:05) window finalized with ONLY the two on-time events;
        # event 4 (00:01, arrived after watermark 00:15) was dropped
        assert rows.get(0) == 2, rows
    finally:
        q.stop()
