"""Checkpointed streaming restart: the exactly-once resume contract that
makes a Structured Streaming deployment operable — a query stopped and
restarted over the same checkpoint must process each input file exactly
once, never replaying old data into the sink.

This is the property the streaming_* queries rely on in production
(SURVEY §3.4): offsets live in the checkpoint WAL,
the file sink commits atomically per epoch, and a restart picks up from
the last committed epoch.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _run_once(spark, src: str, out: str, chk: str) -> None:
    stream = spark.readStream.schema("id long, v double").parquet(src)
    q = (
        stream.withColumn("doubled", F.col("v") * 2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_restart_resumes_exactly_once(spark, tmp_path):
    src, out, chk = (str(tmp_path / d) for d in ("src", "out", "chk"))
    spark.range(0, 5).select(
        F.col("id"), (F.col("id") * 1.5).alias("v")
    ).coalesce(1).write.mode("append").parquet(src)

    _run_once(spark, src, out, chk)
    first = spark.read.parquet(out)
    assert sorted(r.id for r in first.collect()) == [0, 1, 2, 3, 4]

    # new input arrives while the query is down
    spark.range(5, 10).select(
        F.col("id"), (F.col("id") * 1.5).alias("v")
    ).coalesce(1).write.mode("append").parquet(src)

    # restart over the same checkpoint: only the new file is processed
    _run_once(spark, src, out, chk)
    rows = spark.read.parquet(out).collect()
    assert sorted(r.id for r in rows) == list(range(10))  # no replays, no gaps
    assert all(abs(r.doubled - r.id * 3.0) < 1e-12 for r in rows)
