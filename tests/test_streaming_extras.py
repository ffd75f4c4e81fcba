"""Streaming state-management extras beyond the certified window jobs:

- ``dropDuplicatesWithinWatermark``: replay-guard dedup whose state store
  is BOUNDED by the watermark (the production form of streaming_dedup —
  plain streaming ``dropDuplicates`` keeps every key forever).
- ``foreachBatch`` merge sink: per-micro-batch MERGE into a persistent
  aggregate state table — the idempotent upsert sink the jobs module's
  docstring prescribes for production deployment.

The reference has no streaming formalisms (SURVEY §2 Part B); these pin
the Spark-native semantics the engine adds on top.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import _ts


def _write_batch(spark, tmp_path, stream_dir, name: str, rows, schema) -> None:
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/staging_{name}"
    )
    src = glob.glob(f"{tmp_path}/staging_{name}/part-*.parquet")[0]
    shutil.copy(src, f"{stream_dir}/{name}.parquet")


def test_drop_duplicates_within_watermark(spark, stream_dir, tmp_path):
    """Duplicates arriving within the watermark delay are suppressed; once
    the watermark passes a key's event time its dedup state is evicted, so
    a much-later replay is re-emitted — the bounded-state contract."""
    schema = "event_id long, ts timestamp, value double"

    _write_batch(
        spark,
        tmp_path,
        stream_dir,
        "b0",
        [
            Row(event_id=1, ts=_ts(0, 0), value=1.0),
            Row(event_id=1, ts=_ts(3, 0), value=1.0),  # dup within delay
            Row(event_id=2, ts=_ts(30, 0), value=1.0),  # watermark -> 00:20
        ],
        schema,
    )

    deduped = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("ddww_test")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 0: id=1 emitted once, id=2 once
        first = [
            (r.event_id, r.ts.minute)
            for r in spark.sql("SELECT * FROM ddww_test").collect()
        ]
        assert sorted(first) == [(1, 0), (2, 30)]

        # id=1's state (event time 00:00) is older than the watermark
        # (00:20) → evicted; the replay at 00:25 is treated as new
        _write_batch(
            spark,
            tmp_path,
            stream_dir,
            "b1",
            [Row(event_id=1, ts=_ts(25, 0), value=1.0)],
            schema,
        )
        q.processAllAvailable()
        final = [
            (r.event_id, r.ts.minute)
            for r in spark.sql("SELECT * FROM ddww_test").collect()
        ]
        assert sorted(final) == [(1, 0), (1, 25), (2, 30)]
    finally:
        q.stop()


def test_stream_static_enrichment_join(spark, stream_dir, tmp_path):
    """Stream-static join: each micro-batch of the stream is enriched
    against a static dimension (re-read per batch, broadcast-sized) — the
    standard lookup-enrichment pattern; rows with no dimension match pass
    through with nulls (left join) rather than being dropped."""
    schema = "event_id long, ts timestamp, user_id long, value double"
    dim = spark.createDataFrame(
        [Row(user_id=1, segment="gold"), Row(user_id=2, segment="silver")],
        "user_id long, segment string",
    )
    _write_batch(
        spark,
        tmp_path,
        stream_dir,
        "b0",
        [
            Row(event_id=1, ts=_ts(0), user_id=1, value=1.0),
            Row(event_id=2, ts=_ts(1), user_id=2, value=2.0),
            Row(event_id=3, ts=_ts(2), user_id=9, value=3.0),  # no dim row
        ],
        schema,
    )
    enriched = (
        spark.readStream.schema(schema)
        .parquet(stream_dir)
        .join(dim, "user_id", "left")
        .select("event_id", "user_id", "segment")
    )
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_test")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            r.event_id: (r.user_id, r.segment)
            for r in spark.sql("SELECT * FROM enrich_test").collect()
        }
        assert rows == {1: (1, "gold"), 2: (2, "silver"), 3: (9, None)}
    finally:
        q.stop()


def test_foreach_batch_merge_sink(spark, stream_dir, tmp_path):
    """foreachBatch MERGE: each micro-batch's per-user partial aggregates
    are folded into a persistent state table (read-combine-stage-swap, the
    same two-rename pattern the ingestion pipeline's compaction uses); the
    final state must equal the one-shot batch aggregation of all input."""
    schema = "event_id long, ts timestamp, user_id long, value double"
    state_dir = f"{tmp_path}/agg_state"

    def merge_batch(batch_df, batch_id: int) -> None:
        part = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n"), F.sum("value").alias("total")
        )
        sess = batch_df.sparkSession
        if os.path.exists(state_dir):
            part = sess.read.parquet(state_dir).unionByName(part)
        merged = part.groupBy("user_id").agg(
            F.sum("n").alias("n"), F.sum("total").alias("total")
        )
        staged = f"{state_dir}__staged"
        merged.write.mode("overwrite").parquet(staged)
        retired = f"{state_dir}__retired"
        if os.path.exists(state_dir):
            os.rename(state_dir, retired)
        os.rename(staged, state_dir)
        shutil.rmtree(retired, ignore_errors=True)

    _write_batch(
        spark,
        tmp_path,
        stream_dir,
        "b0",
        [
            Row(event_id=1, ts=_ts(0), user_id=1, value=2.0),
            Row(event_id=2, ts=_ts(1), user_id=1, value=3.0),
            Row(event_id=3, ts=_ts(2), user_id=2, value=5.0),
        ],
        schema,
    )
    stream = spark.readStream.schema(schema).parquet(stream_dir)
    q = stream.writeStream.foreachBatch(merge_batch).start()
    try:
        q.processAllAvailable()
        _write_batch(
            spark,
            tmp_path,
            stream_dir,
            "b1",
            [
                Row(event_id=4, ts=_ts(3), user_id=2, value=7.0),
                Row(event_id=5, ts=_ts(4), user_id=3, value=11.0),
            ],
            schema,
        )
        q.processAllAvailable()
    finally:
        q.stop()

    state = {
        r.user_id: (r.n, r.total)
        for r in spark.read.parquet(state_dir).collect()
    }
    expected = {
        r.user_id: (r.n, r.total)
        for r in spark.read.parquet(stream_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert state == expected == {1: (2, 5.0), 2: (2, 12.0), 3: (1, 11.0)}
