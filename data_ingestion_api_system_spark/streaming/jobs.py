"""Real Structured Streaming jobs (SURVEY §2 Part C streaming formalisms):
the batch event-window operators re-run as actual ``readStream`` queries
with an availableNow trigger into a memory sink — proving the same logical
plans execute incrementally.

Oracle story: on bounded input, availableNow + complete-mode aggregation
must produce exactly the batch answer, so these queries share the batch
oracles — the driver's DuckDB check certifies the *streaming* execution
path end-to-end.

Scale: in production the source becomes Kafka/files-on-arrival; the
aggregations run with ``withWatermark`` to bound state (late events beyond
the watermark are dropped and the state store evicts closed windows);
output lands in an idempotent ``foreachBatch`` sink. The memory sink here
is the test harness, not the deployment sink.
"""

from __future__ import annotations

import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import exact_sum, sql_exact_sum
from ..operators import pin_view
from ..tables import footer_schema, load_table, normalize, table_path


# input bytes per streaming state partition
_STREAM_TARGET_BYTES = 32 * 1024 * 1024


def _stream_shuffle_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Input-size-derived shuffle/state partition count for the bounded
    streaming runs (guide §2.2: size partitions to the data, never a
    constant tuned for one box).

    Streaming aggregations get NO AQE coalescing — the state-store
    partition count is frozen at `spark.sql.shuffle.partitions` when the
    query starts, and every micro-batch then pays a per-partition store
    open+commit (the stream-stream join keeps FOUR stores per partition).
    Over this 2 MB bounded source, 32 state partitions are pure fixed
    overhead: measured on the stream-stream join at sf0.1 (warm
    best-of-4), 32 partitions = 13.0 s vs 2.9 s at 8 and 2.3 s at 2 —
    the state is ~9 MB total, so one partition per ~32 MB of input is
    already generous. The derivation is scale-adaptive, not a local
    constant: partitions grow linearly with input bytes (a 100 TB/day
    source gets the cap) at one per ``_STREAM_TARGET_BYTES``, and the cap
    follows the session's core count (4x defaultParallelism) so a bigger
    cluster gets more state partitions with no code change. Results are
    partition-count-invariant (hash aggregation / dropDuplicates /
    symmetric hash join all are); only the state-store commit fan-out
    changes."""
    p = Path(sf_dir) / "events.parquet"
    if p.is_file():
        nbytes = p.stat().st_size
    else:
        nbytes = sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
    cap = spark.sparkContext.defaultParallelism * 4
    return max(1, min(cap, -(-nbytes // _STREAM_TARGET_BYTES)))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded readStream over the events table, declared with the
    table's footer schema and normalized exactly as ``load_table`` does
    (``tables.footer_schema``/``tables.normalize``): a file-stream source
    needs a declared schema, and reading the footer starts no Spark job."""
    path = table_path(sf_dir, "events")
    reader = spark.readStream.schema(footer_schema(path))
    if os.path.isdir(path):  # a directory of part files streams as itself
        raw = reader.parquet(path)
    else:
        # the file-stream source requires a directory: stream the sf dir
        # with a glob filter selecting only the events file
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    return normalize(raw, "events")


def _run_to_memory(
    agg: DataFrame, mode: str = "complete", shuffle_partitions: int | None = None
) -> DataFrame:
    """Execute a streaming aggregation to completion (availableNow) and
    return the materialized result, pinned (``operators.pin_view``) so
    ``release_pins()`` drops the sink's view and the rows it holds.

    ``shuffle_partitions`` (from :func:`_stream_shuffle_partitions`) is
    applied for the lifetime of the streaming query only — the state-store
    partition count is read once at query start, so setting it around
    start()/awaitTermination() pins the stream's state fan-out without
    leaking the value into later batch queries on the shared session."""
    spark = agg.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            agg.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if shuffle_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return pin_view(spark, name)


def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute windows per event_type, executed as a genuine
    streaming query (readStream → window agg → memory sink). Must equal
    the batch tumbling answer — shared oracle."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value").alias("sum_value"),
        )
    )
    out = _run_to_memory(
        agg, shuffle_partitions=_stream_shuffle_partitions(spark, sf_dir)
    )
    return out.select(
        F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


_ORACLE_STREAM_TUMBLING = f"""
SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS bucket_start,
       event_type,
       count(*) AS n_events,
       {sql_exact_sum('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10-minute length, 5-minute slide) per event_type as
    a genuine streaming query — every event expands into exactly two live
    windows inside the stateful aggregation (a generator in the plan, not a
    join; state is two window rows per key, evicted by the watermark in a
    production unbounded run). On this bounded source the result equals the
    batch two-offset expansion, which is the oracle."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value").alias("sum_value"),
        )
    )
    out = _run_to_memory(
        agg, shuffle_partitions=_stream_shuffle_partitions(spark, sf_dir)
    )
    return out.select(
        F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


_ORACLE_STREAM_SLIDING = f"""
SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 - off AS bucket_start,
       event_type,
       count(*) AS n_events,
       {sql_exact_sum('value')} AS sum_value
FROM events, (VALUES (0), (300)) AS offsets(off)
GROUP BY 1, 2
"""


def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (30-minute gap) per user — Spark's
    streaming sessionization operator, run to completion and rolled up per
    user. Equals the batch lag/cumsum sessionization (events.py), so the
    per-user session counts share that oracle."""
    ev = _events_stream(spark, sf_dir)
    sess = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = _run_to_memory(
        sess, shuffle_partitions=_stream_shuffle_partitions(spark, sf_dir)
    )
    return out.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
    )


_ORACLE_STREAM_SESSION = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts, 1) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
),
per_session AS (
  SELECT user_id, session_seq, count(*) AS n_events
  FROM sess GROUP BY user_id, session_seq
)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       max(n_events) AS max_session_events
FROM per_session
GROUP BY user_id
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: ``dropDuplicates`` on the event stream
    keyed by (user_id, event_type, minute-bucket) — the at-most-once-per-
    key-per-window guard an ingestion edge needs against replays. In
    production the watermark bounds the dedup state store (keys older than
    the watermark are evicted); on this bounded source the result equals
    the batch DISTINCT, which is the oracle."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = ev.select(
        "user_id",
        "event_type",
        (F.unix_timestamp("ts") - (F.unix_timestamp("ts") % 60)).alias("minute_bucket"),
    ).dropDuplicates(["user_id", "event_type", "minute_bucket"])
    out = _run_to_memory(
        deduped,
        mode="append",
        shuffle_partitions=_stream_shuffle_partitions(spark, sf_dir),
    )
    return out.groupBy("event_type").agg(
        F.count("*").alias("n_unique_user_minutes"),
        F.countDistinct("user_id").alias("n_users"),
    )


_ORACLE_STREAM_DEDUP = """
WITH dedup AS (
  SELECT DISTINCT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT)
           - (CAST(floor(epoch(ts)) AS BIGINT) % 60) AS minute_bucket
  FROM events
)
SELECT event_type, count(*) AS n_unique_user_minutes,
       count(DISTINCT user_id) AS n_users
FROM dedup
GROUP BY event_type
"""


def q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each 'view' joins the same user's
    'click' events landing within the following 10 minutes — the
    attribution join every event pipeline runs. Both sides carry
    watermarks, which is what lets Spark BOUND the join state store: a
    buffered view can be evicted once the click-side watermark passes
    view_ts + 10 min, so state is O(window), not O(stream). The joined
    pairs stream out in append mode; the per-user rollup happens on the
    materialized output.

    On this bounded source the result must equal the batch interval join,
    which is the oracle."""
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    joined = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND click_ts >= view_ts "
            "AND click_ts <= view_ts + interval 10 minutes"
        ),
    ).select("v_user", "view_id", "click_id", "view_ts", "click_ts")
    out = _run_to_memory(
        joined,
        mode="append",
        shuffle_partitions=_stream_shuffle_partitions(spark, sf_dir),
    )
    return out.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("view_id").alias("n_views_matched"),
        F.countDistinct("click_id").alias("n_clicks_matched"),
        F.max(
            F.unix_micros("click_ts") - F.unix_micros("view_ts")
        ).alias("max_gap_us"),
    )


_ORACLE_STREAM_JOIN = """
WITH v AS (
  SELECT user_id, ts AS view_ts, event_id AS view_id
  FROM events WHERE event_type = 'view'
),
c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'
),
pairs AS (
  SELECT v.user_id, v.view_id, c.click_id, v.view_ts, c.click_ts
  FROM v JOIN c ON v.user_id = c.user_id
              AND c.click_ts >= v.view_ts
              AND c.click_ts <= v.view_ts + INTERVAL 10 MINUTE
)
SELECT user_id, count(*) AS n_pairs,
       count(DISTINCT view_id) AS n_views_matched,
       count(DISTINCT click_id) AS n_clicks_matched,
       max(epoch_us(click_ts) - epoch_us(view_ts)) AS max_gap_us
FROM pairs
GROUP BY user_id
"""


def q_streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (``applyInPandasWithState``) as a
    certified query: per-user cumulative (count, exact-decimal value sum)
    maintained in the state store across micro-batches, run to completion
    with availableNow. The memory sink holds every per-trigger emission;
    each user's FINAL emission (strictly largest n_events — the counter is
    cumulative) is their full-history total, so the result must equal the
    plain batch per-user aggregate — which is exactly the oracle. State is
    a scale-4 integer pair per user (see streaming/stateful.py), so the
    totals are bit-exact regardless of batch boundaries or row order."""
    from ..streaming.stateful import running_user_totals

    ev = _events_stream(spark, sf_dir).select("user_id", "value")
    # Deliberately NOT input-size-derived (_stream_shuffle_partitions):
    # this stream's cost is the applyInPandasWithState PYTHON stage, not
    # state-store commits, and the partition count is its Python-worker
    # parallelism — measured at sf0.1, 1 partition = 4.35 s vs 32 = 1.57 s
    # (opposite trade to the pure-JVM streams). The session default
    # (cores, AQE-capped) is the right fan-out for a compute-bound UDF.
    out = _run_to_memory(running_user_totals(ev), mode="update")
    return out.groupBy("user_id").agg(
        F.max("n_events").cast("bigint").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


_ORACLE_STREAM_STATEFUL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE), 6) AS total_value
FROM events GROUP BY user_id
"""


def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the dimension-enrichment pattern every
    production stream runs (orders stream × product dim, clickstream ×
    user profile): the unbounded events stream joins the STATIC customer
    table (user_id = c_custkey) and aggregates per market segment. A
    stream-static inner join is stateless — Spark broadcasts/rescans the
    static side per micro-batch and never buffers stream rows — so unlike
    the stream-stream join no watermark is needed and state is O(1).

    At 100 TB the static side is the thing to control: a small dim
    broadcasts (the plan here); a huge dim becomes a pre-bucketed table
    co-partitioned with the stream's shuffle, or the enrichment flips to
    a key-value lookup in ``foreachBatch``. On this bounded source the
    result must equal the batch join+rollup, which is the oracle."""
    ev = _events_stream(spark, sf_dir).select("user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ev.join(F.broadcast(dim), "user_id")
    # distinct aggregations are unsupported on streams: pre-aggregate on
    # (segment, user) — the standard streaming-distinct rewrite — keeping
    # the value sum as an UNROUNDED decimal partial so the batch-side
    # rollup merges exactly (decimal addition is associative)
    agg = enriched.groupBy("c_mktsegment", "user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(25,4)")).alias("dec_sum"),
    )
    out = _run_to_memory(
        agg,
        mode="complete",
        shuffle_partitions=_stream_shuffle_partitions(spark, sf_dir),
    )
    return out.groupBy("c_mktsegment").agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_users"),
        F.round(F.sum("dec_sum"), 2).cast("double").alias("sum_value"),
    )


_ORACLE_STREAM_STATIC = f"""
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       {sql_exact_sum('value')} AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def q_streaming_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k: per tumbling 6-hour window, the 3 most frequent
    event types — the "what's trending now" query every activity feed
    runs. The streaming half is the stateful windowed count (incremental,
    watermark-evictable state = |windows|×|types| rows); the top-k rank
    runs downstream of the stream (here on the completed result, in
    production per micro-batch in foreachBatch or on the sink table) —
    ranking INSIDE a streaming agg isn't expressible in any engine's
    update semantics without retraction, so this split is the canonical
    production shape (Kafka Streams windowed-count + KTable rank,
    Flink windowed TopN).

    Scale: the streamed state never exceeds windows×types rows; the rank
    is over that metadata-scale table, partitioned by window."""
    from pyspark.sql import Window as W

    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(
        F.window("ts", "6 hours").alias("w"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    out = _run_to_memory(
        agg, shuffle_partitions=_stream_shuffle_partitions(spark, sf_dir)
    )
    wr = W.partitionBy("bucket_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        out.select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
    )


_ORACLE_STREAM_TOPK = """
WITH counts AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600 AS bucket_start,
         event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT bucket_start, event_type, n_events, CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY bucket_start
                               ORDER BY n_events DESC, event_type ASC) AS rk
  FROM counts)
WHERE rk <= 3
"""


QUERIES = {
    "streaming_windowed_topk": q_streaming_windowed_topk,
    "streaming_static_enrich": q_streaming_static_enrich,
    "streaming_tumbling_window": q_streaming_tumbling,
    "streaming_sliding_window": q_streaming_sliding,
    "streaming_session_window": q_streaming_session_window,
    "streaming_dedup": q_streaming_dedup,
    "streaming_stream_join": q_streaming_stream_join,
    "streaming_stateful_totals": q_streaming_stateful_totals,
}

ORACLE = {
    "streaming_windowed_topk": _ORACLE_STREAM_TOPK,
    "streaming_static_enrich": _ORACLE_STREAM_STATIC,
    "streaming_tumbling_window": _ORACLE_STREAM_TUMBLING,
    "streaming_sliding_window": _ORACLE_STREAM_SLIDING,
    "streaming_session_window": _ORACLE_STREAM_SESSION,
    "streaming_dedup": _ORACLE_STREAM_DEDUP,
    "streaming_stream_join": _ORACLE_STREAM_JOIN,
    "streaming_stateful_totals": _ORACLE_STREAM_STATEFUL,
}
