"""Core ingestion dataflow (reference src/app.js:106-186) as pure,
composable DataFrame transforms.

Each function is a logical-plan builder — no actions, no collect — so
Catalyst fuses the whole validate→chunk→rollup pipeline into one optimized
plan (filter pushdown through the chunk explode, column pruning into the
source scan). All transforms are shuffle-free except the rollup's
``groupBy(ingestion_id)`` and the parent⋈child join, which hash-partition on
``ingestion_id`` — the natural co-location key. At 100 TB both the
``batches`` and ``ingestions`` tables would be written bucketed by
``ingestion_id`` so the rollup needs no shuffle at all.

Operator map (SURVEY.md §2):
- A2  validate         (src/app.js:110-116)
- A3  surrogate keys   (src/app.js:118,125)
- A4  timestamping     (src/app.js:119)
- A5  batch chunking   (src/app.js:122-138)
- A6  priority order   (src/app.js:10-14,36-42,57)
- A15 child join       (src/app.js:166,176-180)
- A16 status rollup    (src/app.js:168-173) incl. the vacuous-completed
      edge for zero-batch ingestions (test/test_api.js:47-57)

The A14 point lookup and the A17 response shape (src/app.js:158-186) are
served per request by ``streaming/drain.py::IngestionPipeline.status``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import (
    BATCH_SIZE,
    MAX_ID,
    MIN_ID,
    STATUS_COMPLETED,
    STATUS_TRIGGERED,
    STATUS_YET_TO_START,
    VALID_PRIORITIES,
)
from ..tables import load_table


def priority_level(col: Column | str = "priority") -> Column:
    """HIGH→3, MEDIUM→2, LOW→1 (src/app.js:10-14), the A6 ordering key."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c == "HIGH", F.lit(3))
        .when(c == "MEDIUM", F.lit(2))
        .otherwise(F.lit(1))
    )


def valid_request_predicate() -> Column:
    """A2 validation predicate (src/app.js:110-116).

    Valid iff ``ids`` is a non-null array whose every element is a non-null
    integer in [1, 10^9+7], and ``priority`` ∈ {HIGH, MEDIUM, LOW}. An EMPTY
    ids array IS valid (reference test/test_api.js:47-57).
    """
    ids_ok = F.col("ids").isNotNull() & F.forall(
        "ids", lambda x: x.isNotNull() & (x >= MIN_ID) & (x <= MAX_ID)
    )
    return ids_ok & F.col("priority").isin(*VALID_PRIORITIES)


def validate(requests: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split requests into (valid, rejected) — the 400 path is the negated
    predicate routed to a rejects DataFrame rather than a side effect.

    Both legs share one scan; Catalyst pushes each predicate into the
    parquet reader independently, so neither leg reads rows it drops.
    """
    pred = valid_request_predicate()
    return requests.filter(pred), requests.filter(~pred)


def ingestions_from_requests(valid: DataFrame) -> DataFrame:
    """A3+A4: parent records (src/app.js:141-146), children normalized out.

    ``ingestion_id`` is derived from ``request_id`` (oracle-checkable), the
    same way :func:`chunk_batches` derives it for every batch row.
    """
    return valid.select(
        F.concat(F.lit("ing-"), F.col("request_id").cast("string")).alias(
            "ingestion_id"
        ),
        F.col("request_id"),
        F.col("priority"),
        F.col("arrival_ts").alias("created_at"),
    )


def chunk_batches(valid: DataFrame) -> DataFrame:
    """A5: split ``ids`` into consecutive chunks of ≤3, one child row each
    (src/app.js:122-138), carrying ``batch_seq`` (intra-request order — the
    stable-sort tiebreak the JS Array sort preserves implicitly).

    Implementation: build the chunk array with ``transform(sequence, slice)``
    — pure JVM-side array expressions inside whole-stage codegen, no UDF, no
    shuffle; then ``posexplode``. A zero-length ``ids`` yields zero batch
    rows (the vacuous-completed edge is handled in :func:`status_rollup`).
    """
    n_chunks = F.ceil(F.size("ids") / F.lit(BATCH_SIZE)).cast("int")
    chunks = F.when(F.size("ids") == 0, F.expr("array()").cast("array<array<bigint>>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(F.col("ids"), i * BATCH_SIZE + 1, BATCH_SIZE),
        )
    )
    exploded = valid.select(
        F.concat(F.lit("ing-"), F.col("request_id").cast("string")).alias(
            "ingestion_id"
        ),
        F.col("request_id"),
        F.col("priority"),
        F.col("arrival_ts").alias("created_at"),
        F.posexplode(chunks).alias("batch_seq", "batch_ids"),
    )
    batch_id = F.concat(
        F.lit("b-"),
        F.col("request_id").cast("string"),
        F.lit("-"),
        F.col("batch_seq").cast("string"),
    )
    return exploded.select(
        batch_id.alias("batch_id"),
        "ingestion_id",
        "request_id",
        F.col("batch_seq").cast("int").alias("batch_seq"),
        F.col("batch_ids").alias("ids"),
        F.lit(STATUS_YET_TO_START).alias("status"),
        "priority",
        "created_at",
    )


def priority_order(batches: DataFrame) -> DataFrame:
    """A6: the queue's total order — priority level DESC, created_at ASC,
    then (request_id, batch_seq) ASC reproducing the JS stable-sort
    insertion-order tiebreak (src/app.js:36-42,57).

    Scale note: a full global sort is only needed when *displaying* the
    queue. The drain loop (streaming/drain.py) never sorts the whole set —
    it keeps pending batches in an in-memory heap in this order and pops
    one per step, O(log n).
    """
    return batches.withColumn("priority_level", priority_level("priority")).orderBy(
        F.desc("priority_level"),
        F.asc("created_at"),
        F.asc("request_id"),
        F.asc("batch_seq"),
    )


def simulate_progress(batches: DataFrame) -> DataFrame:
    """Deterministically assign statuses as if the drain loop had partially
    run — lets the rollup (A16) be exercised and oracle-checked without
    wall-clock: (request_id + batch_seq) % 5 → <2 completed,
    ==2 triggered, else yet_to_start.
    """
    k = (F.col("request_id") + F.col("batch_seq")) % 5
    return batches.withColumn(
        "status",
        F.when(k < 2, STATUS_COMPLETED)
        .when(k == 2, STATUS_TRIGGERED)
        .otherwise(STATUS_YET_TO_START),
    )


def status_rollup(
    ingestions: DataFrame, batches: DataFrame, key: str = "ingestion_id"
) -> DataFrame:
    """A15+A16: per-ingestion overall status.

    'completed' iff EVERY batch completed — vacuously true for zero batches
    (src/app.js:169, locked in by test/test_api.js:47-57) — else 'triggered'
    iff ANY batch is triggered (src/app.js:171), else 'yet_to_start'.
    Driving from ``ingestions`` LEFT JOIN the aggregated ``batches`` is what
    preserves the vacuous-truth edge (a bare groupBy would drop zero-batch
    ingestions entirely — SURVEY §7.4.4).

    ``key``: the group/join column. Default is the public ``ingestion_id``;
    callers whose inputs are partitioned by the underlying numeric
    ``request_id`` should pass that instead — ``ingestion_id`` is a
    *derived* string (``concat('ing-', request_id)``), and Catalyst cannot
    prove hashpartitioning(request_id) satisfies a requirement on the
    concat, so grouping on the string forces a pointless re-shuffle of
    batch rows that are already co-located. Both columns identify the same
    entity (src/app.js:133 uses the parent key directly); the output shape
    is identical either way.

    Shuffle profile: one hash aggregate on ``key`` (map-side partial
    bool_and/bool_or first — bytes shuffled ≈ #ingestions, not #batches),
    then a join on the same key, which AQE converts to broadcast when the
    aggregate side is small. With ``key='request_id'`` over inputs keyed by
    it (spread_by here; bucketed tables at 100 TB), both steps plan zero
    exchanges.
    """
    agg = batches.groupBy(key).agg(
        F.bool_and(F.col("status") == STATUS_COMPLETED).alias("all_completed"),
        F.bool_or(F.col("status") == STATUS_TRIGGERED).alias("any_triggered"),
        F.count("*").alias("n_batches"),
        F.sum(F.size("ids")).alias("n_ids"),
    )
    return ingestions.join(agg, key, "left").select(
        "ingestion_id",
        F.col("priority"),
        F.when(F.coalesce("all_completed", F.lit(True)), STATUS_COMPLETED)
        .when(F.coalesce("any_triggered", F.lit(False)), STATUS_TRIGGERED)
        .otherwise(STATUS_YET_TO_START)
        .alias("status"),
        F.coalesce("n_batches", F.lit(0)).cast("bigint").alias("n_batches"),
        F.coalesce("n_ids", F.lit(0)).cast("bigint").alias("n_ids"),
    )


def requests_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a deterministic ``ingest_requests`` workload from the driver's
    seeded tables (FIXTURES.md §2 mapping): one request per order, ids =
    that order's part keys + 1 in line-number order (+1 because the driver's
    p_partkey starts at 0, outside the reference's valid range
    [1, 10^9+7] — src/app.js:112), priority bucketed from o_orderpriority
    (1/2→HIGH, 3→MEDIUM, else LOW), arrival_ts = o_orderdate.

    Plan shape: both scans are spread BY THE ORDER KEY (``spread_by``), so
    the one hash exchange doubles as the aggregate's distribution — the
    lineitem groupBy(l_orderkey) and the orders equi-join plan no further
    exchange. A round-robin spread + classic partial/final aggregate is
    strictly worse here: collect_list partials don't shrink, so the same
    bytes would cross the wire twice (measured: keyed layout takes the
    sf0.1 rollup 2.6 s → 1.5 s). At 100 TB both tables arrive bucketed by
    orderkey, spread_by no-ops, and the whole derivation is shuffle-free.
    """
    from ..operators import spread_by

    lineitem = spread_by(load_table(spark, sf_dir, "lineitem"), "l_orderkey")
    orders = spread_by(load_table(spark, sf_dir, "orders"), "o_orderkey")
    ids_per_order = lineitem.groupBy("l_orderkey").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
            lambda s: s["l_partkey"] + 1,
        ).alias("ids")
    )
    return orders.join(ids_per_order, orders.o_orderkey == ids_per_order.l_orderkey, "left").select(
        F.col("o_orderkey").alias("request_id"),
        F.coalesce("ids", F.expr("array()").cast("array<bigint>")).alias("ids"),
        F.when(F.substring("o_orderpriority", 1, 1).isin("1", "2"), "HIGH")
        .when(F.substring("o_orderpriority", 1, 1) == "3", "MEDIUM")
        .otherwise("LOW")
        .alias("priority"),
        F.col("o_orderdate").alias("arrival_ts"),
    )
