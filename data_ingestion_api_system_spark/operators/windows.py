"""Window / analytic functions (SURVEY.md §2 Part C): ranking, frames,
lag/lead, running aggregates, top-k per group.

Determinism rule for oracle parity: every window ORDER BY carries a fully
unique tiebreak chain — double-valued sort keys tie, l_linenumber repeats
within orders, timestamps repeat within users — so running sums and row
numbers are identical in both engines.

Scale: window partitions shuffle on partitionBy keys; per-partition state is
a sort within each key group. Partition keys here (custkey, suppkey,
user_id) are high-cardinality, so work spreads evenly across executors; a
window with NO partitionBy is a deliberate anti-pattern (single-partition
funnel) and only appears on already-reduced inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import revenue_dec
from ..tables import load_table


def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice: the canonical
    row_number-over-partition filter. Catalyst pushes the rank filter into
    the window's sort (WindowGroupLimit in Spark 3.5+/4.x) so each group
    keeps a 3-element heap instead of sorting everything."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice").cast("decimal(18,2)"), 2)
            .cast("double")
            .alias("totalprice"),
            "rk",
        )
    )


_ORACLE_TOPK = """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS totalprice,
       CAST(rk AS INT) AS rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders)
WHERE rk <= 3
"""


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per supplier in shipdate order — a cumulative frame
    (unbounded preceding → current row). The sum runs in DECIMAL so every
    prefix is exact and engine-identical; the unique tiebreak chain
    (shipdate, orderkey, linenumber, partkey) pins the accumulation order."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "2001-01-01"
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    revenue = revenue_dec()
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.round(F.sum(revenue).over(w), 2).cast("double").alias("running_revenue"),
        F.row_number()
        .over(
            Window.partitionBy("l_suppkey").orderBy(
                "l_shipdate", "l_orderkey", "l_linenumber", "l_partkey"
            )
        )
        .alias("seq"),
    )


_ORACLE_RUNNING = """
SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))))
                  OVER (PARTITION BY l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
            AS DOUBLE) AS running_revenue,
       CAST(row_number() OVER (PARTITION BY l_suppkey
                               ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey)
            AS INT) AS seq
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-01-01'
"""


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over each user's event stream: inter-event gap seconds and
    next event type — the building block of sessionization (see
    events.q_events_sessionize)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "event_type",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts", 1).over(w))
        ).alias("gap_seconds"),
        F.lead("event_type", 1).over(w).alias("next_event_type"),
    )


_ORACLE_LAG_LEAD = """
SELECT user_id, event_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts, 1) OVER w)) AS BIGINT) AS gap_seconds,
       lead(event_type, 1) OVER w AS next_event_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile over customers by account balance within
    nation, plus a percent-of-nation-total computed from a full-partition
    frame — two frames over one window spec share a single sort."""
    cust = load_table(spark, sf_dir, "customer")
    order = [F.desc("c_acctbal"), F.asc("c_custkey")]
    w = Window.partitionBy("c_nationkey").orderBy(*order)
    wall = Window.partitionBy("c_nationkey")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    return cust.select(
        "c_nationkey",
        "c_custkey",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.ntile(4).over(w).alias("bal_quartile"),
        F.round((bal * 100) / F.sum(bal).over(wall), 4)
        .cast("double")
        .alias("pct_of_nation"),
    )


_ORACLE_RANK = """
SELECT c_nationkey, c_custkey,
       CAST(rank() OVER w AS INT) AS bal_rank,
       CAST(dense_rank() OVER w AS INT) AS bal_dense_rank,
       CAST(ntile(4) OVER w AS INT) AS bal_quartile,
       CAST(ROUND((CAST(c_acctbal AS DECIMAL(18,2)) * 100) /
             SUM(CAST(c_acctbal AS DECIMAL(18,2))) OVER (PARTITION BY c_nationkey), 4)
            AS DOUBLE) AS pct_of_nation
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
"""


def q_window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average of daily order totals — a bounded sliding frame
    (6 preceding → current) over a pre-aggregated daily series. Aggregate
    first, window second: the window then runs over #days rows, not #orders
    rows — the ordering that matters at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,4)")).alias("day_total_dec"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy("order_day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "order_day",
        "n_orders",
        F.round(F.col("day_total_dec"), 2).cast("double").alias("day_total"),
        F.round(
            F.sum("day_total_dec").over(w).cast("double")
            / F.count("*").over(w),
            6,
        ).alias("avg_7day"),
    )


_ORACLE_MOVING_AVG = """
WITH daily AS (
  SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day,
         SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS day_total_dec,
         count(*) AS n_orders
  FROM orders GROUP BY 1)
SELECT order_day, n_orders,
       CAST(ROUND(day_total_dec, 2) AS DOUBLE) AS day_total,
       ROUND(CAST(SUM(day_total_dec) OVER w AS DOUBLE) /
             COUNT(*) OVER w, 6) AS avg_7day
FROM daily
WINDOW w AS (ORDER BY order_day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution and navigation window functions: percent_rank /
    cume_dist (exact rationals — identical across engines), first_value /
    last_value / nth_value over an explicit full-partition frame (the
    default frame stops at CURRENT ROW, which makes last_value a footgun —
    spelled out here)."""
    supp = load_table(spark, sf_dir, "supplier")
    order = [F.desc("s_acctbal"), F.asc("s_suppkey")]
    w = Window.partitionBy("s_nationkey").orderBy(*order)
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return supp.select(
        "s_nationkey",
        "s_suppkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("s_suppkey").over(wfull).alias("richest_suppkey"),
        F.last("s_suppkey").over(wfull).alias("poorest_suppkey"),
        F.nth_value("s_suppkey", 2).over(wfull).alias("second_suppkey"),
    )


_ORACLE_DISTRIBUTION = """
SELECT s_nationkey, s_suppkey,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       first_value(s_suppkey) OVER wf AS richest_suppkey,
       last_value(s_suppkey) OVER wf AS poorest_suppkey,
       nth_value(s_suppkey, 2) OVER wf AS second_suppkey
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey ASC),
       wf AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE sliding frame: per user, the count and exact sum of event
    values in the trailing 10 minutes (RANGE BETWEEN 600 PRECEDING AND
    CURRENT ROW over epoch seconds) — the rate-limiter / rolling-exposure
    primitive a ROWS frame cannot express when event spacing is irregular.

    RANGE frames include *peers* (equal order keys) on both engines, so
    duplicate timestamps within a user need no tiebreak for the frame
    itself; ``event_id`` keys the output rows. The frame axis is exact
    epoch MICROSECONDS (``unix_micros`` / ``epoch_us``) rather than an
    INTERVAL literal or cast-to-seconds: both are integers with no
    truncate-vs-round divergence on sub-second timestamps (Spark's
    cast-to-long floors, DuckDB's CAST(epoch(..)) rounds — measured 496/2000
    rows apart at sf0.001), so both engines walk identical integer axes.
    Sum via the decimal exact-sum dance — per-frame double addition order
    differs between engines otherwise.

    Scale: shuffles once on user_id (high-cardinality, even), then each
    partition is one sort + a sliding two-pointer frame — the standard
    distributed window; no global sort, no driver state."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        us.alias("epoch_us"),
        F.count("*").over(w).alias("n_10min"),
        F.round(F.sum(F.col("value").cast("decimal(25,4)")).over(w), 2)
        .cast("double")
        .alias("sum_value_10min"),
    )


_ORACLE_TIME_RANGE = """
SELECT user_id, event_id,
       epoch_us(ts) AS epoch_us,
       COUNT(*) OVER w AS n_10min,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(25,4))) OVER w, 2) AS DOUBLE)
         AS sum_value_10min
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
"""


QUERIES = {
    "window_topk_per_group": q_window_topk_per_group,
    "window_distribution_funcs": q_window_distribution,
    "window_running_sum": q_window_running_sum,
    "window_lag_lead": q_window_lag_lead,
    "window_rank_dense": q_window_rank_dense,
    "window_moving_avg": q_window_moving_avg,
    "window_time_range_frame": q_window_time_range_frame,
}

ORACLE = {
    "window_topk_per_group": _ORACLE_TOPK,
    "window_distribution_funcs": _ORACLE_DISTRIBUTION,
    "window_running_sum": _ORACLE_RUNNING,
    "window_lag_lead": _ORACLE_LAG_LEAD,
    "window_rank_dense": _ORACLE_RANK,
    "window_moving_avg": _ORACLE_MOVING_AVG,
    "window_time_range_frame": _ORACLE_TIME_RANGE,
}
