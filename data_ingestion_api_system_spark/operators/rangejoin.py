"""Range join via binning — the scalable form of the interval/theta join
(an operator Spark has no native physical strategy for; naive `lo <= x AND
x < hi` joins plan as BroadcastNestedLoopJoin, O(rows × tiers)).

The pattern: pick a bin width, map the fact row to ONE bin
(floor(x / bin)), expand each interval to EVERY bin it overlaps, equi-join
on the bin, then re-check the exact range as a residual filter. The
equi-join prunes candidates to intervals sharing the row's bin, so cost is
O(rows × avg-intervals-per-bin) — the same trick behind Databricks' range
join optimization and time-interval joins in stream processors. At 100 TB
the bin column also becomes the partition key, turning the join
shuffle-free.

The DuckDB oracle runs the NAIVE theta join — a different plan arriving at
the same rows, certifying the bin+residual rewrite is lossless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import exact_sum, sql_exact_sum
from ..tables import load_table

BIN_WIDTH = 10_000.0

# price tiers with boundaries deliberately NOT aligned to the bin width,
# so tiers span multiple bins and bins hold multiple tiers — the general
# case the rewrite must handle
PRICE_TIERS = (
    ("budget", 0.0, 15_000.0),
    ("value", 15_000.0, 32_500.0),
    ("mid", 32_500.0, 48_000.0),
    ("premium", 48_000.0, 75_000.0),
    ("luxury", 75_000.0, 999_999.0),
)


def q_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tier each lineitem by `lo <= l_extendedprice < hi` using the
    bin+residual equi-join rewrite; emit per-tier revenue accounting."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", F.floor(F.col("l_extendedprice") / BIN_WIDTH).alias("bin")
    )
    tiers = spark.createDataFrame(
        list(PRICE_TIERS), "tier string, lo double, hi double"
    )
    # a tier covers bins floor(lo/W) .. floor((hi - ulp)/W); hi is exclusive
    tier_bins = tiers.select(
        "tier",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / BIN_WIDTH),
                F.floor((F.col("hi") - 0.01) / BIN_WIDTH),
            )
        ).alias("bin"),
    )
    joined = li.join(F.broadcast(tier_bins), "bin").filter(
        (F.col("l_extendedprice") >= F.col("lo"))
        & (F.col("l_extendedprice") < F.col("hi"))
    )
    return joined.groupBy("tier").agg(
        F.count("*").alias("n_items"),
        exact_sum("l_extendedprice").alias("total_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


_TIER_VALUES = ", ".join(f"('{t}', {lo}, {hi})" for t, lo, hi in PRICE_TIERS)

_ORACLE_RANGE_JOIN = f"""
WITH tiers(tier, lo, hi) AS (VALUES {_TIER_VALUES})
SELECT t.tier, count(*) AS n_items,
       {sql_exact_sum('l.l_extendedprice')} AS total_price,
       min(l.l_extendedprice) AS min_price,
       max(l.l_extendedprice) AS max_price
FROM lineitem l
JOIN tiers t ON l.l_extendedprice >= t.lo AND l.l_extendedprice < t.hi
GROUP BY t.tier
"""


def q_orders_backlog_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog per day by interval SWEEP — how many lineitems
    have been ordered (o_orderdate) but not yet shipped (l_shipdate) on
    each active day (the generated dates are mutually independent, so each
    pair is normalized to an ordered [least, greatest] span first — see
    the inline note). The naive form is an interval join (day × intervals
    containing it, O(days × rows)); the sweep turns it into prefix sums:
    every interval contributes +1 at its open day and −1 the day after it
    closes, and the backlog at day d is the running total of deltas — the
    classic sweep-line linearization used by every time-series engine for
    concurrent-interval counting.

    The running total is computed as a TWO-LEVEL scan, the distributed
    prefix-sum pattern: (1) per-day deltas aggregate with map-side
    combine; (2) per-MONTH totals compute each month's carry-in offset;
    (3) the day-level running sum windows PARTITIONED BY month and adds
    the broadcast month offset. The only un-partitioned window runs over
    the per-month aggregate — rows bounded by the CALENDAR (~84 months of
    generated data, 1200 for a century), constant in data volume, which is
    why it sits in audit's documented allowlist alongside
    ``window_moving_avg``. Day partitions stay parallel at any scale.

    The DuckDB oracle computes the same backlog with ONE flat global
    running sum — a different plan arriving at the same numbers, which is
    exactly what certifies the two-level decomposition lossless."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.to_date("l_shipdate").alias("ship_d")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("open_d")
    )
    # the generated ship/order dates are independent (≈half the spans
    # would be "negative"), so normalize each interval to
    # [least, greatest] — the concurrent-span count stays well-defined
    # and every row contributes exactly one +1/−1 pair
    iv = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.least("open_d", "ship_d").alias("open_d"),
        F.greatest("open_d", "ship_d").alias("ship_d"),
    )
    deltas = iv.select(
        F.col("open_d").alias("day"),
        F.lit(1).alias("delta"),
        F.lit(1).alias("opened"),
        F.lit(0).alias("closed"),
    ).unionAll(
        iv.select(
            F.date_add("ship_d", 1).alias("day"),
            F.lit(-1).alias("delta"),
            F.lit(0).alias("opened"),
            F.lit(1).alias("closed"),
        )
    )
    days = deltas.groupBy("day").agg(
        F.sum("delta").cast("bigint").alias("net"),
        F.sum("opened").cast("bigint").alias("n_opened"),
        F.sum("closed").cast("bigint").alias("n_closed"),
    ).withColumn("month", F.trunc("day", "month"))
    monthly = days.groupBy("month").agg(F.sum("net").alias("month_net"))
    w_m = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, -1)
    offsets = monthly.select(
        "month",
        F.coalesce(F.sum("month_net").over(w_m), F.lit(0))
        .cast("bigint")
        .alias("carry_in"),
    )
    w_d = Window.partitionBy("month").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        days.join(F.broadcast(offsets), "month")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_opened",
            "n_closed",
            (F.col("carry_in") + F.sum("net").over(w_d))
            .cast("bigint")
            .alias("backlog"),
        )
    )


_ORACLE_BACKLOG = """
WITH iv AS (
  SELECT least(CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS open_d,
         greatest(CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS ship_d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
deltas AS (
  SELECT open_d AS day, 1 AS delta, 1 AS opened, 0 AS closed FROM iv
  UNION ALL
  SELECT ship_d + 1 AS day, -1 AS delta, 0 AS opened, 1 AS closed FROM iv
),
days AS (
  SELECT day, CAST(sum(delta) AS BIGINT) AS net,
         CAST(sum(opened) AS BIGINT) AS n_opened,
         CAST(sum(closed) AS BIGINT) AS n_closed
  FROM deltas GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day, n_opened, n_closed,
       CAST(sum(net) OVER (ORDER BY day
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS backlog
FROM days
"""


GRID = 10_000  # coordinate domain per axis
RADIUS = 600  # search radius; CELL = RADIUS so the 3x3 neighborhood
R2 = RADIUS * RADIUS  # provably covers every in-radius point
# Packed-BIGINT argmin base. Packing happens AFTER the d2 <= R2 residual
# filter, so the packed distance is <= R2 = 360000 < PACK (the pre-filter
# 3x3-neighborhood max ~2.88M would NOT fit — never pack before the
# filter). The suppkey half needs max(s_suppkey) < PACK, i.e. < 1e6
# suppliers (TPC-H supplier = sf*10_000, so valid through sf < 100);
# q_geo_radius_join carries a per-row assert_true guard so a larger
# layout fails loudly instead of silently corrupting nearest_suppkey.
PACK = 1_000_000


def _grid_point(key, salt: str):
    """Deterministic integer coordinate in [0, GRID) from a key — the
    md5→conv idiom shared with train_test_split/text_hashed_classifier,
    identical on both engines (a stand-in for real lat/lon columns; the
    operator under test is the cell join, not the coordinates)."""
    h = F.md5(F.concat(F.lit(salt), F.col(key).cast("string")))
    return (F.conv(F.substring(h, 1, 6), 16, 10).cast("bigint") % GRID).cast(
        "bigint"
    )


def q_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join + nearest-neighbor-in-radius — the 2-D case of
    this module's bin+residual rewrite (the geohash/S2-cell recipe every
    spatial engine distributes with): bucket one side into RADIUS-sized
    grid cells, probe each point's 3x3 cell neighborhood by EQUI-join,
    then re-check exact distance as the residual filter. Cell size =
    radius makes the rewrite provably lossless: any point within RADIUS
    of (x, y) lies in a cell whose index differs by at most 1 on each
    axis. Per customer point: how many supplier points are in radius,
    and the nearest one (squared integer distance; ties break to the
    smallest supplier key via the packed-BIGINT argmin, the
    dedup_exact_substr convention — no float math anywhere, so both
    engines agree bit-for-bit).

    The DuckDB oracle runs the NAIVE quadratic theta join (distance
    filter over the full cross product) — a different plan arriving at
    the same rows certifies the cell rewrite drops nothing.

    Plan shape at 100 TB: both sides shuffle ONCE on the cell key (the
    probe side writes 9 cell keys per point — a constant fan-out, the
    price of shuffle-free candidate lookup); candidates per probe are
    bounded by cell density, never by table size; the per-customer
    argmin/count partials map-side. With a skewed city-density layout
    the hot cells split by the same salting recipe as join_salted_skew;
    no cross product at any scale."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        _grid_point("c_custkey", "cx").alias("x"),
        _grid_point("c_custkey", "cy").alias("y"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _grid_point("s_suppkey", "sx").alias("sx"),
        _grid_point("s_suppkey", "sy").alias("sy"),
    )
    # Packed-argmin validity guard (see PACK above): a supplier key at or
    # beyond PACK would silently corrupt nearest_suppkey/nearest_d2, so
    # fail the job instead. assert_true is a per-row JVM conditional —
    # free next to the join — and returns NULL on pass, hence coalesce.
    supp_cells = supp.filter(
        F.coalesce(F.assert_true(F.col("s_suppkey") < PACK), F.lit(True))
    ).select(
        "s_suppkey",
        "sx",
        "sy",
        (F.col("sx") / RADIUS).cast("bigint").alias("cell_x"),
        (F.col("sy") / RADIUS).cast("bigint").alias("cell_y"),
    )
    probes = cust.select(
        "c_custkey",
        "x",
        "y",
        F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dx"),
    ).select(
        "c_custkey",
        "x",
        "y",
        ((F.col("x") / RADIUS).cast("bigint") + F.col("dx")).alias("cell_x"),
        F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)])).alias("dy"),
    ).select(
        "c_custkey",
        "x",
        "y",
        "cell_x",
        ((F.col("y") / RADIUS).cast("bigint") + F.col("dy")).alias("cell_y"),
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    hits = probes.join(supp_cells, ["cell_x", "cell_y"]).filter(d2 <= R2)
    return (
        hits.groupBy("c_custkey")
        .agg(
            F.count("*").cast("bigint").alias("n_in_radius"),
            F.min(d2 * PACK + F.col("s_suppkey")).alias("_pack"),
        )
        .select(
            "c_custkey",
            "n_in_radius",
            (F.col("_pack") % PACK).cast("bigint").alias("nearest_suppkey"),
            F.expr(f"_pack DIV {PACK}").cast("bigint").alias("nearest_d2"),
        )
    )


_SQL_GRID_POINT = (
    "(('0x' || substr(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 6))::BIGINT"
    f" % {GRID})"
)

_ORACLE_GEO_RADIUS = f"""
WITH cust AS (
  SELECT c_custkey,
         {_SQL_GRID_POINT.format(salt="cx", key="c_custkey")} AS x,
         {_SQL_GRID_POINT.format(salt="cy", key="c_custkey")} AS y
  FROM customer
),
supp AS (
  SELECT s_suppkey,
         {_SQL_GRID_POINT.format(salt="sx", key="s_suppkey")} AS sx,
         {_SQL_GRID_POINT.format(salt="sy", key="s_suppkey")} AS sy
  FROM supplier
),
hits AS (
  SELECT c.c_custkey, s.s_suppkey,
         (c.x - s.sx) * (c.x - s.sx) + (c.y - s.sy) * (c.y - s.sy) AS d2
  FROM cust c JOIN supp s
    ON (c.x - s.sx) * (c.x - s.sx) + (c.y - s.sy) * (c.y - s.sy) <= {R2}
)
SELECT c_custkey,
       CAST(count(*) AS BIGINT) AS n_in_radius,
       CAST(min(d2 * {PACK} + s_suppkey) % {PACK} AS BIGINT) AS nearest_suppkey,
       min(d2 * {PACK} + s_suppkey) // {PACK} AS nearest_d2
FROM hits
GROUP BY c_custkey
"""


QUERIES = {
    "range_join_binned": q_range_join_binned,
    "orders_backlog_sweep": q_orders_backlog_sweep,
    "geo_radius_join": q_geo_radius_join,
}
ORACLE = {
    "range_join_binned": _ORACLE_RANGE_JOIN,
    "orders_backlog_sweep": _ORACLE_BACKLOG,
    "geo_radius_join": _ORACLE_GEO_RADIUS,
}
