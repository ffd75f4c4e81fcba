"""Relational operator coverage (SURVEY.md §2 Part C): scans, filters,
projections, equi/semi/anti/broadcast joins, hash aggregation, distinct,
rollup/cube/grouping sets, set operations, scalar function surface.

Queries are TPC-H-shaped (adapted to the driver's slimmer schemas). Every
floating aggregate goes through the decimal-exact helpers in
``..functions`` so the DuckDB oracle hash-matches bit-for-bit regardless of
partitioning (see that module's docstring).

Scale notes (apply to the whole module):
- Dimension tables (region 5, nation 25, supplier, part) are broadcast —
  explicitly via ``F.broadcast`` where the optimizer can't see the size
  through a transform. customer⋈orders and orders⋈lineitem shuffle on
  their keys; at 100 TB those tables are bucketed on the join key so the
  sort-merge join runs without a shuffle, and AQE's skew-join splits any
  hot key.
- Filters are expressed directly on scan columns so Catalyst pushes them
  into the parquet reader (verify: ``PushedFilters`` in explain output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    SQL_CHARGE_DEC,
    SQL_REVENUE_DEC,
    charge_dec,
    exact_avg_halfup,
    exact_sum,
    exact_sum_dec,
    revenue_dec,
    sql_exact_avg_halfup,
    sql_exact_sum,
    sql_exact_sum_dec,
)
from ..tables import load_table
from . import spread_by


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# TPC-H Q1: pricing summary report — the canonical scan+filter+agg.
# ---------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table aggregate with 8 measures over 2 group keys. Map-side
    partial aggregation means the shuffle carries 6 group rows per task,
    not 600k input rows — the plan that survives 100 TB unchanged.

    spread() AFTER the pushdown filter: the harness table is one
    single-row-group parquet file, so without it the whole decimal partial
    aggregation runs in one task (measured 1.48s vs 1.14s at sf0.1); on a
    real multi-split layout spread() no-ops and the plan is unchanged."""
    from . import spread

    li = spread(
        _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    )
    disc_price = revenue_dec()
    charge = charge_dec()
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum_dec(disc_price).alias("sum_disc_price"),
            exact_sum_dec(charge).alias("sum_charge"),
            exact_avg_halfup("l_quantity").alias("avg_qty"),
            exact_avg_halfup("l_extendedprice").alias("avg_price"),
            exact_avg_halfup("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_ORACLE_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       {sql_exact_sum('l_quantity')} AS sum_qty,
       {sql_exact_sum('l_extendedprice')} AS sum_base_price,
       {sql_exact_sum_dec(SQL_REVENUE_DEC)} AS sum_disc_price,
       {sql_exact_sum_dec(SQL_CHARGE_DEC)} AS sum_charge,
       {sql_exact_avg_halfup('l_quantity')} AS avg_qty,
       {sql_exact_avg_halfup('l_extendedprice')} AS avg_price,
       {sql_exact_avg_halfup('l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# TPC-H Q3: shipping priority — 3-way join + agg + top-k.
# ---------------------------------------------------------------------------

def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer⋈orders⋈lineitem with selective filters on both ends.
    customer('BUILDING') is small → broadcast into orders, so only the
    orders⋈lineitem equi-join shuffles; top-10 runs as
    TakeOrderedAndProject (no global sort materialization).

    Deliberately NOT spread: an interleaved A/B at sf0.1 (r6) showed
    repartitioning the filtered probe side costs more than the serial
    broadcast-probe it parallelizes (1.12 s vs 1.04 s) — hash-lookup
    probes are cheap per row, unlike the decimal-partial aggregation that
    makes spread_by pay in q18."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-06-30")
    revenue = revenue_dec()
    return (
        li.join(
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey),
            li.l_orderkey == orders.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_sum_dec(revenue).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_ORACLE_Q3 = f"""
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       {sql_exact_sum_dec(SQL_REVENUE_DEC)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1996-06-30'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# TPC-H Q5: local supplier volume — 6-way join through the star schema.
# ---------------------------------------------------------------------------

def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full region→nation→(customer,supplier)→orders→lineitem star join
    with the c_nationkey = s_nationkey local-supplier constraint. region and
    nation broadcast (5 and 25 rows at any SF — dimension tables stay small
    while facts grow); the fact-fact join shuffles on orderkey."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    # NOT spread: A/B at sf0.1 (r6) put the repartition cost above the
    # serial-probe saving (1.33 s vs 1.03 s) — see q3's docstring
    li = _t(spark, sf_dir, "lineitem")
    revenue = revenue_dec()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(exact_sum_dec(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


_ORACLE_Q5 = f"""
SELECT n_name, {sql_exact_sum_dec(SQL_REVENUE_DEC)} AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


# ---------------------------------------------------------------------------
# TPC-H Q6: forecast revenue — pure scan+filter+scalar agg.
# ---------------------------------------------------------------------------

def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pushdown showcase: all three predicates reach the parquet reader
    (PushedFilters), only 3 columns are read (ReadSchema), and the agg is a
    single scalar — at 100 TB this is I/O-bound and nothing else."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        exact_sum_dec(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * F.col("l_discount").cast("decimal(4,2)")
        ).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


_ORACLE_Q6 = f"""
SELECT {sql_exact_sum_dec("CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))")} AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# TPC-H Q10: returned items — join + agg + top-k with customer detail.
# ---------------------------------------------------------------------------

def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = revenue_dec()
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            exact_sum_dec(revenue).alias("revenue"),
            F.round(F.max(F.col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_ORACLE_Q10 = f"""
SELECT c_custkey, c_name, n_name,
       {sql_exact_sum_dec(SQL_REVENUE_DEC)} AS revenue,
       CAST(ROUND(MAX(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# TPC-H Q18: large-volume orders — agg + HAVING + join back.
# ---------------------------------------------------------------------------

def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-then-semi-join shape: find orderkeys whose total quantity
    clears a threshold, then enrich. The HAVING runs on the aggregated
    (small) side before the join — never filter after joining what you
    could filter before.

    spread_by on the agg key: the harness lineitem is one single-row-group
    file, so without it the scan AND the map-side decimal-sum partials run
    serially in one task; hash-partitioning on l_orderkey parallelizes the
    sum 32-wide while the one exchange doubles as the aggregate's
    distribution (interleaved A/B at sf0.1, r6: 1.36 s vs 1.56 s — and
    unlike q3/q5's cheap broadcast probes, this map side is real compute).
    On a real multi-split (or orderkey-bucketed) layout it no-ops and the
    classic partial→final plan resumes."""
    li = spread_by(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round(F.col("o_totalprice").cast("decimal(18,2)"), 2)
            .cast("double")
            .alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
    )


_ORACLE_Q18 = f"""
WITH big AS (
  SELECT l_orderkey, {sql_exact_sum('l_quantity')} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {sql_exact_sum('l_quantity')} > 150
)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS totalprice,
       total_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey ASC
"""


# ---------------------------------------------------------------------------
# Semi / anti joins.
# ---------------------------------------------------------------------------

def q_join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS) and left_anti (NOT EXISTS) over the same key, as
    one union so one query certifies both. Semi/anti never duplicate or
    widen rows — at scale they shuffle only the key column (Catalyst prunes
    the probe side to the join key)."""
    cust = _t(spark, sf_dir, "customer")
    orders_f = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    with_f = cust.join(orders_f, cust.c_custkey == orders_f.o_custkey, "left_semi")
    without_f = cust.join(orders_f, cust.c_custkey == orders_f.o_custkey, "left_anti")
    return (
        with_f.select("c_custkey", "c_name", F.lit("has_F_order").alias("category"))
        .unionByName(
            without_f.select("c_custkey", "c_name", F.lit("no_F_order").alias("category"))
        )
    )


_ORACLE_SEMI_ANTI = """
SELECT c_custkey, c_name, 'has_F_order' AS category
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
UNION ALL
SELECT c_custkey, c_name, 'no_F_order' AS category
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — the reconciliation shape (the one join type the
    registry didn't certify until round 7): the high-balance customer
    ledger against the 1996 order-activity ledger, keyed by customer, with
    both unmatched sides surviving. Emits the coalesced key, per-side
    presence flags, and null-safe measures — exactly the 'which rows exist
    only on one side, and what do the matched ones disagree on' report
    every data-reconciliation pipeline runs.

    Scale: a full outer hash join shuffles both sides on the key like an
    inner join (no broadcast — BOTH sides must keep unmatched rows, so
    Spark plans SortMergeJoin FullOuter); the aggregates below it are
    map-side-combinable. Skewed keys split under AQE like any other
    shuffle join."""
    rich = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    active = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders_1996"),
            F.sum(F.col("o_totalprice").cast("decimal(25,4)")).alias("spend_dec"),
        )
    )
    j = rich.join(active, rich.c_custkey == active.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").cast("bigint").alias("custkey"),
        F.col("c_custkey").isNotNull().cast("int").alias("in_rich"),
        F.col("o_custkey").isNotNull().cast("int").alias("in_active"),
        F.round(F.coalesce("c_acctbal", F.lit(0)), 2).cast("double").alias("acctbal"),
        F.coalesce("n_orders_1996", F.lit(0)).cast("bigint").alias("n_orders_1996"),
        F.round(F.coalesce(F.col("spend_dec"), F.lit(0)), 2)
        .cast("double")
        .alias("spend_1996"),
    )


_ORACLE_FULL_OUTER = """
WITH rich AS (
  SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_acctbal > 5000
),
active AS (
  SELECT o_custkey, count(*) AS n_orders_1996,
         sum(CAST(o_totalprice AS DECIMAL(25,4))) AS spend_dec
  FROM orders
  WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'
  GROUP BY o_custkey
)
SELECT CAST(coalesce(r.c_custkey, a.o_custkey) AS BIGINT) AS custkey,
       CASE WHEN r.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS in_rich,
       CASE WHEN a.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS in_active,
       CAST(ROUND(coalesce(r.c_acctbal, 0), 2) AS DOUBLE) AS acctbal,
       CAST(coalesce(a.n_orders_1996, 0) AS BIGINT) AS n_orders_1996,
       CAST(ROUND(coalesce(a.spend_dec, 0), 2) AS DOUBLE) AS spend_1996
FROM rich r FULL OUTER JOIN active a ON r.c_custkey = a.o_custkey
"""


# ---------------------------------------------------------------------------
# Set operations.
# ---------------------------------------------------------------------------

def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over customer key sets from different
    order-status slices, tagged and unioned into one result."""
    orders = _t(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    p_cust = orders.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("custkey")
    )
    both = f_cust.intersect(o_cust).withColumn("category", F.lit("F_and_O"))
    only_f = f_cust.subtract(o_cust).withColumn("category", F.lit("F_not_O"))
    any_fp = f_cust.union(p_cust).distinct().withColumn("category", F.lit("F_or_P"))
    return both.unionByName(only_f).unionByName(any_fp)


_ORACLE_SET_OPS = """
SELECT custkey, 'F_and_O' AS category FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
UNION ALL
SELECT custkey, 'F_not_O' AS category FROM (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
UNION ALL
SELECT custkey, 'F_or_P' AS category FROM (
  SELECT DISTINCT custkey FROM (
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'))
"""


def q_set_ops_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL): multiplicities
    matter — a custkey with 3 'F' orders and 1 'O' order keeps 1 copy under
    INTERSECT ALL and 2 under EXCEPT ALL. Aggregated to per-key copy counts
    so the result is deterministic."""
    orders = _t(spark, sf_dir, "orders")
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    inter = f_cust.intersectAll(o_cust).withColumn("op", F.lit("intersect_all"))
    exc = f_cust.exceptAll(o_cust).withColumn("op", F.lit("except_all"))
    return (
        inter.unionByName(exc)
        .groupBy("op", "custkey")
        .agg(F.count("*").alias("copies"))
    )


_ORACLE_SET_OPS_BAG = """
WITH inter AS (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
),
exc AS (
  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
)
SELECT 'intersect_all' AS op, custkey, count(*) AS copies FROM inter GROUP BY 2
UNION ALL
SELECT 'except_all' AS op, custkey, count(*) AS copies FROM exc GROUP BY 2
"""


# ---------------------------------------------------------------------------
# ROLLUP / CUBE / grouping sets.
# ---------------------------------------------------------------------------

def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with grouping_id — subtotal and
    grand-total rows. Spark expands rollup into a union of grouping sets
    before aggregation; partial aggregation still applies per set."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_lines"),
            exact_sum("l_quantity").alias("sum_qty"),
            F.grouping_id().alias("grouping_level"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_lines",
            "sum_qty",
            F.col("grouping_level").cast("bigint").alias("grouping_level"),
        )
    )


_ORACLE_ROLLUP = f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_lines,
       {sql_exact_sum('l_quantity')} AS sum_qty,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS grouping_level
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority): all 4 grouping sets."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            exact_sum("o_totalprice").alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            "sum_price",
        )
    )


_ORACLE_CUBE = f"""
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       count(*) AS n_orders,
       {sql_exact_sum('o_totalprice')} AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# DISTINCT aggregation.
# ---------------------------------------------------------------------------

def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count(DISTINCT) per group — Spark plans this as a two-stage expand +
    aggregate; at scale prefer approx_count_distinct when exactness isn't
    required (see q_approx_distinct). Safe shape: the Expand carries only
    declarative aggregates (count) — never co-locate distinct aggregates
    with imperative buffers (HLL/percentile) in one agg (measured 130×
    cliff, SCALE.md, Plan rules)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


_ORACLE_DISTINCT = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(DISTINCT l_orderkey) AS n_orders,
       count(*) AS n_lines
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# Scalar function surface: string / date / math in one projection.
# ---------------------------------------------------------------------------

def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String (upper/substr/concat/length/replace), date (year/month/day/
    dayofweek/datediff), math (abs/mod/sqrt/ln/power, rounded) — all
    JVM-side whole-stage-codegen expressions, zero UDFs."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_type", r"\s+", "_").alias("type_snake"),
        (F.col("p_size") % 7).alias("size_mod7"),
        F.abs(F.col("p_size") - 25).alias("size_dist25"),
        F.round(F.sqrt(F.col("p_retailprice")), 6).alias("price_sqrt"),
        F.round(F.log(F.col("p_retailprice") + 1), 6).alias("price_ln"),
        F.round(F.pow(F.col("p_size").cast("double"), 2), 1).alias("size_sq"),
    )


_ORACLE_SCALAR = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substr(p_name, 1, 8) AS name_prefix,
       CAST(length(p_name) AS INT) AS name_len,
       concat_ws('|', p_brand, p_type) AS brand_type,
       regexp_replace(p_type, '\\s+', '_', 'g') AS type_snake,
       p_size % 7 AS size_mod7,
       abs(p_size - 25) AS size_dist25,
       round(sqrt(p_retailprice), 6) AS price_sqrt,
       round(ln(p_retailprice + 1), 6) AS price_ln,
       round(pow(CAST(p_size AS DOUBLE), 2), 1) AS size_sq
FROM part
"""


QUERIES = {
    "tpch_q1_pricing_summary": q_tpch_q1,
    "tpch_q3_shipping_priority": q_tpch_q3,
    "tpch_q5_local_supplier": q_tpch_q5,
    "tpch_q6_forecast_revenue": q_tpch_q6,
    "tpch_q10_returned_items": q_tpch_q10,
    "tpch_q18_large_orders": q_tpch_q18,
    "join_semi_anti": q_join_semi_anti,
    "join_full_outer_reconcile": q_join_full_outer,
    "set_ops": q_set_ops,
    "set_ops_bag": q_set_ops_bag,
    "agg_rollup": q_agg_rollup,
    "agg_cube": q_agg_cube,
    "distinct_agg": q_distinct_agg,
    "scalar_functions": q_scalar_functions,
}

ORACLE = {
    "tpch_q1_pricing_summary": _ORACLE_Q1,
    "tpch_q3_shipping_priority": _ORACLE_Q3,
    "tpch_q5_local_supplier": _ORACLE_Q5,
    "tpch_q6_forecast_revenue": _ORACLE_Q6,
    "tpch_q10_returned_items": _ORACLE_Q10,
    "tpch_q18_large_orders": _ORACLE_Q18,
    "join_semi_anti": _ORACLE_SEMI_ANTI,
    "join_full_outer_reconcile": _ORACLE_FULL_OUTER,
    "set_ops": _ORACLE_SET_OPS,
    "set_ops_bag": _ORACLE_SET_OPS_BAG,
    "agg_rollup": _ORACLE_ROLLUP,
    "agg_cube": _ORACLE_CUBE,
    "distinct_agg": _ORACLE_DISTINCT,
    "scalar_functions": _ORACLE_SCALAR,
}
