"""Extended relational coverage: EXISTS/scalar subqueries, nation-pair and
profit analytics, OR-of-ANDs predicates, pivot, explicit GROUPING SETS, the
SQL API surface (spark.sql over registered views), an as-of join, a
vectorized Pandas UDF, and approximate aggregates validated against their
exact twins (hash-checkable verdict columns, no rows-only entries left).

The SQL-API queries register temp views and go through ``spark.sql`` —
Catalyst produces the same plans either way (SURVEY §3.4); having both
styles in the suite certifies the SQL entry point, not just the DataFrame
builder.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    SQL_REVENUE_DEC,
    exact_sum_dec,
    revenue_dec,
    sql_exact_sum_dec,
)
from ..tables import load_table, register_views
from . import pin, spread


# ---------------------------------------------------------------------------
# TPC-H Q4: order priority checking — EXISTS subquery → left-semi join.
# ---------------------------------------------------------------------------

def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one late-shipped line (EXISTS) counted by
    priority. Catalyst turns the EXISTS into a left-semi hash join that
    shuffles only the keys."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    late = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


_ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# TPC-H Q7: volume shipping between nation pairs.
# ---------------------------------------------------------------------------

def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue flows between (supplier nation, customer nation) pairs per
    year. Two broadcast dimension joins resolve the nation names; the
    orders⋈lineitem⋈customer/supplier chain shuffles on its keys."""
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    n1 = F.broadcast(nation.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(nation.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(n1, supp.s_nationkey == F.col("sk"))
        .join(n2, cust.c_nationkey == F.col("ck"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(exact_sum_dec(revenue_dec()).alias("revenue"))
    )


_ORACLE_Q7 = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       {sql_exact_sum_dec(SQL_REVENUE_DEC)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND n1.n_name < n2.n_name
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# TPC-H Q9 (adapted): product-line profit by nation and year.
# ---------------------------------------------------------------------------

def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit (revenue − retail cost × qty) for 'widget' parts by supplier
    nation and order year — the classic multi-fact star aggregation. All
    factors decimal-cast before arithmetic (exact cross-engine sums)."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    profit = revenue_dec() - (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.col("l_quantity").cast("decimal(12,2)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(exact_sum_dec(profit).alias("profit"))
    )


_ORACLE_Q9 = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       {sql_exact_sum_dec(f"{SQL_REVENUE_DEC} - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))")} AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# TPC-H Q14: promotion effect — conditional aggregation.
# ---------------------------------------------------------------------------

def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of revenue from PROMO parts: sum(CASE WHEN)/sum — two exact
    decimal sums and one engine-identical double division."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    rev = revenue_dec()
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            exact_sum_dec(promo_rev).alias("promo_revenue"),
            exact_sum_dec(rev).alias("total_revenue"),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            F.round(F.col("promo_revenue") * 100 / F.col("total_revenue"), 6).alias(
                "promo_pct"
            ),
        )
    )


_ORACLE_Q14 = f"""
WITH agg AS (
  SELECT {sql_exact_sum_dec(f"CASE WHEN p_type = 'PROMO' THEN {SQL_REVENUE_DEC} ELSE CAST(0 AS DECIMAL(18,4)) END")} AS promo_revenue,
         {sql_exact_sum_dec(SQL_REVENUE_DEC)} AS total_revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
)
SELECT promo_revenue, total_revenue,
       ROUND(promo_revenue * 100 / total_revenue, 6) AS promo_pct
FROM agg
"""


# ---------------------------------------------------------------------------
# TPC-H Q19: discounted revenue — OR-of-ANDs predicate.
# ---------------------------------------------------------------------------

def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-branch predicate across join columns — exercises
    Catalyst's predicate normalization/partial pushdown (the common-factor
    l_quantity bounds push to the scan even though branches differ)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_type") == "SMALL") & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30) & (F.col("p_size") <= 15))
        | ((F.col("p_type") == "MEDIUM") & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 40) & (F.col("p_size") <= 25))
        | ((F.col("p_type") == "LARGE") & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 50) & (F.col("p_size") <= 35))
    )
    return joined.filter(cond).agg(
        exact_sum_dec(revenue_dec()).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


_ORACLE_Q19 = f"""
SELECT {sql_exact_sum_dec(SQL_REVENUE_DEC)} AS revenue, count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_type = 'SMALL' AND l_quantity BETWEEN 1 AND 30 AND p_size <= 15)
   OR (p_type = 'MEDIUM' AND l_quantity BETWEEN 10 AND 40 AND p_size <= 25)
   OR (p_type = 'LARGE' AND l_quantity BETWEEN 20 AND 50 AND p_size <= 35)
"""


# ---------------------------------------------------------------------------
# Pivot (cross-tab) — orders per year × priority.
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_COLS = ["urgent", "high", "medium", "not_specified", "low"]


def q_pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pivot`` with an explicit value list (explicit values keep the plan
    single-pass — without them Spark first runs a distinct scan)."""
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy(F.year("o_orderdate").alias("o_year"))
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    for old, new in zip(_PRIORITIES, _PRIORITY_COLS):
        piv = piv.withColumnRenamed(old, new)
    out = piv
    for c in _PRIORITY_COLS:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)).cast("bigint"))
    return out


_ORACLE_PIVOT = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       count(*) FILTER (o_orderpriority = '1-URGENT') AS urgent,
       count(*) FILTER (o_orderpriority = '2-HIGH') AS high,
       count(*) FILTER (o_orderpriority = '3-MEDIUM') AS medium,
       count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
       count(*) FILTER (o_orderpriority = '5-LOW') AS low
FROM orders
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# SQL API surface: scalar subquery + correlated EXISTS + GROUPING SETS.
# ---------------------------------------------------------------------------

def q_sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.sql(): customers above the global average balance, with the
    average as an uncorrelated scalar subquery (planned as a broadcast of a
    1-row aggregate)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               CAST(round(CAST(c_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE) AS acctbal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        """
    )


_ORACLE_SCALAR_SUBQ = """
SELECT c_custkey, c_name,
       CAST(round(CAST(c_acctbal AS DECIMAL(18,2)), 2) AS DOUBLE) AS acctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
"""


def q_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL surface."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n_lines
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


_ORACLE_GROUPING_SETS = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_lines
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


# ---------------------------------------------------------------------------
# As-of join: purchase → latest prior click per user (attribution).
# ---------------------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, an operator Spark lacks natively (SURVEY §2 Part C /
    pyspark guide): for each purchase, the user's latest click at-or-before
    the purchase time. Implemented with the scalable union+window pattern:
    tag both sides, sort per user by (ts, side-rank), and carry the last
    click forward with last(ignoreNulls) — one shuffle on user_id, no
    pairwise join at all. DuckDB's native ASOF JOIN is the oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("ets"),
        F.col("event_id").alias("click_event_id"),
        F.lit(0).alias("kind"),  # clicks sort before purchases at equal ts
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ets"),
        F.col("event_id").alias("purchase_event_id"),
        F.lit(1).alias("kind"),
    )
    unioned = clicks.withColumn("purchase_event_id", F.lit(None).cast("long")).unionByName(
        purchases.withColumn("click_event_id", F.lit(None).cast("long"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ets", "kind", F.coalesce("purchase_event_id", "click_event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "last_click_event_id", F.last("click_event_id", ignorenulls=True).over(w)
    ).withColumn(
        "last_click_ts",
        F.last(F.when(F.col("kind") == 0, F.col("ets")), ignorenulls=True).over(w),
    )
    return (
        carried.filter(F.col("kind") == 1)
        .select(
            "user_id",
            "purchase_event_id",
            F.col("last_click_event_id").alias("click_event_id"),
            (
                F.unix_micros("ets") - F.unix_micros("last_click_ts")
            ).alias("gap_us"),
        )
    )


_ORACLE_ASOF = """
WITH p AS (SELECT user_id, ts, event_id AS purchase_event_id FROM events WHERE event_type = 'purchase'),
     c AS (SELECT user_id, ts, event_id AS click_event_id FROM events WHERE event_type = 'click')
SELECT p.user_id, p.purchase_event_id, c.click_event_id,
       CASE WHEN c.click_event_id IS NULL THEN NULL
            ELSE epoch_us(p.ts) - epoch_us(c.ts) END AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
"""


# ---------------------------------------------------------------------------
# Vectorized Pandas UDF (Arrow scalar path) with a full oracle.
# ---------------------------------------------------------------------------

def q_pandas_udf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pandas-UDF hot path certified against a relational oracle: token
    counts via Arrow-batched Python exactly match the JVM-side split —
    proving the Python bridge preserves values and is only a perf choice.

    The udf is created INSIDE the function: a module-level ``@pandas_udf``
    runs its DDL parse at import time, which crashes Python workers that
    re-import this module to deserialize any other UDF (no session there).
    """

    @F.pandas_udf("int")
    def _pandas_token_count(texts: pd.Series) -> pd.Series:
        # Arrow-vectorized scalar UDF — batched columnar transfer
        return texts.str.split().str.len().fillna(0).astype("int32")

    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select("lang", _pandas_token_count("text").alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


_ORACLE_PANDAS_UDF = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0))) AS BIGINT) AS total_tokens,
       CAST(max(len(list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0))) AS INT) AS max_tokens
FROM documents
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Grouped-map applyInPandas (the per-group Pandas path) with a full oracle.
# ---------------------------------------------------------------------------

def _rank_within_lang(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group pandas transform: dense length rank within the language.
    Integer outputs (sort + arange) so the oracle (a window row_number)
    matches exactly — certifying the grouped-map path value-for-value."""
    out = pdf.sort_values(["n_chars", "doc_id"]).reset_index(drop=True)
    out["length_rank"] = range(1, len(out) + 1)
    return out[["lang", "doc_id", "n_chars", "length_rank"]]


def q_apply_in_pandas_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``groupBy().applyInPandas`` — whole groups as pandas DataFrames
    (Arrow both ways). The group key (lang) bounds memory per task; at
    100 TB the key must be chosen so no group exceeds executor memory
    (salt or pre-split giant groups)."""
    docs = spread(load_table(spark, sf_dir, "documents")).select("lang", "doc_id", "n_chars")
    return docs.groupBy("lang").applyInPandas(
        _rank_within_lang, schema="lang string, doc_id long, n_chars long, length_rank long"
    )


_ORACLE_APPLY_IN_PANDAS = """
SELECT lang, doc_id, n_chars,
       row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS length_rank
FROM documents
"""


# ---------------------------------------------------------------------------
# Grouped-agg pandas UDF (the UDAF surface): a custom aggregate the engine
# lacks as a single built-in composition, written once in pandas and used
# inside a normal groupBy().agg alongside JVM aggregates.
# ---------------------------------------------------------------------------

def q_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pandas_udf`` GROUPED_AGG — Spark's UDAF surface. The whole group's
    column arrives as one pandas Series per (lang, source) group and the
    UDF returns one scalar; partial aggregation does NOT apply (whole
    groups ship to Python), so at 100 TB the group key must bound group
    size — same rule as applyInPandas. Median of integers is exact in
    binary (k or k.5), so the DuckDB ``median()`` oracle matches
    value-for-value, certifying the bridge.

    Spark refuses to mix GROUPED_AGG pandas UDFs with JVM aggregates in one
    ``agg`` (INVALID_PANDAS_UDF_PLACEMENT), so every aggregate here is a
    pandas UDAF. UDFs defined inside the function for the same
    worker-reimport reason as ``q_pandas_udf_tokens`` above.
    """

    @F.pandas_udf("double")
    def _median(v: pd.Series) -> float:
        return float(v.median())

    @F.pandas_udf("long")
    def _count(v: pd.Series) -> int:
        return int(len(v))

    @F.pandas_udf("long")
    def _max(v: pd.Series) -> int:
        return int(v.max())

    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.groupBy("lang", "source").agg(
        _count("doc_id").alias("n_docs"),
        _median("n_chars").alias("median_chars"),
        _max("n_chars").alias("max_chars"),
    )


_ORACLE_GROUPED_AGG = """
SELECT lang, source, count(*) AS n_docs,
       median(n_chars) AS median_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY lang, source
"""


# ---------------------------------------------------------------------------
# Python UDTF — the table-function surface (1 row in → N rows out from
# Python), completing the UDF/UDAF/UDTF matrix.
# ---------------------------------------------------------------------------

def q_udtf_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Arrow-optimized): each document expands into 10-token
    chunks with per-chunk fingerprints — the table-function shape of a
    context-window chunker. The oracle recomputes the identical chunks
    relationally (list_slice over the token list), certifying the Python
    row-expansion value-for-value.

    Surface note: UDTFs are the row-expanding Python bridge (vs pandas_udf
    scalar, GROUPED_AGG, applyInPandas grouped-map, mapInPandas batch-map).
    ``useArrow=True`` batches rows over Arrow; still the slow path vs JVM
    ``posexplode`` — the honest use case is expansion logic too imperative
    for array expressions. Defined inside the function for the same
    worker-reimport reason as the pandas UDFs above."""
    import hashlib

    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, n_tokens int, chunk_md5 string", useArrow=True)
    class ChunkText:
        def eval(self, doc_id, text):  # noqa: ANN001
            toks = [t for t in text.split() if t]
            for i in range(0, len(toks), 10):
                chunk = toks[i : i + 10]
                yield (
                    i // 10,
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode()).hexdigest(),
                )

    docs = spread(load_table(spark, sf_dir, "documents"))
    # lateral-join the UDTF over each document row
    return (
        docs.select("doc_id", "text")
        .lateralJoin(ChunkText(F.col("doc_id").outer(), F.col("text").outer()))
        .select("doc_id", "chunk_idx", "n_tokens", "chunk_md5")
    )


_ORACLE_UDTF_CHUNK = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS t
  FROM documents
),
chunks AS (
  -- per-doc chunk count derived from the token count (no fixed cap, so
  -- the oracle stays lossless for arbitrarily long documents)
  SELECT doc_id, CAST(unnest(range(0, (len(t) + 9) // 10)) AS INT) AS chunk_idx, t
  FROM toks
),
sliced AS (
  SELECT doc_id, chunk_idx,
         list_slice(t, chunk_idx * 10 + 1, chunk_idx * 10 + 10) AS chunk
  FROM chunks
)
SELECT doc_id, chunk_idx,
       CAST(len(chunk) AS INT) AS n_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM sliced
"""


# ---------------------------------------------------------------------------
# mapInArrow: the zero-copy Arrow batch surface (the fourth Python-exec
# API after pandas_udf / applyInPandas / UDTF) — RecordBatches in,
# RecordBatches out, no pandas materialization.
# ---------------------------------------------------------------------------

def _cents_batches(batches):
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        cents = pc.cast(
            pc.round(
                pc.multiply(pc.cast(batch.column("value"), pa.float64()), 100.0),
                0,
                # SQL ROUND semantics (DuckDB/Spark round away from zero);
                # pyarrow's default is banker's rounding — the ONE switch
                # that keeps this path oracle-exact
                round_mode="half_towards_infinity",
            ),
            pa.int64(),
        )
        yield pa.RecordBatch.from_arrays(
            [batch.column("event_type"), cents], ["event_type", "cents"]
        )


def q_arrow_cents_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the zero-copy batch API (pyarrow RecordBatches in
    and out, no pandas conversion): the float `value` column is converted
    to an exact integer cents ledger per batch with vectorized pyarrow
    compute, then the JVM side aggregates BIGINT cents per event_type —
    the float-to-money normalization every payments/metering pipeline
    runs at the ingest edge.

    Exactness: pc.round is configured to half_towards_infinity (SQL
    ROUND's away-from-zero for positives; pyarrow defaults to banker's
    rounding — a silent 1-cent bias had it been left default), after
    which everything is integer. The sums are order-independent, so the
    oracle matches bit-for-bit — unlike double sums, no decimal cast
    gymnastics needed downstream of the conversion.

    Scale: mapInArrow streams batches (no per-group materialization like
    applyInPandas), so memory is O(batch) regardless of skew; the only
    shuffle is the |types|-bounded final aggregation with map-side
    combine. This is the template the multimodal decode path follows for
    binary payloads."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    cents = ev.mapInArrow(_cents_batches, schema="event_type string, cents long")
    return cents.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
    )


_ORACLE_ARROW_CENTS = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Approximate aggregates — declared rows-only (non-deterministic across
# engines by design; the driver records the weaker check).
# ---------------------------------------------------------------------------

def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counts + approximate quantiles — the sketches
    that replace exact distinct/percentile at 100 TB (bounded memory,
    mergeable partials) — VALIDATED against their exact twins so the entry
    is hash-checkable instead of rows-only.

    Sketch values themselves are engine-specific (no other engine
    reproduces Spark's HLL++ registers or QuantileSummaries), so the
    output emits (a) the exact distinct counts, which DuckDB matches
    bit-for-bit, and (b) deterministic verdict columns asserting each
    sketch landed within 5% of its exact twin — far looser than the
    configured rsd=0.01 / accuracy=10000, so the verdicts are stable 1s
    on any engine run, and the oracle asserts literal 1s. The exact twins
    are the eval harness (same pattern as sim_recall_eval's ground-truth
    join): at 100 TB you'd compute them on a sample audit, while the
    sketches remain the production path.

    Plan shape (REPLANNED round 10, measured): the original single
    aggregate mixed two countDistincts with the HLL and quantile buffers,
    and the multi-distinct Expand plan degraded the imperative buffers to
    a sort-aggregate path — 275 s at sf0.1 (the two distincts + two HLLs
    alone cost 58 s; individually each aggregate runs in ≤ 2 s). The fix
    removes distinct AGGREGATES entirely: HLL estimates depend only on
    the SET of hashed values, so exact count and approx_count_distinct
    are both computed from the already-distinct (flag, key) projection —
    a map-side-combinable distinct shuffle, no Expand — and the two
    percentile buffers get their own clean ObjectHashAggregate pass.
    Three 3-row results broadcast-join under one action: 2.1 s at sf0.1,
    exponent back in the flat band. Same discipline as the
    layout_column_stats replan (SCALE.md, Plan rules): never co-locate
    distinct aggregates with imperative-buffer aggregates in one Expand
    plan."""
    li = load_table(spark, sf_dir, "lineitem")

    def distinct_counts(col: str, out: str) -> DataFrame:
        d = li.select("l_returnflag", col).distinct()
        # count(col), NOT count(*): a NULL key would survive the distinct
        # projection as a (flag, NULL) row, but both count(DISTINCT col)
        # (the oracle / the pre-replan code) and approx_count_distinct
        # skip NULLs — count(*) would diverge by one on NULL-bearing keys
        return d.groupBy("l_returnflag").agg(
            F.count(col).alias(f"exact_{out}"),
            F.approx_count_distinct(col, 0.01).alias(f"_a_{out}"),
        )

    qa = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10_000)
    qe = F.percentile("l_extendedprice", F.lit([0.5, 0.95, 0.99]))
    pcts = li.groupBy("l_returnflag").agg(qa.alias("_qa"), qe.alias("_qe"))
    agg = (
        distinct_counts("l_orderkey", "orders")
        .join(F.broadcast(distinct_counts("l_partkey", "parts")), "l_returnflag")
        .join(F.broadcast(pcts), "l_returnflag")
        .withColumnRenamed("_a_orders", "_ao")
        .withColumnRenamed("_a_parts", "_ap")
    )

    def ok(approx, exact):
        return (
            F.when(F.abs(approx - exact) <= 0.05 * F.abs(exact), 1)
            .otherwise(0)
            .cast("int")
        )

    return agg.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        ok(F.col("_ao"), F.col("exact_orders")).alias("orders_within_5pct"),
        ok(F.col("_ap"), F.col("exact_parts")).alias("parts_within_5pct"),
        ok(F.col("_qa").getItem(0), F.col("_qe").getItem(0)).alias("p50_within_5pct"),
        ok(F.col("_qa").getItem(1), F.col("_qe").getItem(1)).alias("p95_within_5pct"),
        ok(F.col("_qa").getItem(2), F.col("_qe").getItem(2)).alias("p99_within_5pct"),
    )


_ORACLE_APPROX_DISTINCT = """
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS exact_orders,
       count(DISTINCT l_partkey) AS exact_parts,
       1 AS orders_within_5pct,
       1 AS parts_within_5pct,
       1 AS p50_within_5pct,
       1 AS p95_within_5pct,
       1 AS p99_within_5pct
FROM lineitem
GROUP BY l_returnflag
"""


HIST_BINS = 64
HIST_LO = 0.0
HIST_HI = 110_000.0  # l_extendedprice tops out ~105k at every SF
HIST_W = (HIST_HI - HIST_LO) / HIST_BINS


def q_sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equal-width histogram sketch probed for quantiles — the
    DETERMINISTIC member of the sketch family (count-min is its frequency
    twin): per-bin counts are plain integer partial aggregates, so unlike
    t-digest/KLL the sketch is engine-independent and exactly oracle-able,
    while still being how distributed percentile dashboards actually run
    at 100 TB (constant memory, partials merge by addition, one tiny
    64-row cumulative pass at the end).

    For each probe quantile q the operator reports the target rank
    ceil(q·N), the first bin whose cumulative count reaches it, that
    bin's UPPER EDGE as the quantile estimate (error ≤ one bin width —
    the fixed {HIST_BINS}-bin layout over [{HIST_LO}, {HIST_HI}) makes
    that a guaranteed ±{HIST_W} bound on l_extendedprice), and the
    cumulative count at the bin. Bin assignment is
    floor((x-lo)/w) clamped to the edge bins: one correctly-rounded IEEE
    division + floor, bit-identical across engines.

    Plan shape: one map-side-combinable aggregate keyed by bin (64 keys),
    then windows over the 64-row sketch — the single-partition window is
    on the REDUCED sketch, the pattern the module's scale notes bless."""
    li = load_table(spark, sf_dir, "lineitem")
    bin_col = F.least(
        F.greatest(
            F.floor((F.col("l_extendedprice") - F.lit(HIST_LO)) / F.lit(HIST_W)),
            F.lit(0),
        ),
        F.lit(HIST_BINS - 1),
    ).cast("int")
    sketch = li.select(bin_col.alias("bin")).groupBy("bin").agg(
        F.count("*").alias("cnt")
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = sketch.select(
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n_total"),
    )
    probes = F.broadcast(
        spark.range(1).select(
            F.explode(F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))).alias("q")
        )
    )
    hit = (
        cum.crossJoin(probes)
        .withColumn("target_rank", F.ceil(F.col("q") * F.col("n_total")))
        .filter(F.col("cum") >= F.col("target_rank"))
        .groupBy("q", "target_rank", "n_total")
        .agg(F.min("bin").alias("bin"))
    )
    return hit.join(cum.select("bin", "cum"), "bin").select(
        "q",
        F.col("target_rank").cast("bigint").alias("target_rank"),
        F.col("n_total").cast("bigint").alias("n_total"),
        "bin",
        F.round(F.lit(HIST_LO) + (F.col("bin") + 1) * F.lit(HIST_W), 2).alias(
            "quantile_est"
        ),
        F.col("cum").cast("bigint").alias("cum_at_bin"),
    )


_ORACLE_HISTOGRAM = f"""
WITH sketch AS (
  SELECT CAST(least(greatest(floor((l_extendedprice - {HIST_LO}) / {HIST_W}),
                             0), {HIST_BINS - 1}) AS INT) AS bin,
         count(*) AS cnt
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT bin,
         SUM(cnt) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS cum,
         SUM(cnt) OVER () AS n_total
  FROM sketch
),
probes AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
hit AS (
  SELECT q, target_rank, n_total, min(bin) AS bin
  FROM (
    SELECT c.*, p.q, CAST(ceil(p.q * c.n_total) AS BIGINT) AS target_rank
    FROM cum c, probes p)
  WHERE cum >= target_rank
  GROUP BY q, target_rank, n_total
)
SELECT h.q,
       CAST(h.target_rank AS BIGINT) AS target_rank,
       CAST(h.n_total AS BIGINT) AS n_total,
       h.bin,
       ROUND({HIST_LO} + (h.bin + 1) * {HIST_W}, 2) AS quantile_est,
       CAST(c.cum AS BIGINT) AS cum_at_bin
FROM hit h JOIN cum c USING (bin)
"""


# ---------------------------------------------------------------------------
# Bloom-filter membership sketch: build over the orders fact's customer keys,
# probe with the customer dimension — the shape of a runtime join filter
# (Spark's own InjectRuntimeFilter does exactly this with bloom_filter_agg).
# ---------------------------------------------------------------------------

BLOOM_BITS_HEX = 4  # 4 hex digits -> 16-bit positions, m = 65536 exactly
BLOOM_K = 4  # hash functions


def _bloom_positions(key) -> list:
    """The K deterministic bit positions of a key: the first 4 hex digits of
    K independently-salted md5s — uniform over [0, 65536) with no modulo
    bias, and byte-identical across engines (same construction family as
    the dedup MinHash salts, dedup.py)."""
    return [
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}:"), key.cast("string"))),
                1,
                BLOOM_BITS_HEX,
            ),
            16,
            10,
        ).cast("int")
        for i in range(BLOOM_K)
    ]


def q_sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom filter: build the bit set from the distinct
    customer keys present in ``orders``, probe with every customer, and
    report per-market-segment membership counts with the measured
    false-positive rate (true membership from an exact join, for the
    evaluation only).

    Scale shape: the bit set is AT MOST m = 65536 rows regardless of fact
    size — it broadcasts, and the membership decision is K CHAINED
    broadcast left joins (one per hash position, each a column of the
    probe row), so the probe side genuinely never shuffles for `positive`
    (exactly how a runtime filter must behave: the filter ships to the
    scan, the fact never moves — verified: the only probe-branch exchanges
    in the plan belong to the ground-truth equi-join below). Build side is
    one distinct + explode over K positions, map-side combinable. The
    exact ground-truth join exists only for FP accounting; production use
    stops at `positive`. Bloom guarantee pinned by tests: no false
    negatives."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    mem = orders.select(F.col("o_custkey").alias("k")).distinct()
    bits = mem.select(
        F.explode(F.array(*_bloom_positions(F.col("k")))).alias("pos")
    ).distinct()
    probe = customer.select(
        F.col("c_custkey").alias("k"),
        "c_mktsegment",
        *[
            p.alias(f"pos_{i}")
            for i, p in enumerate(_bloom_positions(F.col("c_custkey")))
        ],
    )
    tested = probe
    for i in range(BLOOM_K):
        tested = tested.join(
            F.broadcast(
                bits.select(
                    F.col("pos").alias(f"bpos_{i}"), F.lit(1).alias(f"hit_{i}")
                )
            ),
            F.col(f"pos_{i}") == F.col(f"bpos_{i}"),
            "left",
        )
    positive = (
        sum(F.coalesce(f"hit_{i}", F.lit(0)) for i in range(BLOOM_K))
        == BLOOM_K
    )
    flagged = tested.join(
        mem.withColumn("is_member", F.lit(1)), "k", "left"
    ).select(
        "c_mktsegment",
        positive.cast("int").alias("positive"),
        F.coalesce("is_member", F.lit(0)).alias("is_member"),
    )
    n_probes = F.count("*").cast("bigint")
    n_members = F.sum("is_member").cast("bigint")
    n_false_pos = F.sum(
        F.when((F.col("positive") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
    ).cast("bigint")
    return flagged.groupBy("c_mktsegment").agg(
        n_probes.alias("n_probes"),
        n_members.alias("n_members"),
        F.sum("positive").cast("bigint").alias("n_positive"),
        n_false_pos.alias("n_false_pos"),
        F.when(n_probes == n_members, F.lit(0.0))
        .otherwise(F.round(n_false_pos.cast("double") / (n_probes - n_members), 6))
        .alias("fp_rate"),
    )


def _sql_bloom_pos(key: str) -> str:
    return (
        f"('0x' || substr(md5(i.range || ':' || {key}), 1, {BLOOM_BITS_HEX}))::INT"
    )


_ORACLE_BLOOM = f"""
WITH mem AS (SELECT DISTINCT o_custkey AS k FROM orders),
bits AS (
  SELECT DISTINCT {_sql_bloom_pos('k')} AS pos
  FROM mem, range(0, {BLOOM_K}) i
),
probe AS (SELECT c_custkey AS k, c_mktsegment FROM customer),
ppos AS (
  SELECT DISTINCT k, {_sql_bloom_pos('k')} AS pos
  FROM probe, range(0, {BLOOM_K}) i
),
perkey AS (
  SELECT ppos.k, count(*) AS n_pos,
         sum(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM ppos LEFT JOIN bits USING (pos)
  GROUP BY ppos.k
),
flagged AS (
  SELECT probe.c_mktsegment,
         CASE WHEN perkey.n_pos = perkey.n_hit THEN 1 ELSE 0 END AS positive,
         CASE WHEN mem.k IS NOT NULL THEN 1 ELSE 0 END AS is_member
  FROM probe
  JOIN perkey USING (k)
  LEFT JOIN mem USING (k)
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(is_member) AS BIGINT) AS n_members,
       CAST(sum(positive) AS BIGINT) AS n_positive,
       CAST(sum(CASE WHEN positive = 1 AND is_member = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       CASE WHEN count(*) = sum(is_member) THEN 0.0
            ELSE ROUND(CAST(sum(CASE WHEN positive = 1 AND is_member = 0
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                       / (count(*) - sum(is_member)), 6) END AS fp_rate
FROM flagged GROUP BY c_mktsegment
"""


_SQL_LATERAL = """
SELECT n.n_name, t.c_custkey, t.spend
FROM nation n, LATERAL (
  SELECT c.c_custkey,
         CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS spend
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  WHERE c.c_nationkey = n.n_nationkey
  GROUP BY c.c_custkey
  ORDER BY spend DESC, c.c_custkey ASC
  LIMIT 2
) t
"""


def q_sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery through the SQL surface: top-2
    customers by order spend PER NATION, written as the per-row subquery a
    SQL user reaches for first. Catalyst decorrelates the lateral into a
    join + per-nation rank (DecorrelateInnerQuery), i.e. the same physical
    shape as the windowed top-k entries — certifying that the
    decorrelation rewrite, not just the hand-written window, is
    correctness- and scale-safe. DuckDB runs the IDENTICAL text (both
    engines speak this SQL:1999 construct), so the oracle is the same
    string. Spend is an exact DECIMAL sum rounded once."""
    register_views(spark, sf_dir)
    return spark.sql(_SQL_LATERAL)


def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix — the revenue twin of
    `cohort_retention`: customers are cohorted by FIRST-order month, and
    each (cohort, months-since-first) cell reports active buyers, exact
    revenue, and the cohort's cumulative LTV-to-date. This is the
    payback-period table every growth team reads.

    Plan: the first-order month is one min-aggregate on o_custkey; the
    cohort join runs on the same key; the cell rollup partial-aggregates
    map-side; and the cumulative LTV window partitions BY COHORT (bounded
    cells per cohort = months observed), so nothing global exists. Month
    arithmetic is integer (year*12+month), immune to calendar/tz
    libraries disagreeing."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
    )
    first = o.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    cells = (
        o.join(first, "o_custkey")
        .groupBy(F.col("m0").alias("cohort_m"), (F.col("m") - F.col("m0")).alias("months_since"))
        .agg(
            F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2
            ).cast("decimal(18,2)").alias("rev"),
        )
    )
    wc = (
        Window.partitionBy("cohort_m")
        .orderBy("months_since")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cells.select(
        # decode on (m-1): m = year*12 + month with month 1..12, so a
        # December m is divisible by 12 and the naive //12 %12 decode
        # would label it '<year+1>-00'
        F.concat_ws(
            "-",
            ((F.col("cohort_m") - 1) / 12).cast("int").cast("string"),
            F.lpad(((F.col("cohort_m") - 1) % 12 + 1).cast("string"), 2, "0"),
        ).alias("cohort_month"),
        "months_since",
        "n_active",
        F.col("rev").cast("double").alias("revenue"),
        F.sum("rev").over(wc).cast("double").alias("cum_ltv"),
    )


_ORACLE_COHORT_LTV = """
WITH o AS (
  SELECT o_custkey, o_totalprice,
         year(o_orderdate) * 12 + month(o_orderdate) AS m
  FROM orders
),
first AS (SELECT o_custkey, min(m) AS m0 FROM o GROUP BY 1),
cells AS (
  SELECT m0 AS cohort_m, m - m0 AS months_since,
         CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
              AS DECIMAL(18,2)) AS rev
  FROM o JOIN first ON o.o_custkey = first.o_custkey
  GROUP BY 1, 2
)
SELECT CAST((cohort_m - 1) // 12 AS INT) || '-'
         || lpad(CAST((cohort_m - 1) % 12 + 1 AS VARCHAR), 2, '0')
         AS cohort_month,
       months_since, n_active,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(SUM(rev) OVER (PARTITION BY cohort_m ORDER BY months_since
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS cum_ltv
FROM cells
"""


# Misra-Gries counter budget. The MG guarantee: any key with GLOBAL count
# > n/K must exceed n_p/K in at least one partition (counts sum across
# partitions), so the union of per-partition K-counter summaries is a
# SUPERSET of every phi=1/K-heavy key — candidates are then verified with
# exact counts, so the final output is deterministic (partition-layout
# independent) and oracle-checkable.
HH_K = 2000


def q_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phi-frequent heavy hitters (users with > n/HH_K of all events):
    per-partition candidate generation in the Misra-Gries / space-saving
    family (Misra & Gries 1982 — what streaming systems ship as
    approx_top_k), then exact verification of candidates only.

    Candidate rule (VERDICT r8 #3 — vectorized, no per-row Python): a
    partition with n_p rows emits every key whose LOCAL count*HH_K > n_p.
    Superset guarantee: counts sum across partitions, so a key with GLOBAL
    count > n/HH_K must be partition-heavy (count_p > n_p/HH_K) in at
    least one partition — and strict inequality bounds each partition's
    emission to < HH_K keys. The whole pass is one numpy
    ``value_counts``-style unique/count per Arrow partition; the old
    per-row MG decrement dict (the registry's last row-at-a-time Python)
    is gone at identical output.

    Scale rationale: at 100 TB the full groupBy(user_id) is a shuffle of
    |users| rows, but the candidate pass reduces each partition to < HH_K
    rows (constant!) before any exchange, and the exact-verify pass counts
    just the candidate set via a broadcast semi join against the fact —
    the LSH-candidates-then-verify shape applied to frequency. Output =
    the exact phi-heavy set with exact counts and integer-ppm shares,
    independent of partitioning."""
    import numpy as _np
    import pandas as _pd

    ev = spread(load_table(spark, sf_dir, "events").select("user_id"))

    def hh_partition(batches):
        # per-Arrow-batch vectorized unique/count, merged into a
        # keyed-count Series (memory O(distinct keys in partition), never
        # O(rows) — batches are not concatenated)
        acc = None
        n_rows = 0
        for pdf in batches:
            arr = pdf["user_id"].to_numpy()
            n_rows += len(arr)
            keys, counts = _np.unique(arr, return_counts=True)
            s = _pd.Series(counts, index=keys)
            acc = s if acc is None else acc.add(s, fill_value=0)
        if acc is None:
            acc = _pd.Series(dtype="int64")
        users = [int(u) for u in acc.index[acc.to_numpy() * HH_K > n_rows]]
        # the partition's row count rides the SAME pass as a sentinel row
        # (user_id NULL), so n_total needs no second scan of the fact
        yield _pd.DataFrame(
            {
                "user_id": _pd.array(users + [None], dtype="Int64"),
                "prows": _pd.array([None] * len(users) + [n_rows], dtype="Int64"),
            }
        )

    # pinned: cand and tot are two separate actions off the same full-scan
    # pass — without the pin the candidate scan of events ran twice
    # (ADVICE r8)
    summary = pin(
        ev.mapInPandas(hh_partition, schema="user_id long, prows long")
    )
    cand = summary.filter(F.col("user_id").isNotNull()).select("user_id").distinct()
    tot = F.broadcast(
        summary.filter(F.col("prows").isNotNull()).agg(
            F.sum("prows").cast("bigint").alias("n_total")
        )
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .join(F.broadcast(cand), "user_id")
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_events"))
    )
    return (
        exact.crossJoin(tot)
        .filter(F.col("n_events") * HH_K > F.col("n_total"))
        .select(
            "user_id",
            "n_events",
            F.expr("CAST((1000000 * n_events) DIV n_total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


_ORACLE_HEAVY_HITTERS = f"""
WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM events),
c AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       CAST((1000000 * n_events) // n_total AS BIGINT) AS share_ppm
FROM c, tot
WHERE n_events * {HH_K} > n_total
"""


QUERIES = {
    "sql_lateral_topk": q_sql_lateral_topk,
    "orders_cohort_ltv": q_orders_cohort_ltv,
    "sketch_heavy_hitters": q_sketch_heavy_hitters,
    "tpch_q4_order_priority": q_tpch_q4,
    "tpch_q7_nation_volume": q_tpch_q7,
    "tpch_q9_product_profit": q_tpch_q9,
    "tpch_q14_promo_effect": q_tpch_q14,
    "tpch_q19_discounted_revenue": q_tpch_q19,
    "pivot_priority_by_year": q_pivot_priority,
    "sql_scalar_subquery": q_sql_scalar_subquery,
    "sql_grouping_sets": q_sql_grouping_sets,
    "asof_join_attribution": q_asof_join,
    "pandas_udf_token_count": q_pandas_udf_tokens,
    "apply_in_pandas_rank": q_apply_in_pandas_rank,
    "grouped_agg_udaf": q_grouped_agg_udaf,
    "udtf_chunk_text": q_udtf_chunk_text,
    "arrow_cents_ledger": q_arrow_cents_ledger,
    "sketch_histogram_quantiles": q_sketch_histogram_quantiles,
    "sketch_bloom_membership": q_sketch_bloom_membership,
    "approx_distinct_sketch": q_approx_distinct,
}

ORACLE = {
    "sql_lateral_topk": _SQL_LATERAL,
    "orders_cohort_ltv": _ORACLE_COHORT_LTV,
    "sketch_heavy_hitters": _ORACLE_HEAVY_HITTERS,
    "tpch_q4_order_priority": _ORACLE_Q4,
    "tpch_q7_nation_volume": _ORACLE_Q7,
    "tpch_q9_product_profit": _ORACLE_Q9,
    "tpch_q14_promo_effect": _ORACLE_Q14,
    "tpch_q19_discounted_revenue": _ORACLE_Q19,
    "pivot_priority_by_year": _ORACLE_PIVOT,
    "sql_scalar_subquery": _ORACLE_SCALAR_SUBQ,
    "sql_grouping_sets": _ORACLE_GROUPING_SETS,
    "asof_join_attribution": _ORACLE_ASOF,
    "pandas_udf_token_count": _ORACLE_PANDAS_UDF,
    "apply_in_pandas_rank": _ORACLE_APPLY_IN_PANDAS,
    "grouped_agg_udaf": _ORACLE_GROUPED_AGG,
    "udtf_chunk_text": _ORACLE_UDTF_CHUNK,
    "arrow_cents_ledger": _ORACLE_ARROW_CENTS,
    "sketch_histogram_quantiles": _ORACLE_HISTOGRAM,
    "sketch_bloom_membership": _ORACLE_BLOOM,
    # upgraded from rows-only in round 7: the sketch is validated against
    # its exact twin in-engine, and the exact values + verdicts hash-match
    "approx_distinct_sketch": _ORACLE_APPROX_DISTINCT,
}
