"""TPC-H q2/q11/q16/q20 over a DERIVED partsupp (round 11).

The driver-generated schema has no ``partsupp`` table, which kept four
partsupp-only TPC-H queries out of scope (COVERAGE.md TPC-H scope note).
But TPC-H's own partsupp generation rule is *deterministic arithmetic on
keys* — each part gets 4 suppliers at fixed stride, and the per-row
attributes are key-derived — so both engines can generate an IDENTICAL
partsupp from the existing ``part``/``supplier`` tables and run the real
query shapes on it with exact value-hash oracles:

- ``ps_suppkey  = (p_partkey + i * (S div 4)) mod S``  for i ∈ 0..3, with
  S = supplier count. The four offsets ``i*(S div 4)`` are distinct mod S
  for every S ≥ 4, so each part gets exactly 4 DISTINCT suppliers (the
  classic TPC-H stride; dbgen's extra ``(p_partkey-1) div S`` drift term
  is dropped because at S = 10 it collides offsets — measured, not
  assumed).
- ``ps_availqty        = (p_partkey·37 + ps_suppkey·17) mod 9999 + 1``
- ``ps_supplycost``    is kept in integer CENTS:
  ``(p_partkey·13 + ps_suppkey·7) mod 99900 + 100`` (→ $1.00..$999.99).
  ALL aggregation/comparison happens on BIGINT cents — exact in both
  engines — and dollars appear only in output columns as ``cents/100.0``
  (the same IEEE double division on both sides).

q12/q21 stay out of scope: they need lineitem ship-mode/commit/receipt
DATES, which are real data the generator doesn't produce — inventing them
would manufacture semantics, whereas partsupp here is the spec's own
deterministic expansion. Their operator shapes (CASE-sum join, EXISTS/
NOT-EXISTS chains) are certified by `tpch_q13`/`join_semi_anti`/
`tpch_q22`.

Scale notes are per-query below; the common partsupp derivation is a
NARROW 4× expansion of ``part`` (explode over a literal 4-element
sequence + one broadcast one-row supplier count) — no shuffle, no skew,
columnar all the way, and at 100 TB it is strictly cheaper than scanning
a materialized partsupp of the same cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table

PS_PER_PART = 4


def derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic partsupp: (ps_partkey, ps_suppkey, ps_availqty,
    ps_supplycost_cents). See module docstring for the generation rule."""
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    # Guard the derivation's two preconditions (ADVICE r11): with
    # s_total < 4 the stride `s_total div 4` is 0 and all four offsets
    # collapse onto one suppkey (duplicate rows double-counting q11);
    # non-dense or 1-based s_suppkey would make derived keys silently
    # vanish from every join IDENTICALLY in both engines, which the
    # oracle hash can never catch. Fail loudly instead; the companion
    # test pins that every derived ps_suppkey exists in supplier.
    s_total = load_table(spark, sf_dir, "supplier").agg(
        F.count("*").alias("s_total")
    ).select(
        F.expr(
            f"CASE WHEN s_total >= {PS_PER_PART} THEN s_total "
            "ELSE raise_error('derived_partsupp requires supplier count >= 4') "
            "END"
        ).alias("s_total")
    )
    base = (
        part.crossJoin(F.broadcast(s_total))  # one-row broadcast, not a blowup
        .select(
            "p_partkey",
            "s_total",
            F.explode(F.expr(f"sequence(0, {PS_PER_PART - 1})")).alias("i"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            F.expr("(p_partkey + i * (s_total div 4)) % s_total").alias(
                "ps_suppkey"
            ),
        )
    )
    return base.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 37 + F.col("ps_suppkey") * 17) % 9999 + 1)
        .cast("int")
        .alias("ps_availqty"),
        ((F.col("ps_partkey") * 13 + F.col("ps_suppkey") * 7) % 99900 + 100)
        .cast("bigint")
        .alias("ps_supplycost_cents"),
    )


# The identical derivation as a SQL prefix every oracle below shares.
# DuckDB `//` is integer division on BIGINT (count(*) and p_partkey are
# BIGINT), matching Spark's `div`; both `%` operands are nonnegative.
_SQL_PARTSUPP = f"""
ps0 AS (
  SELECT p_partkey AS ps_partkey,
         (p_partkey + i.i * (st.s_total // 4)) % st.s_total AS ps_suppkey
  FROM part,
       -- same >= 4 precondition guard as the Spark derivation (ADVICE r11)
       (SELECT CASE WHEN count(*) >= {PS_PER_PART} THEN count(*)
               ELSE error('derived partsupp requires supplier count >= 4')
               END AS s_total FROM supplier) st,
       (SELECT unnest(range(0, {PS_PER_PART})) AS i) i
),
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         CAST((ps_partkey * 37 + ps_suppkey * 17) % 9999 + 1 AS INT)
           AS ps_availqty,
         CAST((ps_partkey * 13 + ps_suppkey * 7) % 99900 + 100 AS BIGINT)
           AS ps_supplycost_cents
  FROM ps0
)
"""


# ---------------------------------------------------------------------------
# TPC-H Q2 (adapted): minimum-cost supplier per part within a region.
# ---------------------------------------------------------------------------

Q2_REGION = "EUROPE"
Q2_TYPE = "ECONOMY"
Q2_MAX_SIZE = 15


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each ECONOMY part of size ≤ 15, the EUROPE supplier(s) offering
    the minimum supply cost — TPC-H q2's correlated-min decorrelated into
    a per-part aggregate + equality join (exactly Catalyst's plan for the
    SQL form).

    Scale: nation⋈region is a broadcast dim chain; the filtered part set
    broadcasts onto the derived partsupp (narrow); the per-part min is one
    partial-agg shuffle on ps_partkey, reused by the equality join (same
    key). No sort-the-world: ties produce multiple rows by design."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q2_REGION
    )
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == Q2_TYPE) & (F.col("p_size") <= Q2_MAX_SIZE)
    )
    ps = derived_partsupp(spark, sf_dir)
    in_region = (
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(F.broadcast(part), ps.ps_partkey == part.p_partkey)
    )
    min_cost = in_region.groupBy(F.col("ps_partkey").alias("mk")).agg(
        F.min("ps_supplycost_cents").alias("min_cents")
    )
    return (
        in_region.join(
            min_cost,
            (F.col("ps_partkey") == F.col("mk"))
            & (F.col("ps_supplycost_cents") == F.col("min_cents")),
        )
        .select(
            F.col("ps_partkey").alias("p_partkey"),
            "p_size",
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            "s_acctbal",
            F.round(F.col("min_cents") / 100.0, 2).alias("supplycost"),
        )
    )


_ORACLE_Q2 = f"""
WITH {_SQL_PARTSUPP},
in_region AS (
  SELECT ps.ps_partkey, ps.ps_supplycost_cents,
         s.s_suppkey, s.s_name, s.s_acctbal, n.n_name, p.p_size
  FROM partsupp ps
  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  JOIN part p ON ps.ps_partkey = p.p_partkey
  WHERE r.r_name = '{Q2_REGION}'
    AND p.p_type = '{Q2_TYPE}' AND p.p_size <= {Q2_MAX_SIZE}
),
min_cost AS (
  SELECT ps_partkey AS mk, min(ps_supplycost_cents) AS min_cents
  FROM in_region GROUP BY ps_partkey
)
SELECT i.ps_partkey AS p_partkey, i.p_size, i.s_suppkey, i.s_name,
       i.n_name AS nation, i.s_acctbal,
       ROUND(m.min_cents / 100.0, 2) AS supplycost
FROM in_region i
JOIN min_cost m
  ON i.ps_partkey = m.mk AND i.ps_supplycost_cents = m.min_cents
"""


# ---------------------------------------------------------------------------
# TPC-H Q11 (adapted): important stock — per-part inventory value above a
# fixed fraction of the region total.
# ---------------------------------------------------------------------------

Q11_REGION = "ASIA"
# keep parts whose value exceeds 1.5× the mean part value:
# 2·n·value > 3·total. TPC-H's own q11 scales its fixed fraction by 1/SF
# because an absolute fraction of the total selects NOTHING as |part|
# grows (measured here: a fixed total/1000 cut returned 0 rows at sf0.1);
# a mean-relative threshold keeps the selection fraction scale-stable
# (~24-25% at all three SFs: 24/80, 203/960, 2833/12000).
Q11_NUM, Q11_DEN = 3, 2


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose ASIA-supplied inventory value (supplycost × availqty)
    exceeds 1.5× the regional mean part value — q11's grouped HAVING
    against global scalars. Value arithmetic stays in BIGINT cents
    end-to-end; the threshold compare is division-free
    (2·n·value > 3·total) and cross-multiplies in DECIMAL(38,0) so even
    a 100 TB |part| cannot overflow the product (BIGINT would cap at
    ~2e9 parts × 4e9 cents).

    Scale: per-part values are one partial-agg shuffle; the total and
    count re-use those per-part rows (no second scan) and broadcast back
    as one row. Output is the filtered part list — bounded by |part|."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q11_REGION
    )
    supp = load_table(spark, sf_dir, "supplier")
    ps = derived_partsupp(spark, sf_dir)
    value = (
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.col("ps_supplycost_cents") * F.col("ps_availqty")
            ).alias("value_cents")
        )
    )
    total = value.agg(
        F.sum("value_cents").alias("total_cents"),
        F.count("*").alias("n_parts"),
    )
    dec = "decimal(38,0)"
    return (
        value.crossJoin(F.broadcast(total))  # one-row broadcast scalars
        .filter(
            F.col("value_cents").cast(dec)
            * F.col("n_parts").cast(dec)
            * Q11_DEN
            > F.col("total_cents").cast(dec) * Q11_NUM
        )
        .select(
            "ps_partkey",
            (F.col("value_cents") / 100.0).alias("stock_value"),
        )
    )


_ORACLE_Q11 = f"""
WITH {_SQL_PARTSUPP},
value AS (
  SELECT ps_partkey,
         SUM(ps_supplycost_cents * ps_availqty) AS value_cents
  FROM partsupp ps
  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{Q11_REGION}'
  GROUP BY ps_partkey
)
SELECT ps_partkey, value_cents / 100.0 AS stock_value
FROM value
WHERE CAST(value_cents AS HUGEINT)
        * (SELECT count(*) FROM value) * {Q11_DEN}
      > CAST((SELECT SUM(value_cents) FROM value) AS HUGEINT) * {Q11_NUM}
"""


# ---------------------------------------------------------------------------
# TPC-H Q16 (adapted): supplier variety per (brand, type, size).
# ---------------------------------------------------------------------------

Q16_EXCL_BRAND = "Brand#1"
Q16_SIZES = (1, 5, 9, 13, 17, 21, 25, 29)


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier count per (p_brand, p_type, p_size) for parts
    outside one brand and inside a size set, excluding flagged suppliers —
    q16's NOT-IN subquery + grouped COUNT(DISTINCT). The generator has no
    s_comment, so the 'Customer Complaints' exclusion becomes the
    equivalent deterministic predicate s_acctbal < 0 (the same anti-join
    shape against a key list).

    Selectivity note (ADVICE r11): s_acctbal < 0 matches 0 of the 10
    suppliers at sf0.001 — the anti-join is vacuous at the smallest SF
    only. It is live at sf0.01 (6/100) and sf0.1 (81/1000), pinned by
    tests/test_round12_ops.py::test_q16_supplier_exclusion_is_live.

    Scale: the supplier exclusion list is a broadcast anti-join;
    COUNT(DISTINCT ps_suppkey) per group is Spark's two-phase distinct
    aggregate (partial distinct before the shuffle)."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != Q16_EXCL_BRAND)
        & F.col("p_size").isin(*Q16_SIZES)
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("bad_key"))
    ps = derived_partsupp(spark, sf_dir)
    return (
        ps.join(F.broadcast(part), ps.ps_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp),
            ps.ps_suppkey == F.col("bad_key"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


_ORACLE_Q16 = f"""
WITH {_SQL_PARTSUPP}
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT ps.ps_suppkey) AS supplier_cnt
FROM partsupp ps
JOIN part p ON ps.ps_partkey = p.p_partkey
WHERE p.p_brand <> '{Q16_EXCL_BRAND}'
  AND p.p_size IN {Q16_SIZES}
  AND ps.ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
"""


# ---------------------------------------------------------------------------
# TPC-H Q20 (adapted): potential promotion stock.
# ---------------------------------------------------------------------------

Q20_REGION = "AFRICA"
Q20_NAME_PREFIX = "small"
Q20_YEAR = ("1996-01-01", "1997-01-01")


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in AFRICA holding excess stock of 'small…' parts: keep a
    (part, supplier) when ps_availqty > half the quantity that supplier
    shipped of that part in 1996 — q20's nested correlated subquery
    decorrelated into a join against the per-(part,supplier) shipped
    aggregate. The inner join reproduces the spec's NULL-scalar semantics
    (a pair that never shipped is excluded). Division-free compare:
    2·availqty > sum_qty with the quantity summed in DECIMAL — no float
    half-boundary.

    Scale: lineitem is pre-filtered on the shipdate year (pushed to the
    scan) and pre-aggregated on (l_partkey, l_suppkey) BEFORE touching
    partsupp — the shuffle carries one row per shipped pair, not per
    lineitem. Part-name filter broadcasts; output is a distinct supplier
    list, bounded by |supplier|."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith(Q20_NAME_PREFIX)
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q20_YEAR[0]) & (F.col("l_shipdate") < Q20_YEAR[1])
    )
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("l_partkey").alias("sk_part"),
            F.col("l_suppkey").alias("sk_supp"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty")
        )
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q20_REGION
    )
    supp = load_table(spark, sf_dir, "supplier")
    ps = derived_partsupp(spark, sf_dir)
    excess = ps.join(
        shipped,
        (ps.ps_partkey == F.col("sk_part")) & (ps.ps_suppkey == F.col("sk_supp")),
    ).filter(
        F.col("ps_availqty").cast("decimal(18,2)") * 2 > F.col("sum_qty")
    )
    return (
        excess.join(supp, excess.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name")
        .distinct()
    )


_ORACLE_Q20 = f"""
WITH {_SQL_PARTSUPP},
shipped AS (
  SELECT l_partkey AS sk_part, l_suppkey AS sk_supp,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '{Q20_NAME_PREFIX}%'
    AND l_shipdate >= TIMESTAMP '{Q20_YEAR[0]}'
    AND l_shipdate < TIMESTAMP '{Q20_YEAR[1]}'
  GROUP BY l_partkey, l_suppkey
)
SELECT DISTINCT s.s_suppkey, s.s_name
FROM partsupp ps
JOIN shipped sh ON ps.ps_partkey = sh.sk_part AND ps.ps_suppkey = sh.sk_supp
JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{Q20_REGION}'
  AND CAST(ps.ps_availqty AS DECIMAL(18,2)) * 2 > sh.sum_qty
"""


QUERIES = {
    "tpch_q2_min_cost_supplier": q_tpch_q2,
    "tpch_q11_important_stock": q_tpch_q11,
    "tpch_q16_supplier_variety": q_tpch_q16,
    "tpch_q20_promotion_stock": q_tpch_q20,
}

ORACLE = {
    "tpch_q2_min_cost_supplier": _ORACLE_Q2,
    "tpch_q11_important_stock": _ORACLE_Q11,
    "tpch_q16_supplier_variety": _ORACLE_Q16,
    "tpch_q20_promotion_stock": _ORACLE_Q20,
}
