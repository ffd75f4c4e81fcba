"""Operational analytics layer, round 7b: the change-data-capture /
attribution / decay / skew-diagnostic operators a production ingestion
platform runs NEXT TO the curation engine. Like every other module, each
entry is a declarative DataFrame plan with an exact DuckDB oracle twin.

Reference tie-in: the reference system (``src/app.js``) is an ingest→
status-rollup service; these operators are the analytics its operators
would run over the resulting event stream (CDC snapshotting mirrors the
reference's last-write-wins status log, ``src/app.js:75-88``, generalized
to keyed upserts with deletes).

Scale design (shared): every events-derived operator keys its shuffle on
``user_id`` — high-cardinality, hash-uniform — and the window/aggregate
stages REUSE that one exchange. The star-schema operator broadcasts the
dimension side. Nothing here collects to the driver; outputs are bounded
(per-user, per-channel, per-nation, or per-key-column rows). All ratio
outputs are integer ppm computed with DECIMAL integer division (`div` /
`//`), never float division — the one discipline that keeps shares and
skew factors bit-identical across engines AND overflow-safe at 100 TB
(BIGINT×1e6 overflows at ~9e12 rows; DECIMAL(38) does not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    SQL_REVENUE_DEC,
    exact_sum,
    exact_sum_dec,
    revenue_dec,
    sql_exact_sum,
    sql_exact_sum_dec,
)
from ..tables import load_table
from . import pin


# ---------------------------------------------------------------------------
# cdc_apply_log — last-writer-wins CDC snapshot
# ---------------------------------------------------------------------------

def q_cdc_apply_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a change-data-capture log to produce the current snapshot —
    the Delta/Iceberg MERGE shape expressed as a pure query. The events
    stream is read as an op log over the ``user_id`` entity: ``signup`` is
    an INSERT, ``error`` a DELETE, everything else an UPDATE carrying the
    new ``value``. The snapshot keeps, per entity, the latest op by
    (ts, event_id) — unless that op is a delete, in which case the entity
    is absent (the reference's status log is the same fold with only
    upserts, src/app.js:75-88).

    Plan: ONE hash exchange on user_id feeds the row_number window and the
    per-entity op counters (same partitioning, no second shuffle). At
    100 TB this is exactly log compaction: top-1-per-key after map-side
    pre-aggregation, written back partitioned for the next MERGE cycle.
    """
    ev = load_table(spark, sf_dir, "events")
    ops = ev.select(
        "event_id",
        "ts",
        "user_id",
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wall = Window.partitionBy("user_id")
    folded = ops.select(
        "user_id",
        "op",
        "value",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wall).alias("n_ops"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .over(wall)
        .cast("bigint")
        .alias("n_deletes"),
    )
    return folded.filter((F.col("rn") == 1) & (F.col("op") != "D")).select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("value").alias("last_value"),
        F.unix_timestamp("ts").alias("last_ts"),
        "n_ops",
        "n_deletes",
    )


_ORACLE_CDC = """
WITH ops AS (
  SELECT event_id, ts, user_id,
         CASE event_type WHEN 'signup' THEN 'I'
                         WHEN 'error' THEN 'D'
                         ELSE 'U' END AS op,
         value
  FROM events
),
folded AS (
  SELECT user_id, op, value, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_ops,
         CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id) AS BIGINT) AS n_deletes
  FROM ops
)
SELECT user_id, op AS last_op, value AS last_value,
       CAST(floor(epoch(ts)) AS BIGINT) AS last_ts, n_ops, n_deletes
FROM folded WHERE rn = 1 AND op <> 'D'
"""


# ---------------------------------------------------------------------------
# attribution_multi_touch — U-shaped credit over pre-conversion touches
# ---------------------------------------------------------------------------

# U-shaped (position-based) credit in parts-per-million of one conversion:
# first touch 40%, last touch 40%, the middle 20% split by integer division
# with the remainder assigned to the LAST middle touch (deterministic; no
# non-terminating fractions, so both engines agree bit-for-bit).
_CREDIT_END = 400_000
_CREDIT_MID_POOL = 200_000


def q_attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution: for every user with a purchase,
    credit the view/click touches that happened strictly before the user's
    FIRST purchase instant — 40% to the first touch, 40% to the last, 20%
    split across the middle — then roll the credit up per channel. Credits
    are integer ppm (1 conversion = 1,000,000) with the integer-division
    remainder assigned to the last middle touch, so the split is exact on
    both engines; a single-touch path earns the full million, a two-touch
    path 50/50.

    Plan: conversions are a per-user min aggregate; touches join on
    user_id and the position window runs over the SAME key, so the whole
    pipeline is one user_id exchange plus a trivial final rollup on the
    (tiny, bounded-domain) channel column. At 100 TB nothing changes: the
    per-user touch sequence is the unit of work and channels stay ≤ dozens.
    """
    ev = load_table(spark, sf_dir, "events")
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp_ts"))
    )
    touches = (
        ev.filter(F.col("event_type").isin("view", "click"))
        .join(first_purchase, "user_id")
        .filter(F.col("ts") < F.col("fp_ts"))
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    pos = touches.select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.row_number().over(wseq).alias("rn"),
        F.count("*").over(wall).alias("n"),
    )
    mid = F.col("n") - F.lit(2)
    mid_each = F.expr(f"CAST({_CREDIT_MID_POOL} AS BIGINT) div (n - 2)")
    credit = (
        F.when(F.col("n") == 1, F.lit(1_000_000))
        .when(F.col("n") == 2, F.lit(500_000))
        .when(F.col("rn") == 1, F.lit(_CREDIT_END))
        .when(F.col("rn") == F.col("n"), F.lit(_CREDIT_END))
        .when(
            F.col("rn") == F.col("n") - 1,
            F.lit(_CREDIT_MID_POOL) - mid_each * (mid - 1),
        )
        .otherwise(mid_each)
        .cast("bigint")
    )
    return (
        pos.select("channel", "rn", "n", credit.alias("credit_ppm"))
        .groupBy("channel")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_first"),
            F.sum(F.when(F.col("rn") == F.col("n"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_last"),
            F.sum("credit_ppm").cast("bigint").alias("credit_ppm_total"),
        )
    )


_ORACLE_ATTRIBUTION = f"""
WITH first_purchase AS (
  SELECT user_id, min(ts) AS fp_ts
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
touches AS (
  SELECT e.user_id, e.event_type AS channel, e.ts, e.event_id
  FROM events e JOIN first_purchase p USING (user_id)
  WHERE e.event_type IN ('view', 'click') AND e.ts < p.fp_ts
),
pos AS (
  SELECT user_id, channel,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM touches
),
credited AS (
  SELECT channel, rn, n,
         CAST(CASE
           WHEN n = 1 THEN 1000000
           WHEN n = 2 THEN 500000
           WHEN rn = 1 THEN {_CREDIT_END}
           WHEN rn = n THEN {_CREDIT_END}
           WHEN rn = n - 1 THEN {_CREDIT_MID_POOL}
                - ({_CREDIT_MID_POOL} // (n - 2)) * (n - 3)
           ELSE {_CREDIT_MID_POOL} // (n - 2)
         END AS BIGINT) AS credit_ppm
  FROM pos
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
       CAST(sum(CASE WHEN rn = n THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
       CAST(sum(credit_ppm) AS BIGINT) AS credit_ppm_total
FROM credited GROUP BY channel
"""


# ---------------------------------------------------------------------------
# events_decay_value — exponential time-decay weighted user value
# ---------------------------------------------------------------------------

# Weekly half-life, floored at 1/16: weights are negative powers of two with
# at most 4 decimal digits, so DECIMAL(5,4) carries them EXACTLY and the
# weighted sum is order-independent and engine-identical (no pow(), no
# per-row float drift).
_DECAY_WEIGHTS = ["1.0000", "0.5000", "0.2500", "0.1250", "0.0625"]


def q_events_decay_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed user value: each event's value is weighted by
    2^-(age_weeks) relative to the corpus's latest event DAY (weekly
    half-life, floored at 1/16 after 4 weeks) — the standard freshness
    feature for ranking/abuse models, next to the raw lifetime sum.

    Plan: the anchor day is a 1-row broadcast (a global max partial
    aggregate); the weighting is a narrow map; the per-user rollup is one
    hash exchange with map-side partials. Nothing about this changes at
    100 TB — the anchor stays one row and user_id hashes uniformly.
    """
    ev = load_table(spark, sf_dir, "events")
    anchor = F.broadcast(ev.agg(F.max(F.to_date("ts")).alias("anchor_day")))
    weights = F.array(*[F.lit(w).cast("decimal(5,4)") for w in _DECAY_WEIGHTS])
    k = F.least(
        F.expr("datediff(anchor_day, to_date(ts)) div 7").cast("int"), F.lit(4)
    )
    decayed = F.element_at(weights, k + 1) * F.col("value").cast("decimal(25,4)")
    return (
        ev.crossJoin(anchor)
        .select("user_id", decayed.alias("dv"), F.col("value"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            exact_sum("value").alias("raw_value"),
            F.round(F.sum("dv"), 4).cast("double").alias("decayed_value"),
        )
    )


_ORACLE_DECAY = f"""
WITH anchor AS (
  SELECT max(CAST(ts AS DATE)) AS anchor_day FROM events
),
weighted AS (
  SELECT user_id, value,
         (CASE least(date_diff('day', CAST(ts AS DATE), anchor_day) // 7, 4)
            WHEN 0 THEN CAST('{_DECAY_WEIGHTS[0]}' AS DECIMAL(5,4))
            WHEN 1 THEN CAST('{_DECAY_WEIGHTS[1]}' AS DECIMAL(5,4))
            WHEN 2 THEN CAST('{_DECAY_WEIGHTS[2]}' AS DECIMAL(5,4))
            WHEN 3 THEN CAST('{_DECAY_WEIGHTS[3]}' AS DECIMAL(5,4))
            ELSE CAST('{_DECAY_WEIGHTS[4]}' AS DECIMAL(5,4))
          END) * CAST(value AS DECIMAL(25,4)) AS dv
  FROM events, anchor
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       {sql_exact_sum('value')} AS raw_value,
       CAST(ROUND(SUM(dv), 4) AS DOUBLE) AS decayed_value
FROM weighted GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# dq_skew_report — join-key skew diagnostics
# ---------------------------------------------------------------------------

_SKEW_KEYS = [
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("events", "user_id"),
]


def q_dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for the fact tables' shuffle keys — the
    report an operator reads BEFORE picking salting factors or trusting
    AQE's skew-join split. Per key column: row count, distinct keys, the
    heaviest key's row count, the heaviest key itself (smallest key id
    among ties, via one max-struct fold — deterministic), and
    skew_ppm = max/mean in integer ppm (1,000,000 = perfectly uniform),
    computed with DECIMAL integer division so it cannot overflow or drift.

    Plan: each key column costs one map-side-partial count aggregation
    whose output is |keys| rows, then a 1-row fold — the counts table
    NEVER joins back to the fact. At 100 TB this is the cheapest possible
    full-data diagnostic: parquet column pruning reads one column per
    pass (grouping sets would fuse the scans if it dominated)."""
    out = None
    for table, key in _SKEW_KEYS:
        df = load_table(spark, sf_dir, table)
        counts = df.groupBy(F.col(key).cast("bigint").alias("k")).agg(
            F.count("*").alias("c")
        )
        # one fold: (max c, then min key among argmax) via struct ordering
        agg = counts.agg(
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_keys"),
            F.max("c").cast("bigint").alias("max_rows_per_key"),
            F.max(F.struct(F.col("c"), (-F.col("k")).alias("nk"))).alias("hot"),
        ).select(
            F.lit(f"{table}.{key}").alias("key_col"),
            "n_rows",
            "n_keys",
            "max_rows_per_key",
            (-F.col("hot.nk")).cast("bigint").alias("hot_key"),
            F.expr(
                "CAST((CAST(max_rows_per_key AS DECIMAL(38,0)) * n_keys * 1000000)"
                " div n_rows AS BIGINT)"
            ).alias("skew_ppm"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def _sql_skew_one(table: str, key: str) -> str:
    return f"""
SELECT '{table}.{key}' AS key_col,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(c) AS BIGINT) AS max_rows_per_key,
       CAST(-(max(struct_pack(c := c, nk := -k)).nk) AS BIGINT) AS hot_key,
       CAST(CAST(max(c) AS HUGEINT) * count(*) * 1000000 // sum(c) AS BIGINT) AS skew_ppm
FROM (SELECT CAST({key} AS BIGINT) AS k, count(*) AS c FROM {table} GROUP BY 1)
"""


_ORACLE_SKEW = " UNION ALL ".join(_sql_skew_one(t, k) for t, k in _SKEW_KEYS)


# ---------------------------------------------------------------------------
# revenue_share_hier — percent-of-parent hierarchical rollup
# ---------------------------------------------------------------------------

def q_revenue_share_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent rollup: revenue by customer nation,
    each nation's share of its region in exact integer ppm, plus the
    nation's revenue rank inside the region. The exact DECIMAL revenue
    sums are scaled to integer units (×10⁴) before the ppm division, so
    share_ppm is a pure integer quotient both engines derive identically.

    Plan: lineitem⋈orders is the only big-big join (hash on the key);
    customer/nation/region broadcast; the nation-level aggregate is 25
    rows, so the share window partitions by region over a trivially small
    input. Same plan at 100 TB: dims stay broadcastable by definition and
    the rollup output is bounded by the dimension domain, not the fact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = F.broadcast(
        cust.join(nation, cust.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    nat = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            exact_sum_dec(revenue_dec()).alias("revenue"),
            (F.sum(revenue_dec()) * 10000).cast("decimal(38,0)").alias("rev_units"),
        )
    )
    wreg = Window.partitionBy("r_name")
    wrank = wreg.orderBy(F.col("rev_units").desc(), F.col("n_name"))
    return nat.select(
        "r_name",
        "n_name",
        "revenue",
        F.expr(
            "CAST((rev_units * 1000000) div sum(rev_units)"
            " OVER (PARTITION BY r_name) AS BIGINT)"
        ).alias("share_ppm"),
        F.rank().over(wrank).cast("int").alias("rank_in_region"),
    )


_ORACLE_SHARE = f"""
WITH nat AS (
  SELECT r.r_name, n.n_name,
         {sql_exact_sum_dec(SQL_REVENUE_DEC)} AS revenue,
         CAST(sum({SQL_REVENUE_DEC}) * 10000 AS HUGEINT) AS rev_units
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT r_name, n_name, revenue,
       CAST(rev_units * 1000000 // sum(rev_units) OVER (PARTITION BY r_name) AS BIGINT) AS share_ppm,
       CAST(rank() OVER (PARTITION BY r_name
                         ORDER BY rev_units DESC, n_name) AS INT) AS rank_in_region
FROM nat
"""


def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over the per-type daily volume series —
    the standard "when did this metric's level shift?" monitor (Page 1954;
    the alarm layer above ``events_linreg_trend``'s slope and
    ``prep_source_kl_drift``'s distributional drift). The classic statistic
    S_i = Σ_{d<=i}(y_d − ȳ) is kept EXACT by scaling by n:
    n·S_i = n·prefix_i − i·total (all BIGINT — no float mean), and the
    changepoint is the day maximizing |n·S_i| (earliest-day tiebreak).

    Plan: one (type, day) map-side-combined aggregation, a prefix-sum
    window PARTITIONED by event_type (per-type series, never global), the
    |types|-row totals joined back by broadcast, and a per-type max-rank
    window on the same partitioning — the two windows and the final filter
    reuse one event_type exchange. Output: |types| rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count("*").cast("bigint").alias("y")
    )
    wp = Window.partitionBy("event_type").orderBy("day")
    pref = daily.select(
        "event_type",
        "day",
        F.sum("y").over(wp).alias("prefix"),
        F.row_number().over(wp).cast("bigint").alias("i"),
    )
    totals = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("y").cast("bigint").alias("total"),
    )
    scored = pref.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "n_days",
        "day",
        F.expr("abs(n_days * prefix - i * total)").alias("cusum_abs"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.desc("cusum_abs"), F.asc("day")
    )
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter("rn = 1")
        .select(
            "event_type",
            "n_days",
            # ISO string, not DATE: engines' date objects round-trip
            # differently through the pandas compare layer
            F.col("day").cast("string").alias("changepoint_day"),
            F.col("cusum_abs").alias("cusum_scaled_max"),
        )
    )


_ORACLE_CUSUM = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pref AS (
  SELECT event_type, day,
         sum(y) OVER w AS prefix,
         CAST(row_number() OVER w AS BIGINT) AS i
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
totals AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(y) AS BIGINT) AS total
  FROM daily GROUP BY 1
),
scored AS (
  SELECT p.event_type, t.n_days, p.day,
         abs(t.n_days * p.prefix - p.i * t.total) AS cusum_abs
  FROM pref p JOIN totals t USING (event_type)
)
SELECT event_type, n_days, CAST(day AS VARCHAR) AS changepoint_day,
       CAST(cusum_abs AS BIGINT) AS cusum_scaled_max
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY cusum_abs DESC, day ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


MAD_K = 3  # |value - median| > K * MAD flags an outlier


def q_dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier report per event_type via median absolute deviation —
    the data-quality screen that, unlike z-scores, a few wild values cannot
    poison (they'd inflate the stddev they're judged by; the median/MAD
    pair is 50%-breakdown robust). A value is flagged when
    |value − median| > {MAD_K}·MAD.

    Parity: both medians use linear-interpolation percentile (Spark
    ``percentile`` vs DuckDB ``quantile_cont`` — the pairing
    ``group_median`` certified); deviations are computed from the
    UNROUNDED median so both engines subtract the identical double, and
    only the reported columns round to 6dp. The flag comparison runs on
    exact IEEE arithmetic — same discipline throughout the repo.

    Plan: two passes over events (median, then deviations vs the
    broadcast |types|-row median table) + a final map-side-combined
    aggregation. At 100 TB the exact in-group percentile would swap for
    the mergeable histogram sketch (`sketch_histogram_quantiles`) — the
    flag rule is unchanged."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.first("med"), 6).alias("median"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum((F.col("adev") > MAD_K * F.col("mad")).cast("int"))
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


_ORACLE_MAD = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY 1
)
SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
       ROUND(any_value(d.med), 6) AS median,
       ROUND(any_value(m.mad), 6) AS mad,
       CAST(sum(CASE WHEN d.adev > {MAD_K} * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY 1
"""


def q_events_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every real forecast
    must beat, evaluated the honest way (walk-forward over the actual
    series): forecast each day's per-type volume as the SAME WEEKDAY last
    week (horizon-7) and as YESTERDAY (naive-1), and report both MAE
    numerators exactly. Calendar gaps are handled by JOINING on
    ``day − 7`` / ``day − 1`` (a lag() over row positions would silently
    compare across gaps). Integer-exact throughout: absolute errors and
    counts are BIGINT, MAE is reported in ppm by integer division.

    Plan: one (type, day) map-side-combined aggregation, then two
    self-equi-joins of that |types|×|days| daily table on the shifted
    date key — metadata-scale inputs, keyed joins, |types| output rows."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count("*").cast("bigint").alias("y")
    )

    def backtest(shift_days: int, tag: str):
        past = daily.select(
            "event_type",
            F.date_add("day", shift_days).alias("day"),
            F.col("y").alias("y_hat"),
        )
        return (
            daily.join(past, ["event_type", "day"])
            .groupBy("event_type")
            .agg(
                F.count("*").cast("bigint").alias(f"n_eval{tag}"),
                F.sum(F.abs(F.col("y") - F.col("y_hat")))
                .cast("bigint")
                .alias(f"abs_err{tag}"),
            )
        )

    b7, b1 = backtest(7, "7"), backtest(1, "1")
    return (
        b7.join(b1, "event_type")
        .select(
            "event_type",
            "n_eval7",
            "abs_err7",
            "n_eval1",
            "abs_err1",
            F.expr("CAST(abs_err7 * 1000000 div n_eval7 AS BIGINT)").alias(
                "mae7_ppm"
            ),
            F.expr("CAST(abs_err1 * 1000000 div n_eval1 AS BIGINT)").alias(
                "mae1_ppm"
            ),
        )
    )


_ORACLE_SEASONAL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
b7 AS (
  SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_eval7,
         CAST(sum(abs(a.y - b.y)) AS BIGINT) AS abs_err7
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.day = a.day - 7
  GROUP BY 1
),
b1 AS (
  SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_eval1,
         CAST(sum(abs(a.y - b.y)) AS BIGINT) AS abs_err1
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.day = a.day - 1
  GROUP BY 1
)
SELECT event_type, n_eval7, abs_err7, n_eval1, abs_err1,
       CAST(abs_err7 * 1000000 // n_eval7 AS BIGINT) AS mae7_ppm,
       CAST(abs_err1 * 1000000 // n_eval1 AS BIGINT) AS mae1_ppm
FROM b7 JOIN b1 USING (event_type)
"""


# Benford first-digit expectation, log10(1 + 1/d) in integer ppm —
# precomputed so neither engine evaluates a runtime log. Sums to exactly
# 1,000,000.
BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757)


def q_dq_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals — the classic fraud/data-quality
    screen (synthetic or fabricated amounts fail the first-significant-
    digit distribution). Per digit 1..9: observed order share vs the
    Benford expectation log10(1+1/d), both in exact integer ppm.

    Determinism: the price is decimal-cast (the repo's verified
    cross-engine double→DECIMAL(18,4) cast), scaled to an exact BIGINT,
    and the first digit read from the integer's STRING form — integer
    rendering is identical everywhere, unlike float log10/pow magnitude
    math which diverges on power-of-ten boundaries. Expectation is a
    broadcast 9-row literal table. Plan: one narrow map + a 9-group
    partial agg; at 100 TB this is a single map-side-combined pass."""
    o = load_table(spark, sf_dir, "orders")
    int_amount = (F.col("o_totalprice").cast("decimal(18,4)") * 10000).cast(
        "bigint"
    )
    digit = F.substring(int_amount.cast("string"), 1, 1).cast("int")
    counts = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
    )
    expected = F.lit(None).cast("bigint")
    for d, ppm in enumerate(BENFORD_PPM, start=1):
        expected = F.when(F.col("digit") == d, F.lit(ppm)).otherwise(expected)
    tot = F.broadcast(o.agg(F.count("*").cast("bigint").alias("n_total")))
    return (
        counts.crossJoin(tot)
        .select(
            "digit",
            "n_orders",
            F.expr("CAST((1000000 * n_orders) DIV n_total AS BIGINT)").alias(
                "observed_ppm"
            ),
            expected.cast("bigint").alias("expected_ppm"),
        )
        .withColumn(
            "abs_dev_ppm", F.abs(F.col("observed_ppm") - F.col("expected_ppm"))
        )
    )


_SQL_BENFORD_EXPECTED = "CASE digit " + " ".join(
    f"WHEN {d} THEN {ppm}" for d, ppm in enumerate(BENFORD_PPM, start=1)
) + " END"

_ORACLE_BENFORD = f"""
WITH counts AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 10000 AS BIGINT)
                          AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM orders)
SELECT digit, n_orders,
       CAST((1000000 * n_orders) // n_total AS BIGINT) AS observed_ppm,
       CAST({_SQL_BENFORD_EXPECTED} AS BIGINT) AS expected_ppm,
       abs(CAST((1000000 * n_orders) // n_total AS BIGINT)
           - {_SQL_BENFORD_EXPECTED}) AS abs_dev_ppm
FROM counts, tot
"""


def q_orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification — the merchandising Pareto analysis:
    rank parts by revenue, classify into A (first 80% of cumulative
    revenue), B (next 15%), C (tail 5%), and report each class's size and
    exact-ppm revenue share. The global cumulative share is the hard part
    at scale: a naive `SUM OVER (ORDER BY rev)` plans the un-scalable
    single-partition WindowExec, so this uses the same TeraSort-style
    recipe as ``global_ntile`` (operators/__init__.py:157) generalized
    from ranks to running SUMS — one range exchange on (rev DESC, key),
    per-PARTITION running sums (partitioned window), and per-partition
    revenue totals folded into broadcast prefix offsets.

    Numerics: per-part revenue is rounded to an exact DECIMAL(18,2) FIRST
    (both engines agree), so every cumulative sum and the ×5/×20 class
    boundary comparisons downstream are exact integer-decimal arithmetic —
    no float accumulation order anywhere."""
    pr = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.round(F.sum(revenue_dec()), 2).cast("decimal(18,2)").alias("rev"))
    )
    parts_n = spark.sparkContext.defaultParallelism
    ranked = pin(
        pr.repartitionByRange(parts_n, F.col("rev").desc(), F.col("l_partkey").asc())
        .sortWithinPartitions(F.col("rev").desc(), F.col("l_partkey").asc())
    )
    body = ranked.select(
        "*", F.monotonically_increasing_id().alias("__mid")
    ).select(
        "l_partkey",
        "rev",
        F.shiftrightunsigned("__mid", 33).cast("bigint").alias("__pid"),
    )
    wrun = (
        Window.partitionBy("__pid")
        .orderBy(F.col("rev").desc(), F.col("l_partkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = body.withColumn("__run", F.sum("rev").over(wrun))
    ptot = run.groupBy("__pid").agg(F.sum("rev").alias("__psum"))
    p2 = ptot.select(
        F.col("__pid").alias("__pid2"), F.col("__psum").alias("__psum2")
    )
    offsets = (
        ptot.join(F.broadcast(p2), F.col("__pid2") < F.col("__pid"), "left")
        .groupBy("__pid")
        .agg(
            F.coalesce(F.sum("__psum2"), F.lit(0).cast("decimal(18,2)")).alias(
                "__off"
            )
        )
    )
    total = ptot.agg(F.sum("__psum").alias("__total"))
    classed = (
        run.join(F.broadcast(offsets), "__pid")
        .crossJoin(F.broadcast(total))
        .withColumn("__cum", F.col("__off") + F.col("__run"))
        .withColumn(
            "part_class",
            F.when(F.col("__cum") * 5 <= F.col("__total") * 4, "A")
            .when(F.col("__cum") * 20 <= F.col("__total") * 19, "B")
            .otherwise("C"),
        )
    )
    cents = F.sum((F.col("rev") * 100).cast("bigint")).cast("bigint")
    # the total rides along from the broadcast __total (exact DECIMAL sum
    # of the same per-part revs) — re-aggregating lineitem for it would be
    # a second full fact scan for a number already in hand
    return classed.groupBy("part_class").agg(
        F.count("*").cast("bigint").alias("n_parts"),
        F.round(F.sum("rev"), 2).cast("double").alias("class_revenue"),
        cents.alias("__cents"),
        (F.max("__total") * 100).cast("bigint").alias("__tc"),
    ).select(
        "part_class",
        "n_parts",
        "class_revenue",
        F.expr("CAST((1000000 * __cents) DIV __tc AS BIGINT)").alias("share_ppm"),
    )


_ORACLE_ABC = f"""
WITH pr AS (
  SELECT l_partkey,
         CAST(ROUND(SUM({SQL_REVENUE_DEC}), 2) AS DECIMAL(18,2)) AS rev
  FROM lineitem GROUP BY 1
),
ranked AS (
  SELECT l_partkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM pr
),
tot AS (SELECT SUM(rev) AS total,
               CAST(SUM(CAST(rev * 100 AS BIGINT)) AS BIGINT) AS tc
        FROM pr),
classed AS (
  SELECT l_partkey, rev,
         CASE WHEN cum * 5 <= total * 4 THEN 'A'
              WHEN cum * 20 <= total * 19 THEN 'B'
              ELSE 'C' END AS part_class
  FROM ranked, tot
)
SELECT part_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS class_revenue,
       CAST((1000000 * CAST(SUM(CAST(rev * 100 AS BIGINT)) AS BIGINT))
            // (SELECT tc FROM tot) AS BIGINT) AS share_ppm
FROM classed GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Referential-integrity audit: the FK orphan sweep a warehouse runs after
# every load (the reference's existence guard, src/app.js:69-73, scaled to
# the whole star schema). One row per declared FK edge.
_FK_EDGES = (
    # (name, child table, fk col, parent table, pk col)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def q_dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit over every declared FK edge of the star
    schema: per edge, the child row count, the child rows whose FK has no
    parent, and the distinct orphan key count.

    Scale shape: each child table is collapsed to its (fk → row-count)
    aggregate FIRST (map-side combinable, output is key-cardinality sized,
    ≪ fact), so the anti-join that finds orphans runs key-vs-key, never
    row-vs-key; dimension parents (nation, region, customer, supplier,
    part) broadcast. Child totals are read off the same collapsed
    aggregate — one scan per child table even though two metrics come out
    of it. Output is exactly |edges| rows."""
    parts = []
    grouped_cache: dict[str, DataFrame] = {}
    for name, child, fk, parent, pk in _FK_EDGES:
        ck = f"{child}:{fk}"
        if ck not in grouped_cache:
            grouped_cache[ck] = pin(
                load_table(spark, sf_dir, child)
                .groupBy(F.col(fk).alias("k"))
                .agg(F.count("*").alias("c"))
            )
        g = grouped_cache[ck]
        pkeys = load_table(spark, sf_dir, parent).select(F.col(pk).alias("k"))
        orphans = g.join(pkeys, "k", "left_anti")
        totals = g.agg(
            F.sum("c").cast("bigint").alias("child_rows")
        ).crossJoin(
            orphans.agg(
                F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("orphan_rows"),
                F.count("*").cast("bigint").alias("orphan_keys"),
            )
        )
        parts.append(totals.select(F.lit(name).alias("fk_name"), "*"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("fk_name", "child_rows", "orphan_rows", "orphan_keys")


def _fk_block(name: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
SELECT '{name}' AS fk_name,
       CAST((SELECT count(*) FROM {child}) AS BIGINT) AS child_rows,
       CAST(coalesce((SELECT sum(c) FROM (
          SELECT {fk} AS k, count(*) AS c FROM {child} GROUP BY 1
        ) g WHERE NOT EXISTS (
          SELECT 1 FROM {parent} p WHERE p.{pk} = g.k
        )), 0) AS BIGINT) AS orphan_rows,
       CAST((SELECT count(*) FROM (
          SELECT {fk} AS k FROM {child} GROUP BY 1
        ) g WHERE NOT EXISTS (
          SELECT 1 FROM {parent} p WHERE p.{pk} = g.k
        )) AS BIGINT) AS orphan_keys
"""


_ORACLE_ORPHANS = "\nUNION ALL\n".join(
    _fk_block(*edge) for edge in _FK_EDGES
)


# ---------------------------------------------------------------------------
# Customer value-class migration (the RFM follow-up every CRM runs): tercile
# customers by revenue independently in two periods, then count the 3×3
# transition matrix. Classes come from exact global terciles — the
# `global_ntile` TeraSort recipe per period, never a single-partition ntile.
MIGRATION_SPLIT = "1998-01-01"  # orders span 1995..2001; split at midpoint
MIGRATION_TILES = 3


def q_orders_class_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3×3 customer revenue-class transition matrix between the two halves
    of the order history: per period, customers tercile by exact total
    spend in cents (integer, custkey tiebreak); customers active in BOTH
    periods land in one matrix cell, with the cell count and its share of
    migrating customers in exact ppm.

    Scale shape: one (custkey, period) partial aggregate collapses orders
    to per-customer spend; each period's tercile is one `global_ntile`
    range exchange over its half; the matrix join keys on custkey and the
    output is exactly ≤ 9 rows. Class-1→3 cells are the churn-risk /
    growth cells a retention team reads."""
    from . import global_ntile

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.select(
        "o_custkey",
        F.when(F.col("o_orderdate") < MIGRATION_SPLIT, "p1")
        .otherwise("p2")
        .alias("period"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    ).groupBy("o_custkey", "period").agg(F.sum("cents").alias("spend_cents"))
    spend = pin(spend)

    def classed(period: str, out: str) -> DataFrame:
        half = spend.filter(F.col("period") == period).select(
            "o_custkey", "spend_cents"
        )
        return global_ntile(
            half, ["spend_cents", "o_custkey"], MIGRATION_TILES, out
        ).select("o_custkey", out)

    both = classed("p1", "class_p1").join(classed("p2", "class_p2"), "o_custkey")
    # r15 (guide §2.4): the migrating-customer total is the SUM of the ≤9
    # matrix cells — the former broadcast count over `both` re-derived the
    # customers-sized period join a second time just to count its rows.
    # The matrix is pinned (9 rows) so the total and the output read one
    # materialization and the join runs once.
    mat = pin(
        both.groupBy("class_p1", "class_p2").agg(
            F.count("*").cast("bigint").alias("n_customers")
        )
    )
    total = F.broadcast(
        mat.agg(F.sum("n_customers").cast("bigint").alias("n_both"))
    )
    return (
        mat.crossJoin(total)
        .select(
            F.col("class_p1").cast("int").alias("class_p1"),
            F.col("class_p2").cast("int").alias("class_p2"),
            "n_customers",
            F.expr("CAST(n_customers * 1000000 DIV n_both AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


_ORACLE_MIGRATION = f"""
WITH spend AS (
  SELECT o_custkey,
         CASE WHEN o_orderdate < TIMESTAMP '{MIGRATION_SPLIT}' THEN 'p1'
              ELSE 'p2' END AS period,
         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS spend_cents
  FROM orders GROUP BY 1, 2
),
c1 AS (
  SELECT o_custkey,
         ntile({MIGRATION_TILES})
           OVER (ORDER BY spend_cents, o_custkey) AS class_p1
  FROM spend WHERE period = 'p1'
),
c2 AS (
  SELECT o_custkey,
         ntile({MIGRATION_TILES})
           OVER (ORDER BY spend_cents, o_custkey) AS class_p2
  FROM spend WHERE period = 'p2'
),
migr AS (SELECT class_p1, class_p2 FROM c1 JOIN c2 USING (o_custkey)),
total AS (SELECT count(*) AS n_both FROM migr)
SELECT CAST(class_p1 AS INT) AS class_p1,
       CAST(class_p2 AS INT) AS class_p2,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(count(*) * 1000000 // n_both AS BIGINT) AS share_ppm
FROM migr CROSS JOIN total
GROUP BY class_p1, class_p2, n_both
"""


# ---------------------------------------------------------------------------
# Repeat-purchase cadence: the inter-order gap histogram (the CRM metric
# behind replenishment campaigns and churn-window sizing).
_GAP_BUCKETS = (
    ("01_lt_week", 0, 7),
    ("02_lt_month", 7, 30),
    ("03_lt_quarter", 30, 90),
    ("04_lt_year", 90, 365),
    ("05_gte_year", 365, None),
)


def q_orders_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of consecutive-order gaps per customer (days between a
    customer's order and their previous one), bucketed into
    week/month/quarter/year bands with gap counts, distinct customers per
    band, and the band's share of all gaps in exact ppm.

    Scale shape: ONE hash exchange on o_custkey for the lag window
    (sequences are per-customer, no global sort), then the bucket CASE
    ladder partial-aggregates map-side to exactly 5 rows; the ppm share
    reads a broadcast 1-row total. The (o_orderdate, o_orderkey) tiebreak
    makes same-day orders deterministic on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    bucket = F.col("gap_days")
    expr = None
    for name, lo, hi in _GAP_BUCKETS:
        cond = bucket >= lo if hi is None else (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    staged = gaps.select(expr.alias("gap_bucket"), "o_custkey")
    total = F.broadcast(gaps.agg(F.count("*").cast("bigint").alias("n_total")))
    return (
        staged.groupBy("gap_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_gaps"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_customers"),
        )
        .crossJoin(total)
        .select(
            "gap_bucket",
            "n_gaps",
            "n_customers",
            F.expr("CAST(n_gaps * 1000000 DIV n_total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


def _gap_case_sql() -> str:
    whens = []
    for name, lo, hi in _GAP_BUCKETS:
        cond = (
            f"gap_days >= {lo}"
            if hi is None
            else f"gap_days >= {lo} AND gap_days < {hi}"
        )
        whens.append(f"WHEN {cond} THEN '{name}'")
    return "CASE " + " ".join(whens) + " END"


_ORACLE_REPEAT = f"""
WITH gaps AS (
  SELECT o_custkey,
         CAST(o_orderdate AS DATE)
           - lag(CAST(o_orderdate AS DATE))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           AS gap_days
  FROM orders
),
staged AS (
  SELECT o_custkey, {_gap_case_sql()} AS gap_bucket
  FROM gaps WHERE gap_days IS NOT NULL
),
total AS (SELECT count(*) AS n_total FROM staged)
SELECT gap_bucket,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(count(*) * 1000000 // n_total AS BIGINT) AS share_ppm
FROM staged CROSS JOIN total
GROUP BY gap_bucket, n_total
"""


def q_orders_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency profile per order priority: line-item count,
    min/max lag days, exact mean lag in floor-ppm, and a
    30/60/90-day-band histogram — the fulfilment-SLA readout a supply
    chain dashboards.

    Scale shape: the one genuinely big-big join in this module —
    lineitem ⋈ orders on the order key (both fact-sized, one keyed
    shuffle each side; on a layout bucketed by orderkey it is
    exchange-free, the property tests/test_bucketed_join.py proves for
    this exact pair). The lag arithmetic is an integer datediff and the
    rollup keys on the ≤5-value priority column — partial aggregation
    collapses everything map-side before the tiny final exchange."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = F.datediff("l_shipdate", "o_orderdate")
    joined = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select("o_orderpriority", lag.alias("lag_days"))
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.min("lag_days").cast("bigint").alias("min_days"),
        F.max("lag_days").cast("bigint").alias("max_days"),
        # the synthetic data contains NEGATIVE lags (ship before order —
        # a real DQ condition, counted below), so the exact mean uses the
        # sign-safe integer division (Spark DIV truncates toward zero,
        # DuckDB // floors; they agree only on non-negative operands)
        F.expr(
            "CAST((CASE WHEN sum(CAST(lag_days AS BIGINT)) >= 0 THEN 1"
            " ELSE -1 END)"
            " * (abs(sum(CAST(lag_days AS BIGINT))) * 1000000"
            " DIV count(*)) AS BIGINT)"
        ).alias("mean_days_ppm"),
        F.sum((F.col("lag_days") < 0).cast("int")).cast("bigint").alias(
            "n_negative"
        ),
        F.sum((F.col("lag_days") <= 30).cast("int")).cast("bigint").alias(
            "n_le_30"
        ),
        F.sum(
            ((F.col("lag_days") > 30) & (F.col("lag_days") <= 60)).cast("int")
        )
        .cast("bigint")
        .alias("n_31_60"),
        F.sum(
            ((F.col("lag_days") > 60) & (F.col("lag_days") <= 90)).cast("int")
        )
        .cast("bigint")
        .alias("n_61_90"),
        F.sum((F.col("lag_days") > 90).cast("int")).cast("bigint").alias(
            "n_gt_90"
        ),
    )


_ORACLE_SHIP_LATENCY = """
WITH joined AS (
  SELECT o_orderpriority,
         CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(min(lag_days) AS BIGINT) AS min_days,
       CAST(max(lag_days) AS BIGINT) AS max_days,
       CAST((CASE WHEN sum(CAST(lag_days AS BIGINT)) >= 0 THEN 1 ELSE -1 END)
            * (abs(sum(CAST(lag_days AS BIGINT))) * 1000000 // count(*))
            AS BIGINT) AS mean_days_ppm,
       CAST(sum(CASE WHEN lag_days < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_negative,
       CAST(sum(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_le_30,
       CAST(sum(CASE WHEN lag_days > 30 AND lag_days <= 60 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_31_60,
       CAST(sum(CASE WHEN lag_days > 60 AND lag_days <= 90 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_61_90,
       CAST(sum(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gt_90
FROM joined
GROUP BY o_orderpriority
"""


QUERIES = {
    "orders_ship_latency": q_orders_ship_latency,
    "orders_repeat_purchase": q_orders_repeat_purchase,
    "orders_class_migration": q_orders_class_migration,
    "dq_referential_orphans": q_dq_referential_orphans,
    "dq_benford_check": q_dq_benford_check,
    "orders_abc_classification": q_orders_abc_classification,
    "events_cusum_changepoint": q_events_cusum_changepoint,
    "dq_mad_outliers": q_dq_mad_outliers,
    "events_seasonal_backtest": q_events_seasonal_backtest,
    "cdc_apply_log": q_cdc_apply_log,
    "attribution_multi_touch": q_attribution_multi_touch,
    "events_decay_value": q_events_decay_value,
    "dq_skew_report": q_dq_skew_report,
    "revenue_share_hier": q_revenue_share_hier,
}

ORACLE = {
    "orders_ship_latency": _ORACLE_SHIP_LATENCY,
    "orders_repeat_purchase": _ORACLE_REPEAT,
    "orders_class_migration": _ORACLE_MIGRATION,
    "dq_referential_orphans": _ORACLE_ORPHANS,
    "dq_benford_check": _ORACLE_BENFORD,
    "orders_abc_classification": _ORACLE_ABC,
    "events_cusum_changepoint": _ORACLE_CUSUM,
    "dq_mad_outliers": _ORACLE_MAD,
    "events_seasonal_backtest": _ORACLE_SEASONAL,
    "cdc_apply_log": _ORACLE_CDC,
    "attribution_multi_touch": _ORACLE_ATTRIBUTION,
    "events_decay_value": _ORACLE_DECAY,
    "dq_skew_report": _ORACLE_SKEW,
    "revenue_share_hier": _ORACLE_SHARE,
}
