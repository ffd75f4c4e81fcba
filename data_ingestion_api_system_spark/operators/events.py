"""Event-stream analytics over the ``events`` table (SURVEY.md §2 Part C:
streaming formalisms, evaluated batch-mode here; the same logic runs as a
real Structured Streaming query in ``..streaming`` with watermarks).

Timestamps: events.ts has shipped as parquet TIMESTAMP(NANOS) and as
timestamp[us]; the loader truncates NANOS to microseconds identically to
DuckDB (see tables.footer_schema).
All second-granularity outputs use floor semantics on both engines.

Scale: time-bucketed aggregations shuffle on (bucket, key) — uniform by
construction (time advances, keys hash) — and pre-aggregate map-side. In
streaming form the same plans run incrementally with watermark-bounded
state instead of a full shuffle per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import exact_avg_halfup, exact_sum, sql_exact_avg_halfup, sql_exact_sum
from ..tables import load_table
from . import _join_null_safe, global_ntile, grouped_global_rank, pin, spread_by

SESSION_GAP_SECONDS = 1800  # 30 min


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute windows per event_type via ``F.window`` — the
    batch twin of the streaming tumbling aggregation. Window start is
    emitted as epoch seconds (timezone-proof across engines)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


_ORACLE_TUMBLING = f"""
SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS bucket_start,
       event_type,
       count(*) AS n_events,
       {sql_exact_sum('value')} AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10-minute length, 5-minute slide): every event lands
    in exactly two windows. Spark's ``window(ts, len, slide)`` expands
    in-place (a generator, not a join) — the oracle reproduces it with an
    explicit two-offset unnest."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            exact_avg_halfup("value").alias("avg_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "n_events",
            "avg_value",
        )
    )


_ORACLE_SLIDING = f"""
SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 - off AS bucket_start,
       count(*) AS n_events,
       {sql_exact_avg_halfup('value')} AS avg_value
FROM events, (VALUES (0), (300)) AS offsets(off)
GROUP BY 1
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a new session starts when the gap to the
    previous event of the same user exceeds 30 minutes — lag + conditional
    cumulative sum, the classic two-window composition. Gap math runs in
    integer MICROSECONDS (exact on both engines). The streaming twin is
    ``session_window(ts, '30 minutes')`` (see streaming module)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap_us = us - F.unix_micros(F.lag("ts", 1).over(w))
    is_new = F.when(
        gap_us.isNull() | (gap_us > SESSION_GAP_SECONDS * 1_000_000), 1
    ).otherwise(0)
    sessions = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_seq"),
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            ((F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / 1_000_000.0)
            .alias("duration_seconds"),
            exact_sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_seq").cast("bigint").alias("session_seq"),
            "n_events",
            F.round("duration_seconds", 6).alias("duration_seconds"),
            "sum_value",
        )
    )


_ORACLE_SESSIONIZE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts, 1) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > {SESSION_GAP_SECONDS} * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, event_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       count(*) AS n_events,
       round((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1000000.0, 6) AS duration_seconds,
       {sql_exact_sum('value')} AS sum_value
FROM sess
GROUP BY user_id, session_seq
"""


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull ``k`` out of the JSON ``props``
    column (``get_json_object`` — JVM-side JSON path, no UDF), bucket it,
    aggregate. The 100 TB version would parse once with ``from_json`` into
    a struct column at ingest, not per-query."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"), "value")
        .groupBy("event_type", (F.col("k") - (F.col("k") % 10)).alias("k_bucket"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum("value").alias("sum_value"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_ORACLE_JSON = f"""
SELECT event_type,
       (k - (k % 10)) AS k_bucket,
       count(*) AS n_events,
       {sql_exact_sum('value')} AS sum_value,
       min(k) AS min_k,
       max(k) AS max_k
FROM (SELECT event_type, CAST(props->>'k' AS INT) AS k, value FROM events)
GROUP BY 1, 2
"""


def q_events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily profile: counts, exact value stats, distinct users,
    first/last event epoch — the monitoring rollup a pipeline dashboards."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("event_day")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            exact_sum("value").alias("sum_value"),
            exact_avg_halfup("value").alias("avg_value"),
            F.min(F.unix_micros("ts")).alias("first_us"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
    )


_ORACLE_TYPE_STATS = f"""
SELECT event_type,
       strftime(ts, '%Y-%m-%d') AS event_day,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       {sql_exact_sum('value')} AS sum_value,
       {sql_exact_avg_halfup('value')} AS avg_value,
       min(epoch_us(ts)) AS first_us,
       max(epoch_us(ts)) AS last_us
FROM events
GROUP BY 1, 2
"""


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences —
    the sequence model behind next-action prediction and funnel-shape
    drift detection. Each user's events order by (ts, event_id); adjacent
    pairs count into a from_type × to_type matrix, row-normalized into
    transition probabilities.

    Scale shape: ONE shuffle on user_id for the lag window (sequences are
    per-user, so partitions are balanced by user hash; no global sort),
    then the pair count partial-aggregates map-side into at most
    |types|² rows — the matrix is tiny no matter the corpus, so the
    row-normalization window runs on |types|² rows. The (ts, event_id)
    tiebreak makes simultaneous events deterministic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count("*").alias("n"))
    row = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n_transitions"),
        F.round(F.col("n").cast("double") / F.sum("n").over(row), 6).alias("prob"),
    )


_ORACLE_MARKOV = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT from_type, to_type,
       CAST(n AS BIGINT) AS n_transitions,
       ROUND(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type), 6) AS prob
FROM t
"""


def q_events_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation — the
    classic marketing-analytics rollup, and a stand-in for any per-entity
    quintile scoring. Per user: days since last event (vs the corpus max
    date), event count, exact-decimal value total; each dimension scored
    1-5 by ntile with a user_id tiebreak so the bucketing is a total order
    on both engines.

    Scale note: a naive ``ntile() OVER (ORDER BY ...)`` plans an
    un-partitioned WindowExec — a single-partition global sort over the
    ~|users| rollup, fine at millions of users, a scale killer at
    billions. Each score therefore runs through
    :func:`operators.global_ntile` — TeraSort-style range partitioning +
    per-partition rank offsets — which produces the IDENTICAL tile
    assignment (the oracle below stays plain exact ntile) from one range
    exchange per dimension and no global sort anywhere; the plan audit
    asserts no single-partition WindowExec survives in this plan.

    r15 restructure (guide §2): the three ntile dimensions are
    INDEPENDENT, but the former chained form
    (``global_ntile(global_ntile(global_ntile(base, R), F), M)``) range-
    exchanged the full widening row three times SEQUENTIALLY — each
    exchange waited on the previous score's materialization. Now each
    dimension ranks a narrow ``(user_id, dim)`` projection of the pinned
    rollup in its own independent subtree (the three range exchanges
    carry 2 columns each and can overlap in one job) and the tiles
    join back on the unique ``user_id``. Tile assignment is unchanged:
    it depends only on the ordered (dim, user_id) pairs and the total
    row count, both identical on the projection; the join-back is 1:1 on
    a key that is unique by groupBy construction, null-safe so a NULL
    user group survives exactly as it did in the chained form."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_date"),
        F.count("*").alias("n_events"),
        exact_sum("value").alias("total_value"),
    )
    corpus_max = F.broadcast(
        ev.agg(F.max(F.col("ts").cast("date")).alias("corpus_max_date"))
    )
    # pinned: the events-scale rollup feeds four branches (three ntile
    # projections + the join-back spine); without the pin each branch
    # would rebuild it from the scan
    base = pin(
        per_user.crossJoin(corpus_max).select(
            "user_id",
            F.datediff("corpus_max_date", "last_date")
            .cast("int")
            .alias("recency_days"),
            F.col("n_events").cast("bigint").alias("n_events"),
            "total_value",
        )
    )
    scored = base
    for dim, tile in (
        ("recency_days", "_t_r"),
        ("n_events", "_t_f"),
        ("total_value", "_t_m"),
    ):
        t = global_ntile(
            base.select("user_id", dim), [dim, "user_id"], 5, tile
        ).select("user_id", tile)
        # SHUFFLE_HASH, not sort-merge, for the 1:1 join-backs: both sides
        # are narrow user-keyed rows (the tile side is 2 ints), so the
        # per-partition hash build is tiny at any scale and the SMJ's two
        # sorts per join are pure waste (guide §3.1). Broadcast stays
        # wrong here: the tile table is |users|-sized.
        scored = _join_null_safe(
            scored, t.hint("shuffle_hash"), ["user_id"], broadcast_right=False
        )
    scored = scored.select(
        "*",
        (6 - F.col("_t_r")).alias("r_score"),
        F.col("_t_f").alias("f_score"),
        F.col("_t_m").alias("m_score"),
    )
    return scored.select(
        "user_id",
        "recency_days",
        "n_events",
        "total_value",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.lit("R"), F.col("r_score").cast("string"),
            F.lit("F"), F.col("f_score").cast("string"),
            F.lit("M"), F.col("m_score").cast("string"),
        ).alias("segment"),
    )


_ORACLE_RFM = f"""
WITH per_user AS (
  SELECT user_id,
         max(CAST(ts AS DATE)) AS last_date,
         count(*) AS n_events,
         {sql_exact_sum('value')} AS total_value
  FROM events GROUP BY user_id
),
corpus AS (SELECT max(CAST(ts AS DATE)) AS corpus_max_date FROM events),
base AS (
  SELECT user_id,
         CAST(date_diff('day', last_date, corpus_max_date) AS INT) AS recency_days,
         CAST(n_events AS BIGINT) AS n_events,
         total_value
  FROM per_user, corpus
),
scored AS (
  SELECT *,
         6 - ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC) AS r_score,
         ntile(5) OVER (ORDER BY n_events ASC, user_id ASC) AS f_score,
         ntile(5) OVER (ORDER BY total_value ASC, user_id ASC) AS m_score
  FROM base
)
SELECT user_id, recency_days, n_events, total_value,
       r_score, f_score, m_score,
       'R' || r_score || 'F' || f_score || 'M' || m_score AS segment
FROM scored
"""


def q_events_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value-concentration profile: exact Gini coefficient
    over the per-user value totals, plus the top-user share — the whale
    metric every monetization / abuse dashboard carries (a Gini near 1
    means a handful of users carry the type's whole value; near 0 means
    uniform spend). Uses the rank form of the Gini estimator,
    G = (2·Σ i·vᵢ − (n+1)·Σvᵢ) / (n·Σvᵢ) with vᵢ ascending.

    Scale shape: the rank is the hot spot — ``event_type`` has single-digit
    cardinality, so a ``row_number() OVER (PARTITION BY event_type)`` would
    funnel each type's full |users| rollup through ONE sort task (the exact
    low-cardinality-partition trap the registry bans for global windows).
    Instead the per-type rank runs through
    :func:`operators.grouped_global_rank` — global_ntile's TeraSort recipe
    generalized to groups (range exchange, monotonic ids, broadcast
    per-(partition, group) rebasing/offsets; property-pinned against the
    window form in tests/test_round12b_ops.py) — so a hot type spreads over
    many tasks and no window appears in the plan. The Gini fold itself is
    one map-side-combinable aggregate per type in exact DECIMAL (rank·value
    products are integer×2dp-decimal, order-independent), cast to DOUBLE
    only inside the final single-row-per-type expression; the oracle stays
    the plain windowed SQL."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        exact_sum("value").alias("total_value")
    )
    ranked = grouped_global_rank(
        per_user, "event_type", ["total_value", "user_id"], "__g_rnk"
    )
    tv_dec = F.col("total_value").cast("decimal(18,2)")
    folded = (
        ranked.select("event_type", tv_dec.alias("__g_tv"), "__g_rnk")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("__g_tv").alias("__g_sv"),
            F.sum(F.col("__g_rnk") * F.col("__g_tv")).alias("__g_siv"),
            F.max("__g_tv").alias("__g_maxv"),
        )
    )
    sv_d = F.col("__g_sv").cast("double")
    siv_d = F.col("__g_siv").cast("double")
    n = F.col("n_users")
    return folded.select(
        "event_type",
        "n_users",
        sv_d.alias("total_value"),
        F.round(
            (F.lit(2.0) * siv_d - (n + F.lit(1)) * sv_d) / (n * sv_d), 6
        ).alias("gini"),
        F.round(F.col("__g_maxv").cast("double") / sv_d, 6).alias(
            "top_user_share"
        ),
    )


_ORACLE_GINI = f"""
WITH per_user AS (
  SELECT event_type, user_id,
         {sql_exact_sum('value')} AS total_value
  FROM events GROUP BY event_type, user_id
),
ranked AS (
  SELECT event_type, CAST(total_value AS DECIMAL(18,2)) AS tv,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY total_value ASC, user_id ASC) AS rnk
  FROM per_user
),
folded AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_users,
         sum(tv) AS sv,
         sum(rnk * tv) AS siv,
         max(tv) AS maxv
  FROM ranked GROUP BY event_type
)
SELECT event_type, n_users,
       CAST(sv AS DOUBLE) AS total_value,
       ROUND((2.0 * CAST(siv AS DOUBLE) - (n_users + 1) * CAST(sv AS DOUBLE))
             / (n_users * CAST(sv AS DOUBLE)), 6) AS gini,
       ROUND(CAST(maxv AS DOUBLE) / CAST(sv AS DOUBLE), 6) AS top_user_share
FROM folded
"""


def q_events_ts_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event time-series feature extraction — the feature-engineering
    pass a training pipeline runs to turn a raw event log into model rows:
    event index, gap to the previous event, previous value (lag), rolling
    3-event value sum, and elapsed time since the user's first event.

    Every feature reads from ONE window spec partitioned by ``user_id``
    and ordered by (ts, event_id) — Spark plans a single hash exchange on
    user_id and one sort, then evaluates all five frames in the same
    WindowExec (visible in the plan: one Window node, five window
    expressions). That exchange-reuse is the whole scale story: feature
    count grows the projection, not the shuffle count, and user_id is
    high-cardinality/hash-uniform so no partition collapses. The rolling
    sum runs in DECIMAL(25,4) with a final round — the module's standard
    order-independent exact-sum discipline — and the (ts, event_id)
    tiebreak makes every lag/row_number deterministic."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w3 = w.rowsBetween(-2, 0)
    uts = F.unix_timestamp("ts")
    return ev.select(
        "user_id",
        "event_id",
        uts.alias("ts_s"),
        F.row_number().over(w).cast("int").alias("event_idx"),
        (uts - F.lag(uts).over(w)).cast("bigint").alias("gap_s"),
        F.lag("value").over(w).alias("prev_value"),
        F.round(F.sum(F.col("value").cast("decimal(25,4)")).over(w3), 2)
        .cast("double")
        .alias("roll3_sum"),
        (uts - F.first(uts).over(w)).cast("bigint").alias("since_first_s"),
    )


_ORACLE_TS_FEATURES = """
SELECT user_id, event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
       CAST(row_number() OVER w AS INT) AS event_idx,
       CAST(floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w AS BIGINT) AS gap_s,
       lag(value) OVER w AS prev_value,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(25,4)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2)
            AS DOUBLE) AS roll3_sum,
       CAST(floor(epoch(ts)) - first_value(floor(epoch(ts))) OVER w AS BIGINT)
         AS since_first_s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


PATH_MIN_SUPPORT = 5  # a 3-step path must occur this often to be reported


def q_events_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-step behavioral paths — sequence mining one level above
    ``events_markov_transitions`` (that entry counts 2-step transitions;
    real funnels need the longer contexts product analytics tools mine).
    Per user, consecutive event-type triples are formed with two ``lead``
    frames over ONE (ts, event_id)-ordered window, then counted globally
    with occurrence and distinct-user support; paths below
    ``PATH_MIN_SUPPORT`` occurrences are pruned (the a-priori bound).

    Scale: the window shuffles once on user_id (high-cardinality); the
    path count shuffles once on the path string — bounded by |types|³
    (125 here), so the aggregate output is constant-size at any event
    volume and partials combine map-side. No self-joins: the sequence is
    linearized by the window, not by joining the log to itself (which
    would shuffle the fact table twice more)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    triples = ev.select(
        "user_id",
        F.concat_ws(
            ">",
            "event_type",
            F.lead("event_type", 1).over(w),
            F.lead("event_type", 2).over(w),
        ).alias("path"),
        F.lead("event_type", 2).over(w).isNotNull().alias("complete"),
    ).filter("complete")
    return (
        triples.groupBy("path")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .filter(F.col("n_occurrences") >= PATH_MIN_SUPPORT)
    )


_ORACLE_PATHS = f"""
WITH triples AS (
  SELECT user_id,
         event_type || '>' || lead(event_type, 1) OVER w
           || '>' || lead(event_type, 2) OVER w AS path,
         lead(event_type, 2) OVER w IS NOT NULL AS complete
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM triples WHERE complete
GROUP BY path
HAVING count(*) >= {PATH_MIN_SUPPORT}
"""


def q_events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands activity streaks — per user, group their active
    DAYS into maximal consecutive runs with the islands identity
    (day − dense-day-index is constant within a run) and report streak
    count, longest and current-era streak stats. This is the engagement
    metric (N-day streaks) every consumer product computes, and the
    canonical SQL pattern the reference's row-at-a-time Maps could only
    express as a driver loop.

    Plan: (user, day) distinct — one keyed shuffle — then BOTH windows
    (the day index and the per-island rollup) partition by user_id and
    reuse that exchange; output is |users| rows. Integer-exact
    everywhere."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    days = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.select(
        "user_id",
        "day",
        F.date_sub("day", F.row_number().over(w)).alias("anchor"),
    )
    per_island = islands.groupBy("user_id", "anchor").agg(
        F.count("*").cast("bigint").alias("len"),
        F.max("day").alias("last_day"),
    )
    return per_island.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count("*").cast("bigint").alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest_streak"),
        # last_day is unique per user (islands are disjoint day ranges),
        # so max_by needs no tiebreak
        F.max_by("len", "last_day").cast("bigint").alias("latest_streak"),
    )


_ORACLE_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
islands AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INT) AS anchor
  FROM days
),
per_island AS (
  SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS len,
         max(day) AS last_day
  FROM islands GROUP BY 1, 2
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(max_by(len, last_day) AS BIGINT) AS latest_streak
FROM per_island
GROUP BY user_id
"""


DAU_WAU_WINDOW = 7  # trailing days in the WAU window


def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU per calendar day — the headline
    engagement series. Sliding-window DISTINCT does not decompose like a
    sum, so the scalable plan is the offset-explode identity: a user
    active on day d contributes to the WAU of days d..d+6, so exploding
    each distinct (user, day) pair across {DAU_WAU_WINDOW} offsets and
    re-distincting counts exactly the trailing-window actives — bounded
    {DAU_WAU_WINDOW}× fan-out of the (user, day) DISTINCT pairs
    (|users|×|days| metadata scale), never a per-day rescan of raw
    events and no quadratic self-join. Days are emitted only within the
    observed range, and stickiness = DAU/WAU in exact ppm.

    Plan: one (user, day) distinct shuffle; the DAU branch and the
    offset-exploded WAU branch both aggregate map-side; final keyed join
    on day. At 100 TB this is the standard pre-aggregated engagement
    pipeline (the (user, day) table IS the reusable intermediate)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    pairs = ev.distinct()
    dau = pairs.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    maxday = pairs.agg(F.max("day").alias("maxd"))
    wau = (
        pairs.select(
            "user_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {DAU_WAU_WINDOW - 1}),"
                    " o -> date_add(day, o))"
                )
            ).alias("day"),
        )
        .distinct()
        .groupBy("day")
        .agg(F.count("*").cast("bigint").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .crossJoin(F.broadcast(maxday))
        .filter(F.col("day") <= F.col("maxd"))
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            F.expr("CAST(dau * 1000000 div wau AS BIGINT)").alias(
                "stickiness_ppm"
            ),
        )
    )


_ORACLE_DAU_WAU = f"""
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
dau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY day
),
wau AS (
  SELECT day, CAST(count(*) AS BIGINT) AS wau
  FROM (SELECT DISTINCT user_id, day + CAST(o.o AS INT) AS day
        FROM pairs, (SELECT unnest(range(0, {DAU_WAU_WINDOW})) AS o) o)
  GROUP BY day
)
SELECT CAST(day AS VARCHAR) AS day, dau, wau,
       CAST(dau * 1000000 // wau AS BIGINT) AS stickiness_ppm
FROM dau JOIN wau USING (day)
WHERE day <= (SELECT max(day) FROM pairs)
"""


AB_SALT = "ab:"  # hash salt for deterministic arm assignment
AB_CONVERT_VALUE = 100.0  # an event with value >= this counts as a conversion


def _arm_spark(uid_expr: str) -> str:
    """Deterministic A/B arm from the first md5 nibble's parity — the
    hash-based unit assignment every experimentation platform uses
    (user_id % 2 would correlate with id-assignment order; a salted hash
    does not). Pure strpos arithmetic so both engines agree bit-for-bit."""
    h = f"md5(concat('{AB_SALT}', CAST({uid_expr} AS STRING)))"
    return f"(position(substr({h}, 1, 1) IN '0123456789abcdef') - 1) % 2"


def _arm_sql(uid_expr: str) -> str:
    h = f"md5('{AB_SALT}' || CAST({uid_expr} AS VARCHAR))"
    return f"(strpos('0123456789abcdef', substr({h}, 1, 1)) - 1) % 2"


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout — the analysis layer every event pipeline
    feeds: users are hashed into control/treatment arms (salted md5
    parity, the industry-standard deterministic unit assignment), a user
    "converts" on an event_type if they have >= 1 event of that type with
    ``value >= AB_CONVERT_VALUE``, and per event_type the readout reports
    per-arm exposure/conversion counts, rates in exact ppm, and the
    two-proportion pooled z-score (the significance statistic).

    Determinism: everything through the rates is exact integer
    arithmetic; the z-score is computed from those integers with one
    fixed expression tree of correctly-rounded IEEE ops (div/mul/sqrt)
    and rounded to 6dp — the same discipline as ``sim_centroid_drift``.
    Degenerate pooled rates (0 or 1, where the z denominator is 0) emit
    z = 0 via an explicit guard on both engines.

    Scale: one shuffle on (event_type, user_id) for the conversion
    distinct, one on user_id for exposure; arm totals are a 2-row
    broadcast. Output is |event_types| rows — constant in event volume,
    partials combine map-side. No windows, no self-joins."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "value")
    users = (
        ev.select("user_id")
        .distinct()
        .select(F.expr(_arm_spark("user_id")).alias("arm"))
    )
    totals = users.agg(
        F.sum(F.expr("CAST(arm = 0 AS INT)")).cast("bigint").alias("n_c"),
        F.sum(F.expr("CAST(arm = 1 AS INT)")).cast("bigint").alias("n_t"),
    )
    conv = (
        ev.filter(F.col("value") >= AB_CONVERT_VALUE)
        .select("event_type", "user_id")
        .distinct()
        .select("event_type", F.expr(_arm_spark("user_id")).alias("arm"))
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("CAST(arm = 0 AS INT)")).cast("bigint").alias("conv_c"),
            F.sum(F.expr("CAST(arm = 1 AS INT)")).cast("bigint").alias("conv_t"),
        )
    )
    return conv.crossJoin(F.broadcast(totals)).select(
        "event_type",
        "n_c",
        "conv_c",
        "n_t",
        "conv_t",
        F.expr("CAST(conv_c * 1000000 div n_c AS BIGINT)").alias("rate_c_ppm"),
        F.expr("CAST(conv_t * 1000000 div n_t AS BIGINT)").alias("rate_t_ppm"),
        F.expr(
            "CASE WHEN conv_c + conv_t = 0 OR conv_c + conv_t = n_c + n_t"
            " THEN CAST(0 AS DOUBLE)"
            " ELSE round((CAST(conv_t AS DOUBLE) / n_t - CAST(conv_c AS DOUBLE) / n_c)"
            "      / sqrt((CAST(conv_c + conv_t AS DOUBLE) / (n_c + n_t))"
            "             * (1 - CAST(conv_c + conv_t AS DOUBLE) / (n_c + n_t))"
            "             * (1.0 / n_c + 1.0 / n_t)), 6) END"
        ).alias("z_score"),
    )


_ORACLE_AB_TEST = f"""
WITH users AS (
  SELECT {_arm_sql("user_id")} AS arm
  FROM (SELECT DISTINCT user_id FROM events)
),
totals AS (
  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t
  FROM users
),
conv AS (
  SELECT event_type,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS conv_c,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS conv_t
  FROM (SELECT event_type, {_arm_sql("user_id")} AS arm
        FROM (SELECT DISTINCT event_type, user_id FROM events
              WHERE value >= {AB_CONVERT_VALUE}))
  GROUP BY event_type
)
SELECT event_type, n_c, conv_c, n_t, conv_t,
       CAST(conv_c * 1000000 // n_c AS BIGINT) AS rate_c_ppm,
       CAST(conv_t * 1000000 // n_t AS BIGINT) AS rate_t_ppm,
       CASE WHEN conv_c + conv_t = 0 OR conv_c + conv_t = n_c + n_t
            THEN CAST(0 AS DOUBLE)
            ELSE round((CAST(conv_t AS DOUBLE) / n_t - CAST(conv_c AS DOUBLE) / n_c)
                 / sqrt((CAST(conv_c + conv_t AS DOUBLE) / (n_c + n_t))
                        * (1 - CAST(conv_c + conv_t AS DOUBLE) / (n_c + n_t))
                        * (1.0 / n_c + 1.0 / n_t)), 6) END AS z_score
FROM conv CROSS JOIN totals
"""


def q_events_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily-volume trend via closed-form OLS — the "is this
    metric growing?" primitive behind every monitoring dashboard. The
    daily event counts per type are regressed on the day index (days
    since the global first day) and the slope/intercept come from the
    normal equations evaluated on EXACT BIGINT sums:

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)

    so each output is ONE correctly-rounded double division of two exact
    integers, rounded to 6dp — zero accumulation-order sensitivity.
    A single-day series (denominator 0) emits 0/0 slope/intercept via an
    explicit guard.

    Scale: one (event_type, day)-keyed aggregation with map-side combine
    (output bounded by |types|×|days|), then a |types|-row rollup; the
    global min day is a 1-row broadcast. The regression itself reads the
    pre-aggregated daily series — never the raw events twice."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day")
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count("*").cast("bigint").alias("y")
    )
    day0 = daily.agg(F.min("day").alias("day0"))
    pts = daily.crossJoin(F.broadcast(day0)).select(
        "event_type", F.datediff("day", "day0").cast("bigint").alias("x"), "y"
    )
    sums = pts.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sx2"),
    )
    return sums.select(
        "event_type",
        "n_days",
        F.col("sy").alias("total_events"),
        F.expr(
            "CASE WHEN n_days * sx2 - sx * sx = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE round(CAST(n_days * sxy - sx * sy AS DOUBLE)"
            "      / (n_days * sx2 - sx * sx), 6) END"
        ).alias("slope"),
        F.expr(
            "CASE WHEN n_days * sx2 - sx * sx = 0 THEN CAST(0 AS DOUBLE)"
            " ELSE round(CAST(sy * sx2 - sx * sxy AS DOUBLE)"
            "      / (n_days * sx2 - sx * sx), 6) END"
        ).alias("intercept"),
    )


_ORACLE_LINREG = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pts AS (
  SELECT event_type,
         CAST(datediff('day', (SELECT min(day) FROM daily), day) AS BIGINT) AS x,
         y
  FROM daily
),
sums AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sx2
  FROM pts GROUP BY 1
)
SELECT event_type, n_days, sy AS total_events,
       CASE WHEN n_days * sx2 - sx * sx = 0 THEN CAST(0 AS DOUBLE)
            ELSE round(CAST(n_days * sxy - sx * sy AS DOUBLE)
                 / (n_days * sx2 - sx * sx), 6) END AS slope,
       CASE WHEN n_days * sx2 - sx * sx = 0 THEN CAST(0 AS DOUBLE)
            ELSE round(CAST(sy * sx2 - sx * sxy AS DOUBLE)
                 / (n_days * sx2 - sx * sx), 6) END AS intercept
FROM sums
"""


INTERVAL_TTL_SECONDS = 300  # each event opens a 5-minute activity interval


def q_events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval merge (the second classic gaps-and-islands
    form after `events_streaks`'s consecutive-days variant): every event
    opens a [ts, ts+300s) activity interval, and per user the
    overlapping intervals are coalesced into maximal merged spans — the
    watch-time / session-coverage dedup every media product computes
    (overlapping plays must not double-count covered seconds).

    Plan: ONE user_id exchange shared by both windows — a row starts a new
    span iff its start exceeds the running max of all earlier ends (ROWS
    UNBOUNDED..1 PRECEDING), and the span id is the running sum of those
    start flags. Tie-safety: rows with equal start are island-stable under
    either peer order (the second row's preceding max already contains the
    first row's end, so its flag is always 0), so the ROWS frame is
    deterministic here despite ts ties. All arithmetic is BIGINT epoch
    seconds. Output is |users| rows; at 100 TB the same plan holds —
    per-user data is window-local and never leaves its partition."""
    iv = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("s"),
    ).withColumn("e", F.col("s") + INTERVAL_TTL_SECONDS)
    w = Window.partitionBy("user_id").orderBy("s")
    flagged = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("s")
            > F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            1,
        )
        .otherwise(0)
        .alias("new_span"),
    )
    spans = flagged.withColumn(
        "span_id",
        F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_span = spans.groupBy("user_id", "span_id").agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    return per_span.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum(F.col("span_end") - F.col("span_start"))
        .cast("bigint")
        .alias("covered_seconds"),
        F.max(F.col("span_end") - F.col("span_start"))
        .cast("bigint")
        .alias("longest_span_seconds"),
    )


_ORACLE_INTERVAL_MERGE = f"""
WITH iv AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS s,
         CAST(floor(epoch(ts)) AS BIGINT) + {INTERVAL_TTL_SECONDS} AS e
  FROM events
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN s > max(e) OVER (PARTITION BY user_id ORDER BY s
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_span
  FROM iv
),
spans AS (
  SELECT user_id, s, e,
         sum(new_span) OVER (PARTITION BY user_id ORDER BY s
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS span_id
  FROM flagged
),
per_span AS (
  SELECT user_id, span_id, min(s) AS span_start, max(e) AS span_end,
         CAST(count(*) AS BIGINT) AS n_events
  FROM spans GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(sum(span_end - span_start) AS BIGINT) AS covered_seconds,
       CAST(max(span_end - span_start) AS BIGINT) AS longest_span_seconds
FROM per_span
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Survival analysis (Kaplan–Meier risk sets + the Nelson–Aalen cumulative
# hazard, Aalen 1978) over user lifetimes — the churn curve a retention
# team reads. Kept integer-exact: the curve is emitted as the per-week
# risk-set table (n_at_risk, n_churned) plus per-week and cumulative
# hazard in floor-ppm, so no cross-engine float product ever happens
# (a multiplicative survival estimate would need float products; the
# cumulative HAZARD is a plain integer sum and carries the same
# information).
# Quiet for > 12 HOURS at corpus end → churned. Hour-based because the
# generator keeps every user active to within ≤ 2 days of the corpus end:
# the original 7-DAY censor churned NOBODY at any SF, leaving the whole
# survival computation identically zero in both engines — caught by the
# round-12 cross-SF scalar extension of tools/vacuity_check.py. The
# measured last-seen-gap distribution is rich at hour granularity
# (sf0.001: 5/15 users beyond 12 h; sf0.01: 39/150; sf0.1: ~600/1500), so
# both the churned and censored states occur at every SF — pinned by
# tests/test_round9b_ops.py.
SURVIVAL_CENSOR_HOURS = 12


def q_events_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tenure-week survival table over user lifetimes: users quiet for
    more than {SURVIVAL_CENSOR_HOURS} hours before the corpus end count as
    churned at their last-seen week, the rest are right-censored. Emits
    the Kaplan–Meier risk-set counts and the Nelson–Aalen cumulative
    hazard (both hazards in exact floor-ppm).

    Scale shape: ONE groupBy(user_id) collapses the fact to per-user
    (first_day, last_day) — the only corpus-size shuffle; the global
    censor horizon is a broadcast 1-row scalar. Everything after runs on
    the per-tenure-week aggregate, whose row count is calendar-bounded
    (≤ weeks in the observation span, ~5 at test SF, ≤ a few thousand
    ever), so the reverse-cumulative risk set and the cumulative hazard
    are non-equi self-joins of a broadcast metadata-scale table — no
    un-partitioned window over data-sized input."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "ts"
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
        F.max("ts").alias("last_ts"),
    )
    horizon = F.broadcast(per_user.agg(F.max("last_ts").alias("max_ts")))
    lives = per_user.crossJoin(horizon).select(
        F.expr("CAST(datediff(last_day, first_day) DIV 7 AS BIGINT)").alias(
            "tenure_week"
        ),
        (
            F.col("last_ts")
            < F.col("max_ts") - F.expr(f"INTERVAL {SURVIVAL_CENSOR_HOURS} HOURS")
        )
        .cast("int")
        .alias("churned"),
    )
    g = pin(
        lives.groupBy("tenure_week").agg(
            F.count("*").alias("n_users"), F.sum("churned").alias("n_churned")
        )
    )
    risk = (
        g.select(F.col("tenure_week").alias("w"))
        .join(
            F.broadcast(
                g.select(F.col("tenure_week").alias("w2"), "n_users")
            ),
            F.col("w2") >= F.col("w"),
        )
        .groupBy("w")
        .agg(F.sum("n_users").cast("bigint").alias("n_at_risk"))
    )
    haz = pin(
        g.join(risk, g["tenure_week"] == risk["w"]).select(
            "tenure_week",
            "n_at_risk",
            F.col("n_churned").cast("bigint").alias("n_churned"),
            F.expr("CAST(n_churned * 1000000 DIV n_at_risk AS BIGINT)").alias(
                "hazard_ppm"
            ),
        )
    )
    cum = (
        haz.select(F.col("tenure_week").alias("w"))
        .join(
            F.broadcast(
                haz.select(
                    F.col("tenure_week").alias("w2"),
                    F.col("hazard_ppm").alias("h2"),
                )
            ),
            F.col("w2") <= F.col("w"),
        )
        .groupBy("w")
        .agg(F.sum("h2").cast("bigint").alias("cum_hazard_ppm"))
    )
    return haz.join(cum, haz["tenure_week"] == cum["w"]).select(
        "tenure_week", "n_at_risk", "n_churned", "hazard_ppm", "cum_hazard_ppm"
    )


_ORACLE_SURVIVAL = f"""
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, ts FROM events),
pu AS (SELECT user_id, min(day) AS fd, max(day) AS ld, max(ts) AS lt
       FROM ev GROUP BY 1),
mx AS (SELECT max(lt) AS max_ts FROM pu),
lives AS (
  SELECT CAST((ld - fd) // 7 AS BIGINT) AS tenure_week,
         CASE WHEN lt < max_ts - INTERVAL {SURVIVAL_CENSOR_HOURS} HOUR
              THEN 1 ELSE 0 END AS churned
  FROM pu CROSS JOIN mx
),
g AS (
  SELECT tenure_week, count(*) AS n_users, sum(churned) AS n_churned
  FROM lives GROUP BY 1
),
w AS (
  SELECT tenure_week, n_churned,
         sum(n_users) OVER (ORDER BY tenure_week DESC) AS n_at_risk
  FROM g
),
h AS (
  SELECT tenure_week, n_at_risk, n_churned,
         n_churned * 1000000 // n_at_risk AS hazard_ppm
  FROM w
)
SELECT tenure_week,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(n_churned AS BIGINT) AS n_churned,
       CAST(hazard_ppm AS BIGINT) AS hazard_ppm,
       CAST(sum(hazard_ppm) OVER (ORDER BY tenure_week) AS BIGINT)
         AS cum_hazard_ppm
FROM h
"""


# ---------------------------------------------------------------------------
# Bot / abuse detection heuristics: per-user activity-rate screening — the
# integrity gate every event pipeline runs before analytics (and before
# events are admitted as training signal). All thresholds are integer
# cross-multiplied, so the flag is engine-exact.
BOT_BURST_MIN = 5  # ≥ 5 events inside one minute → burst flag
BOT_RATE_PPM = 1_500_000  # > 1.5 events per active minute on average


def q_events_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user bot screening: total events, distinct active minutes, the
    hottest single minute (max burst), average events per active minute
    in exact ppm, and the deterministic bot flag (burst ≥
    {BOT_BURST_MIN} OR rate > {BOT_RATE_PPM} ppm).

    Scale shape: ONE hash exchange total — the input is pre-partitioned
    on user_id (`spread_by`), so the (user, minute) aggregate AND the
    per-user rollup both reuse that partitioning (HashPartitioning(user)
    satisfies the clustered distribution of (user, minute)); both
    aggregates partial map-side. Output is one row per user — at 100 TB
    this is the standard sessionless rate-limit audit, and the flag
    thresholds live in named constants the way an abuse team would tune
    them."""
    ev = spread_by(
        load_table(spark, sf_dir, "events"), "user_id"
    ).select("user_id", F.date_trunc("minute", "ts").alias("minute"))
    per_min = ev.groupBy("user_id", "minute").agg(F.count("*").alias("n"))
    per_user = per_min.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_active_minutes"),
        F.max("n").cast("bigint").alias("max_burst"),
    )
    rate = F.expr("CAST(n_events * 1000000 DIV n_active_minutes AS BIGINT)")
    return per_user.select(
        "user_id",
        "n_events",
        "n_active_minutes",
        "max_burst",
        rate.alias("rate_ppm"),
        (
            (F.col("max_burst") >= BOT_BURST_MIN) | (rate > BOT_RATE_PPM)
        )
        .cast("int")
        .alias("bot_flag"),
    )


_ORACLE_BOT = f"""
WITH per_min AS (
  SELECT user_id, date_trunc('minute', ts) AS minute, count(*) AS n
  FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id,
         sum(n) AS n_events,
         count(*) AS n_active_minutes,
         max(n) AS max_burst
  FROM per_min GROUP BY 1
)
SELECT user_id,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_active_minutes AS BIGINT) AS n_active_minutes,
       CAST(max_burst AS BIGINT) AS max_burst,
       CAST(n_events * 1000000 // n_active_minutes AS BIGINT) AS rate_ppm,
       CASE WHEN max_burst >= {BOT_BURST_MIN}
              OR n_events * 1000000 // n_active_minutes > {BOT_RATE_PPM}
            THEN 1 ELSE 0 END AS bot_flag
FROM per_user
"""


def q_events_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative user reach per calendar day (new users, running total,
    penetration of the eventual audience in exact ppm) — the
    marketing-facing companion to DAU/WAU built on the first-occurrence
    identity: a user contributes to every day ≥ their FIRST day, so one
    per-user min(day) aggregate answers every day with no per-day rescan
    (the same identity `text_heaps_vocab_growth` uses for vocabulary).

    Scale shape: one user-keyed shuffle collapses the fact to first-seen
    days; everything downstream (per-day new-user counts, the cumulative
    non-equi self-join, the day grid) is calendar-bounded metadata. The
    day grid comes from the observed event days so gaps report their
    carried cumulative total."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    new_users = pin(
        first.groupBy("day").agg(F.count("*").alias("new_users"))
    )
    days = ev.select("day").distinct()
    total = F.broadcast(
        first.agg(F.count("*").cast("bigint").alias("n_total"))
    )
    cum = (
        days.join(
            F.broadcast(
                new_users.select(F.col("day").alias("d2"), "new_users")
            ),
            F.col("d2") <= F.col("day"),
        )
        .groupBy("day")
        .agg(F.sum("new_users").cast("bigint").alias("cum_users"))
    )
    return (
        days.join(new_users, "day", "left")
        .join(cum, "day")
        .crossJoin(total)
        .select(
            F.col("day").cast("string").alias("day"),
            F.coalesce("new_users", F.lit(0)).cast("bigint").alias("new_users"),
            "cum_users",
            F.expr("CAST(cum_users * 1000000 DIV n_total AS BIGINT)").alias(
                "penetration_ppm"
            ),
        )
    )


_ORACLE_REACH = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
first AS (SELECT user_id, min(day) AS day FROM ev GROUP BY 1),
new_users AS (SELECT day, count(*) AS new_users FROM first GROUP BY 1),
days AS (SELECT DISTINCT day FROM ev),
total AS (SELECT count(*) AS n_total FROM first),
cum AS (
  SELECT d.day, sum(n.new_users) AS cum_users
  FROM days d JOIN new_users n ON n.day <= d.day
  GROUP BY 1
)
SELECT CAST(d.day AS VARCHAR) AS day,
       CAST(coalesce(nu.new_users, 0) AS BIGINT) AS new_users,
       CAST(c.cum_users AS BIGINT) AS cum_users,
       CAST(c.cum_users * 1000000 // t.n_total AS BIGINT) AS penetration_ppm
FROM days d
LEFT JOIN new_users nu ON d.day = nu.day
JOIN cum c ON d.day = c.day
CROSS JOIN total t
"""


def q_events_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type: weekly event/user counts with
    the WoW delta in exact signed ppm (sign-safe integer division — Spark
    DIV truncates toward zero while DuckDB // floors, so negative deltas
    go through sign·(|Δ|·1e6 div prev), the repo's standard construction).

    Scale shape: one (type, week) partial aggregate collapses the fact to
    calendar-bounded rows; the lag window partitions by event_type over
    that bounded table — never an un-partitioned window over data. First
    week per type reports NULL growth (nothing to compare against)."""
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").cast("date").alias("week")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("n_events").over(w)
    delta = F.col("n_events") - prev
    growth = F.when(prev.isNull(), F.lit(None).cast("bigint")).otherwise(
        F.when(delta >= 0, F.expr("1").cast("bigint"))
        .otherwise(F.lit(-1).cast("bigint"))
        * F.expr(
            "CAST(abs(n_events - prev_n) * 1000000 DIV prev_n AS BIGINT)"
        )
    )
    return (
        weekly.withColumn("prev_n", prev)
        .select(
            "event_type",
            F.col("week").cast("string").alias("week"),
            "n_events",
            "n_users",
            growth.cast("bigint").alias("wow_growth_ppm"),
        )
    )


_ORACLE_WOW = """
WITH weekly AS (
  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
         count(*) AS n_events, count(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT *, lag(n_events) OVER (PARTITION BY event_type ORDER BY week)
         AS prev_n
  FROM weekly
)
SELECT event_type,
       CAST(week AS VARCHAR) AS week,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_users AS BIGINT) AS n_users,
       CASE WHEN prev_n IS NULL THEN NULL
            ELSE CAST((CASE WHEN n_events >= prev_n THEN 1 ELSE -1 END)
                      * (abs(n_events - prev_n) * 1000000 // prev_n)
                      AS BIGINT) END AS wow_growth_ppm
FROM lagged
"""


# ---------------------------------------------------------------------------
# Markov stationary distribution by unrolled power iteration over the
# integer-ppm transition matrix — the "where does the funnel settle" readout
# on top of `events_markov_transitions`. All probability mass is integer
# ppm: p_ij = ⌊1e6·c_ij/c_i⌋ and each step computes v'_j = ⌊Σ_i v_i·p_ij /
# 1e6⌋ with the floor applied ONCE per destination (after the sum), so both
# engines walk the identical integer trajectory.
MARKOV_POWER_STEPS = 2


def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{MARKOV_POWER_STEPS}-step power iteration from the uniform
    distribution over the per-user transition matrix: per event type, the
    ppm mass after one and after two steps plus the signed step delta —
    the convergence-direction readout a funnel team reads (a production
    run loops to a tolerance with a convergence scalar, exactly like the
    CC/PageRank entries).

    Scale shape: the corpus-sized work is the ONE user-keyed lag window
    that builds pair counts (identical to `events_markov_transitions`);
    the matrix is ≤ |types|² rows, so every power step is a join +
    aggregate over broadcast metadata. Integer trajectories make the
    result partitioning-independent.

    Completeness (ADVICE r9): the state universe is from_type ∪ to_type,
    and the final readout LEFT-joins each power step with coalesce(0) —
    a sink-only state (no outgoing transitions) or source-only state (no
    incoming) appears with explicit zero mass instead of vanishing from
    an inner-join chain."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = pin(
        seq.groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    row_tot = trans.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    p = pin(
        trans.join(row_tot, "from_type").select(
            "from_type",
            "to_type",
            F.expr("CAST(n * 1000000 DIV row_n AS BIGINT)").alias("p_ppm"),
        )
    )
    types = pin(
        p.select(F.col("from_type").alias("t"))
        .unionAll(p.select(F.col("to_type").alias("t")))
        .distinct()
    )
    ntypes = F.broadcast(types.agg(F.count("*").alias("k")))
    v = pin(
        types.crossJoin(ntypes).select(
            "t", F.expr("CAST(1000000 DIV k AS BIGINT)").alias("mass")
        )
    )
    vs = [v]
    for _ in range(MARKOV_POWER_STEPS):
        nxt = pin(
            vs[-1]
            .join(p, vs[-1]["t"] == p["from_type"])
            .groupBy(F.col("to_type").alias("t"))
            .agg(
                F.expr("CAST(sum(mass * p_ppm) DIV 1000000 AS BIGINT)").alias(
                    "mass"
                )
            )
        )
        vs.append(nxt)
    out = (
        vs[0]
        .select("t", F.col("mass").alias("mass_v0"))
        .join(vs[1].select("t", F.col("mass").alias("mass_v1")), "t", "left")
        .join(vs[2].select("t", F.col("mass").alias("mass_v2")), "t", "left")
    )
    return out.select(
        F.col("t").alias("event_type"),
        "mass_v0",
        F.coalesce("mass_v1", F.lit(0)).cast("bigint").alias("mass_v1"),
        F.coalesce("mass_v2", F.lit(0)).cast("bigint").alias("mass_v2"),
        (
            F.coalesce("mass_v2", F.lit(0)) - F.coalesce("mass_v1", F.lit(0))
        ).cast("bigint").alias("step_delta"),
    )


_ORACLE_MARKOV_STATIONARY = """
WITH seq AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
p AS (
  SELECT from_type, to_type,
         CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_type) AS BIGINT)
           AS p_ppm
  FROM trans
),
types AS (
  SELECT DISTINCT t FROM (
    SELECT from_type AS t FROM p UNION ALL SELECT to_type AS t FROM p
  )
),
k AS (SELECT count(*) AS k FROM types),
v0 AS (SELECT t, CAST(1000000 // k AS BIGINT) AS mass FROM types CROSS JOIN k),
v1 AS (
  SELECT p.to_type AS t, CAST(sum(v0.mass * p.p_ppm) // 1000000 AS BIGINT)
           AS mass
  FROM v0 JOIN p ON v0.t = p.from_type GROUP BY 1
),
v2 AS (
  SELECT p.to_type AS t, CAST(sum(v1.mass * p.p_ppm) // 1000000 AS BIGINT)
           AS mass
  FROM v1 JOIN p ON v1.t = p.from_type GROUP BY 1
)
SELECT v0.t AS event_type,
       v0.mass AS mass_v0,
       CAST(coalesce(v1.mass, 0) AS BIGINT) AS mass_v1,
       CAST(coalesce(v2.mass, 0) AS BIGINT) AS mass_v2,
       CAST(coalesce(v2.mass, 0) - coalesce(v1.mass, 0) AS BIGINT)
         AS step_delta
FROM v0 LEFT JOIN v1 ON v0.t = v1.t LEFT JOIN v2 ON v0.t = v2.t
"""


# ---------------------------------------------------------------------------
# SRE error-budget accounting (the SLO burn table from the Google SRE
# workbook): with an SLO of at most SLO_PPM errors per million events, the
# running budget is cum_events·SLO/1e6 and the burn readout compares the
# running error count against it — all integer arithmetic.
# Calibrated to the synthetic stream (de-vacuated round 12): the generated
# error rate is ~20%, so the original 1% SLO froze `breached` at 1 from day
# one at every SF — the flag certified nothing. 202,000 ppm sits strictly
# inside the cumulative error-rate band at all three SFs (measured:
# sf0.001 [201000, 333333], sf0.01 [183499, 203831], sf0.1 [196329,
# 206041] ppm), so both flag states occur everywhere; the entry's point is
# the burn arithmetic, not the production SLO constant.
SLO_PPM = 202_000


def q_events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily error-budget burn table: per day, events, errors, the daily
    error rate in exact ppm, the running error count vs the running
    budget (SLO_PPM of cumulative events), the budget-consumed ratio in
    ppm, and the breach flag once cumulative errors exceed the budget.

    Scale shape: one (day) partial aggregate collapses the fact to
    calendar-bounded rows; both running sums are broadcast non-equi
    self-joins of that bounded table (the same shape as the survival
    risk set) — no un-partitioned window over data. Everything after the
    first aggregate is metadata."""
    ev = load_table(spark, sf_dir, "events")
    daily = pin(
        ev.groupBy(F.to_date("ts").alias("day")).agg(
            F.count("*").alias("n_events"),
            F.sum((F.col("event_type") == "error").cast("int")).alias(
                "n_errors"
            ),
        )
    )
    cum = (
        daily.select(F.col("day").alias("d"))
        .join(
            F.broadcast(
                daily.select(
                    F.col("day").alias("d2"), "n_events", "n_errors"
                )
            ),
            F.col("d2") <= F.col("d"),
        )
        .groupBy("d")
        .agg(
            F.sum("n_events").cast("bigint").alias("cum_events"),
            F.sum("n_errors").cast("bigint").alias("cum_errors"),
        )
    )
    return (
        daily.join(cum, daily["day"] == cum["d"])
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("n_errors").cast("bigint").alias("n_errors"),
            F.expr("CAST(n_errors * 1000000 DIV n_events AS BIGINT)").alias(
                "err_ppm"
            ),
            "cum_errors",
            F.expr(f"CAST(cum_events * {SLO_PPM} DIV 1000000 AS BIGINT)").alias(
                "cum_budget"
            ),
            F.expr(
                f"CASE WHEN cum_events * {SLO_PPM} DIV 1000000 = 0"
                " THEN CAST(1000000 AS BIGINT)"
                " ELSE CAST(cum_errors * 1000000"
                f" DIV (cum_events * {SLO_PPM} DIV 1000000) AS BIGINT) END"
            ).alias("budget_used_ppm"),
            F.expr(
                f"CAST(cum_errors > cum_events * {SLO_PPM} DIV 1000000 AS INT)"
            ).alias("breached"),
        )
    )


_ORACLE_ERROR_BUDGET = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_errors
  FROM events GROUP BY 1
),
cum AS (
  SELECT a.day AS d, sum(b.n_events) AS cum_events,
         sum(b.n_errors) AS cum_errors
  FROM daily a JOIN daily b ON b.day <= a.day
  GROUP BY 1
)
SELECT CAST(daily.day AS VARCHAR) AS day,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_errors AS BIGINT) AS n_errors,
       CAST(n_errors * 1000000 // n_events AS BIGINT) AS err_ppm,
       CAST(cum_errors AS BIGINT) AS cum_errors,
       CAST(cum_events * {SLO_PPM} // 1000000 AS BIGINT) AS cum_budget,
       CASE WHEN cum_events * {SLO_PPM} // 1000000 = 0
            THEN CAST(1000000 AS BIGINT)
            ELSE CAST(cum_errors * 1000000
                      // (cum_events * {SLO_PPM} // 1000000) AS BIGINT) END
         AS budget_used_ppm,
       CAST(cum_errors > cum_events * {SLO_PPM} // 1000000 AS INT) AS breached
FROM daily JOIN cum ON daily.day = cum.d
"""


QUERIES = {
    "events_error_budget_burn": q_events_error_budget_burn,
    "events_markov_stationary": q_events_markov_stationary,
    "events_wow_growth": q_events_wow_growth,
    "events_bot_score": q_events_bot_score,
    "events_cumulative_reach": q_events_cumulative_reach,
    "events_survival_hazard": q_events_survival_hazard,
    "events_interval_merge": q_events_interval_merge,
    "events_streaks": q_events_streaks,
    "events_dau_wau": q_events_dau_wau,
    "events_ab_test": q_events_ab_test,
    "events_linreg_trend": q_events_linreg_trend,
    "events_path_mining": q_events_path_mining,
    "events_ts_features": q_events_ts_features,
    "events_tumbling_window": q_events_tumbling,
    "events_sliding_window": q_events_sliding,
    "events_sessionize": q_events_sessionize,
    "events_json_extract": q_events_json_extract,
    "events_type_stats": q_events_type_stats,
    "events_markov_transitions": q_events_markov_transitions,
    "events_rfm_segmentation": q_events_rfm_segmentation,
    "events_gini_concentration": q_events_gini_concentration,
}

ORACLE = {
    "events_error_budget_burn": _ORACLE_ERROR_BUDGET,
    "events_markov_stationary": _ORACLE_MARKOV_STATIONARY,
    "events_wow_growth": _ORACLE_WOW,
    "events_bot_score": _ORACLE_BOT,
    "events_cumulative_reach": _ORACLE_REACH,
    "events_survival_hazard": _ORACLE_SURVIVAL,
    "events_interval_merge": _ORACLE_INTERVAL_MERGE,
    "events_streaks": _ORACLE_STREAKS,
    "events_dau_wau": _ORACLE_DAU_WAU,
    "events_ab_test": _ORACLE_AB_TEST,
    "events_linreg_trend": _ORACLE_LINREG,
    "events_path_mining": _ORACLE_PATHS,
    "events_ts_features": _ORACLE_TS_FEATURES,
    "events_tumbling_window": _ORACLE_TUMBLING,
    "events_sliding_window": _ORACLE_SLIDING,
    "events_sessionize": _ORACLE_SESSIONIZE,
    "events_json_extract": _ORACLE_JSON,
    "events_type_stats": _ORACLE_TYPE_STATS,
    "events_markov_transitions": _ORACLE_MARKOV,
    "events_rfm_segmentation": _ORACLE_RFM,
    "events_gini_concentration": _ORACLE_GINI,
}
