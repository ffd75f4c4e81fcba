"""Training-data preparation composites — the end-to-end curation layer a
100 TB LLM-data pipeline runs on top of the individual text/dedup/similarity
operators (BASELINE.json north star; reference scope: the ingest→validate→
chunk→drain pipeline of /root/reference/src/app.js:106-186, which this layer
generalizes from id-batches to document corpora).

Operators here COMPOSE the certified primitives from ``text``/``dedup`` into
the shapes a data-curation user actually runs, plus the analytics/
maintenance layer around them:

- curation: ``text_bigram_coherence`` (CCNet-style LM quality signal),
  ``train_test_split`` (deterministic md5-gated split),
  ``text_repetition_score`` (Gopher intra-doc repetition rules).
  The prep_* data-SELECTION family (training mix, decontamination,
  temperature mixing, DSIR weighting) lives in ``operators.selection``
  since round 7 — same registry names, new module.
- iterative algorithms, cross-engine exact via integer/fixed-scale state:
  ``sim_kmeans_train`` (unrolled Lloyd rounds), ``graph_pagerank``
  (integer-scaled ranks), ``sql_recursive_backoff`` (WITH RECURSIVE).
- time-series & analytics: ``events_gap_fill`` (dense grid + LOCF),
  ``events_funnel``, ``events_anomaly`` (integer-moment z-scores),
  ``cohort_retention``, ``orders_scd2`` (validity intervals),
  ``rollup_incremental`` (materialized+delta merge), ``group_median``.
- semi-structured & quality: ``events_variant_shred`` (Spark 4 VARIANT),
  ``dq_constraint_report``, ``fuzzy_name_match`` (min-Levenshtein).

Scale notes per operator are inline. All are exact vs the DuckDB oracle at
sf0.01 AND sf0.1 (round-5 additions verified at sf0.001/0.01/0.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    DIMS,
    cosine,
    exact_avg_halfup,
    exact_sum,
    sql_dot,
    sql_exact_avg_halfup,
    sql_exact_sum,
    sql_norm,
    tokens,
    vec_norm,
)
from ..functions import sql_word_ngrams as _sql_word_ngrams
from ..functions import word_ngrams as _word_ngrams
from ..tables import load_table, register_views
from . import pin, spread
from .text import _SQL_TOKS

def q_text_bigram_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram LM coherence per document (the CCNet-style
    quality signal): build corpus bigram counts c2(w1,w2) and prefix counts
    c1(w1) over all documents, join them back to each document's bigram
    occurrences, and score each doc as SUM(c2)/SUM(c1) — the count-weighted
    mean transition probability. Integer sums keep the score exact across
    engines (one double division at the end). Docs with < 2 tokens have no
    bigrams and are excluded.

    Plan shape at 100 TB: one explode pass over the corpus, two hash
    aggregations with map-side partial counts (bigram vocabulary ≪ bigram
    occurrences), then hash joins back on (w1, w2)/(w1) — the same
    key-skew profile as word count, handled by AQE skew splitting. No
    driver-side state: the "model" lives in the two count tables."""
    # >=2-tokens guard as a codegen rlike on raw text before the projection
    # (equivalent to size(lt) >= 2; see q_text pmi sibling) — a size(lt)
    # filter above the select alias-substitutes and pushes below the
    # spread() exchange, running the interpreted tokenize+lower serially
    # in the scan task.
    docs = spread(
        load_table(spark, sf_dir, "documents").filter(
            F.col("text").rlike(r"\S\s+\S")
        )
    )
    lt = F.transform(tokens("text"), lambda t: F.lower(t))
    # pinned token arrays + index explode (bigrams built per output row
    # AFTER the Generate): bg feeds THREE consumers (c2, c1, the final
    # join), and Generate evaluates an expensive generator child lazily
    # per consumer — see SCALE.md interpreter-boundary rules
    d = pin(docs.select("doc_id", "lang", lt.alias("lt")))
    bg = d.select(
        "doc_id",
        "lang",
        "lt",
        F.explode(F.expr("sequence(1, size(lt) - 1)")).alias("i"),
    ).select(
        "doc_id",
        "lang",
        F.expr("element_at(lt, i)").alias("w1"),
        F.expr("element_at(lt, i + 1)").alias("w2"),
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum("c2").cast("double") / F.sum("c1"), 6).alias("coherence"),
        )
    )


_SQL_LOWER_TOKS = f"list_transform({_SQL_TOKS}, t -> lower(t))"

_ORACLE_BIGRAM = f"""
WITH d AS (
  SELECT doc_id, lang, {_SQL_LOWER_TOKS} AS lt
  FROM documents WHERE len({_SQL_TOKS}) >= 2
),
bgidx AS (
  SELECT doc_id, lang, lt, CAST(unnest(range(1, len(lt))) AS INT) AS i FROM d
),
bg AS (SELECT doc_id, lang, lt[i] AS w1, lt[i + 1] AS w2 FROM bgidx),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1)
SELECT doc_id, lang, count(*) AS n_bigrams,
       ROUND(CAST(SUM(c2) AS DOUBLE) / SUM(c1), 6) AS coherence
FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY 1, 2
"""


def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly rollup per user with gap reconstruction: aggregate
    events into hourly buckets, generate every hour between each user's
    first and last active hour, left-join the actuals, then zero-fill the
    counts and carry the last observed hourly sum forward across gaps
    (``last(..., ignorenulls)`` running window) — the gap-fill/LOCF
    operator of a metrics hypertable rollup.

    Plan shape at 100 TB: the hourly pre-aggregation is one partial-agg
    shuffle on (user_id, bucket); the grid explode is a per-user row
    expansion bounded by the time span (no cross join); the LOCF window
    partitions by user_id — the same key the rollup already shuffled on,
    so AQE reuses the partitioning. Grid rows ≈ users × span-hours, which
    is the OUTPUT size of any dense rollup — not an intermediate blowup."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.expr("(unix_timestamp(ts) div 3600) * 3600")
    hourly = ev.groupBy(F.col("user_id"), bucket.alias("bucket_start")).agg(
        F.count("*").alias("n_events"), exact_sum("value").alias("sum_value")
    )
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("bucket_start").alias("lo"), F.max("bucket_start").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("lo"), F.col("hi"), F.lit(3600))).alias(
                "bucket_start"
            ),
        )
    )
    filled = grid.join(hourly, ["user_id", "bucket_start"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "user_id",
        "bucket_start",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        F.last("sum_value", ignorenulls=True).over(w).alias("carry_sum"),
        F.col("n_events").isNull().cast("int").alias("is_gap"),
    )


_ORACLE_GAP_FILL = f"""
WITH hourly AS (
  SELECT user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bucket_start,
         count(*) AS n_events,
         {sql_exact_sum('value')} AS sum_value
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT user_id, min(bucket_start) AS lo, max(bucket_start) AS hi
  FROM hourly GROUP BY 1
),
grid AS (
  SELECT user_id, unnest(range(lo, hi + 1, 3600)) AS bucket_start FROM bounds
),
filled AS (
  SELECT g.user_id, g.bucket_start, h.n_events, h.sum_value
  FROM grid g LEFT JOIN hourly h USING (user_id, bucket_start)
)
SELECT user_id, bucket_start,
       COALESCE(n_events, 0) AS n_events,
       COALESCE(sum_value, 0.0) AS sum_value,
       last_value(sum_value IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY bucket_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry_sum,
       CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS is_gap
FROM filled
"""


K_TRAIN = 4  # centroids
TRAIN_ROUNDS = 2  # assign→update rounds (unrolled identically in the oracle)


def q_sim_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd training loop for IVF cell building: {TRAIN_ROUNDS}
    unrolled assign→update rounds of cosine k-means (k={K_TRAIN}, seeds =
    first k vectors), then a final report per centroid — assignment count,
    mean assignment cosine, and the trained centroid's leading dimensions.
    Extends ``sim_kmeans_step`` (one round) to the iterative algorithm.

    Cross-engine exactness through BOTH rounds: every intermediate centroid
    dimension is the exact mean of its DECIMAL(25,8) values rounded to 8
    digits (:func:`exact_avg_halfup`), so round-2 assignments are
    computed against bit-identical centroids in Spark and DuckDB; cosines
    are sequential folds (bit-identical across engines) rounded to 6.

    Plan shape at 100 TB: per round, centroids (k rows) broadcast to a
    narrow per-row argmax — the corpus NEVER shuffles for assignment — and
    the update is one partial-agg shuffle keyed by (centroid, dim). The
    whole loop is k·dims·rounds of exchanged state against an unmoved
    corpus, which is exactly how distributed k-means must be laid out: each
    round's k centroids, each with its norm, collect into ONE broadcast
    array row and each corpus row picks its centroid with ``array_max``
    over (cosine, −centroid_id) structs, a pure map."""
    from .similarity import _emb

    e = _emb(spark, sf_dir)
    cent = e.filter(F.col("vec_id") < K_TRAIN).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )

    cn = vec_norm("cv")
    # argmax by (cosine DESC, centroid_id ASC) == array_max over
    # (cosine, −centroid_id, …) structs; −centroid_id is unique, so
    # the trailing payload field never decides
    best = F.array_max(
        F.transform(
            F.col("carr"),
            lambda c: F.struct(
                F.round(cosine("v", c["cv"], "nv", c["cn"]), 6).alias("cosine"),
                (-c["centroid_id"]).alias("nc"),
            ),
        )
    )
    assigned = None
    for _ in range(TRAIN_ROUNDS):
        carr = F.broadcast(
            cent.select("centroid_id", "cv", cn.alias("cn")).agg(
                F.collect_list(F.struct("centroid_id", "cv", "cn")).alias("carr")
            )
        )
        assigned = e.crossJoin(carr).select(
            "vec_id",
            "v",
            (-best["nc"]).alias("centroid_id"),
            best["cosine"].alias("cosine"),
        )
        per_dim = (
            assigned.select("centroid_id", F.posexplode("v").alias("idx", "val"))
            .groupBy("centroid_id", "idx")
            .agg(exact_avg_halfup("val", 8, digits=8).alias("c"))
        )
        cent = F.broadcast(
            per_dim.groupBy("centroid_id").agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("idx", "c"))),
                    lambda st: st["c"],
                ).alias("cv")
            )
        )
    stats = assigned.groupBy("centroid_id").agg(
        F.count("*").alias("n_assigned"),
        exact_avg_halfup("cosine", 6).alias("avg_cosine"),
    )
    return stats.join(cent, "centroid_id").select(
        "centroid_id",
        "n_assigned",
        "avg_cosine",
        *[F.element_at("cv", d + 1).alias(f"c{d}") for d in range(4)],
    )


def _sql_kmeans_train() -> str:
    """Programmatically unrolled DuckDB twin of :func:`q_sim_kmeans_train` —
    same rounds, same integer-exact centroid arithmetic."""
    from .similarity import _SQL_EMB

    parts = [
        f"e AS ({_SQL_EMB})",
        f"cent1 AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < {K_TRAIN})",
    ]
    for r in range(1, TRAIN_ROUNDS + 1):
        parts.append(
            f"""scored{r} AS (
  SELECT e.vec_id, e.v, c.centroid_id,
         ROUND({sql_dot('v', 'cv')} / ({sql_norm('v')} * {sql_norm('cv')}), 6) AS cosine
  FROM e, cent{r} c
)"""
        )
        parts.append(
            f"""asg{r} AS (
  SELECT vec_id, v, centroid_id, cosine FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine DESC, centroid_id ASC) AS rk
    FROM scored{r}) WHERE rk = 1
)"""
        )
        parts.append(
            f"""upd{r} AS (
  SELECT centroid_id, i,
         {sql_exact_avg_halfup("v[CAST(i AS INT)]", 8, digits=8)} AS c
  FROM asg{r}, (SELECT unnest(range(1, {DIMS + 1})) AS i) idxs
  GROUP BY centroid_id, i
)"""
        )
        parts.append(
            f"cent{r + 1} AS (SELECT centroid_id, list(c ORDER BY i) AS cv"
            f" FROM upd{r} GROUP BY centroid_id)"
        )
    ctes = ",\n".join(parts)
    final_cols = ", ".join(
        f"cv[{d + 1}] AS c{d}" for d in range(4)
    )
    return f"""
WITH {ctes}
SELECT s.centroid_id, s.n_assigned, s.avg_cosine, {final_cols}
FROM (
  SELECT centroid_id, count(*) AS n_assigned,
         {sql_exact_avg_halfup('cosine', 6)} AS avg_cosine
  FROM asg{TRAIN_ROUNDS} GROUP BY centroid_id
) s JOIN cent{TRAIN_ROUNDS + 1} USING (centroid_id)
"""


def _recursive_backoff_sql(intdiv: str) -> str:
    """ANSI recursive CTE, identical modulo the integer-division operator
    (Spark: ``div``; DuckDB: ``//``): starting from the pending order count
    per priority, each retry round clears half the queue (integer floor) —
    the exponential-backoff drain ladder. Terminates in O(log N) rounds,
    which is also why a recursive CTE is the right tool here and the
    row-at-a-time drain (reference src/app.js:65-95) is not."""
    return f"""
WITH RECURSIVE drain(priority, round, remaining) AS (
  SELECT o_orderpriority AS priority, 0 AS round, count(*) AS remaining
  FROM orders GROUP BY o_orderpriority
  UNION ALL
  SELECT priority, round + 1, remaining {intdiv} 2
  FROM drain WHERE remaining > 0
)
SELECT priority, round, remaining FROM drain
"""


def q_sql_recursive_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE execution (Spark 4 ``WITH RECURSIVE``) — the iterative
    query surface SQL engines use for hierarchies/fixpoints, certified
    against DuckDB's recursive CTE running the same text. At scale each
    recursion round is one distributed job over the previous round's
    (tiny, per-priority) frontier — the corpus is scanned once in the
    anchor."""
    register_views(spark, sf_dir)
    return spark.sql(_recursive_backoff_sql("div"))


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: per user, the first
    ``view``, the first ``click`` strictly after it, the first ``purchase``
    strictly after that; reported per stage as reached-user counts and the
    exact mean seconds from the previous stage. The product-analytics
    staple (sequence-constrained aggregation).

    Plan shape at 100 TB: three conditional min-aggregations keyed by
    user_id; once the first shuffle lands everything is partition-local
    (AQE reuses the user_id partitioning for the subsequent joins), and the
    stage joins are per-user 1-row lookups, never row-multiplying."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("unix_timestamp(ts)").alias("es")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("es").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("es") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("es").alias("t_click"), F.first("t_view").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("es") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("es").alias("t_purchase"), F.first("t_click").alias("t_click"))
    )
    stage = lambda name, df, delta: df.agg(  # noqa: E731
        F.lit(name).alias("stage"),
        F.count("*").alias("n_users"),
        (
            exact_avg_halfup(delta, 0) if delta else F.lit(None).cast("double")
        ).alias("avg_secs_from_prev"),
    )
    return (
        stage("view", v, None)
        .unionByName(stage("click", c, "t_click - t_view"))
        .unionByName(stage("purchase", p, "t_purchase - t_click"))
    )


_ORACLE_FUNNEL = f"""
WITH ev AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
),
v AS (
  SELECT user_id, min(es) AS t_view FROM ev WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.es) AS t_click, min(v.t_view) AS t_view
  FROM ev e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND e.es > v.t_view
  GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.es) AS t_purchase, min(c.t_click) AS t_click
  FROM ev e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.es > c.t_click
  GROUP BY 1
)
SELECT 'view' AS stage, count(*) AS n_users,
       CAST(NULL AS DOUBLE) AS avg_secs_from_prev FROM v
UNION ALL
SELECT 'click', count(*), {sql_exact_avg_halfup('t_click - t_view', 0)} FROM c
UNION ALL
SELECT 'purchase', count(*), {sql_exact_avg_halfup('t_purchase - t_click', 0)} FROM p
"""


N_ANOMALIES = 20


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection on per-user hourly activity: hourly event
    counts per user, per-user population mean/std from EXACT integer sums
    (S1, S2, N are engine-identical integers; mean/var/std/z are then the
    same IEEE double ops on identical inputs → bit-identical), top
    |z|-scoring hours reported.

    Plan shape at 100 TB: hourly partial-agg shuffle on (user, bucket), a
    second partial agg to (user) for the moments — carrying three integers
    per user, not the series — then a broadcast-size join back and a
    TakeOrdered top-k. The moment trick (var = S2/N - (S1/N)^2) is what
    keeps this two cheap aggregations instead of a window over history."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.expr("(unix_timestamp(ts) div 3600) * 3600").alias("bucket_start")
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("user_id").agg(
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
        F.count("*").alias("nh"),
    )
    mean = F.col("s1").cast("double") / F.col("nh")
    var = F.col("s2").cast("double") / F.col("nh") - mean * mean
    z = (F.col("n").cast("double") - mean) / F.sqrt(var)
    return (
        hourly.join(stats, "user_id")
        .filter(F.col("s2").cast("double") / F.col("nh") - mean * mean > 0)
        .select(
            "user_id",
            "bucket_start",
            "n",
            F.round(z, 6).alias("zscore"),
        )
        .orderBy(F.desc("zscore"), F.asc("user_id"), F.asc("bucket_start"))
        .limit(N_ANOMALIES)
    )


_ORACLE_ANOMALY = f"""
WITH hourly AS (
  SELECT user_id,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bucket_start,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT user_id, SUM(n) AS s1, SUM(n * n) AS s2, count(*) AS nh
  FROM hourly GROUP BY 1
)
SELECT h.user_id, h.bucket_start, h.n,
       ROUND((CAST(h.n AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.nh)
             / sqrt(CAST(s.s2 AS DOUBLE) / s.nh
                    - (CAST(s.s1 AS DOUBLE) / s.nh) * (CAST(s.s1 AS DOUBLE) / s.nh)), 6)
         AS zscore
FROM hourly h JOIN stats s USING (user_id)
WHERE CAST(s.s2 AS DOUBLE) / s.nh
      - (CAST(s.s1 AS DOUBLE) / s.nh) * (CAST(s.s1 AS DOUBLE) / s.nh) > 0
ORDER BY zscore DESC, user_id ASC, bucket_start ASC
LIMIT {N_ANOMALIES}
"""


def q_orders_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 interval derivation from an order event log: per customer, each
    order opens a validity interval [valid_from, valid_to) carrying the
    customer's state as of that order — cumulative order count and exact
    cumulative spend — with the current interval open-ended (NULL
    valid_to). This is the temporal-dimension build a warehouse MERGE
    maintains incrementally; derived here in one pass with lead().

    Plan shape at 100 TB: a single window shuffle on c_custkey; running
    decimal sums are partial-aggregated within the frame. Incremental
    maintenance = the foreachBatch merge sink (tests/test_streaming_extras)
    applied to the newest slice; this query is its from-scratch rebuild."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("string").alias("valid_from"),
        F.lead("o_orderdate").over(w).cast("string").alias("valid_to"),
        F.count("*").over(run).alias("n_orders_todate"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(25,4)")).over(run), 2
        )
        .cast("double")
        .alias("spend_todate"),
        F.col("o_orderkey").alias("orderkey"),
    )


_ORACLE_SCD2 = """
SELECT o_custkey AS custkey,
       CAST(o_orderdate AS VARCHAR) AS valid_from,
       CAST(lead(o_orderdate) OVER w AS VARCHAR) AS valid_to,
       count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS n_orders_todate,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(25,4)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
            AS DOUBLE) AS spend_todate,
       o_orderkey AS orderkey
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def q_events_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: ``parse_json`` the
    ``props`` column into a binary-encoded VARIANT once, then
    ``variant_get`` typed fields out of it — the modern replacement for
    per-query string JSON-path extraction (events_json_extract is the
    legacy twin). At 100 TB the VARIANT column is shredded at ingest and
    stored columnar, so the typed extraction prunes like any other column.

    Output compares the two extraction paths field-for-field: per
    event_type, count plus exact min/max/sum of ``k`` pulled via VARIANT —
    certified against DuckDB's native JSON extraction."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
    )


_ORACLE_VARIANT = """
SELECT event_type,
       count(*) AS n_events,
       count(CAST(props ->> '$.k' AS INT)) AS n_with_k,
       min(CAST(props ->> '$.k' AS INT)) AS min_k,
       max(CAST(props ->> '$.k' AS INT)) AS max_k,
       CAST(SUM(CAST(props ->> '$.k' AS INT)) AS BIGINT) AS sum_k
FROM events
GROUP BY event_type
"""


CUTOVER_DAY = "2024-01-21"  # materialized/delta split for the rollup merge


def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance as a batch operator: the daily
    (event_type, day) rollup is split into a *materialized* part (events
    before CUTOVER_DAY — in production, the stored aggregate table) and a
    *delta* part (events on/after it — the newly arrived partition); the
    operator merges partial aggregates (sum of counts, sum of decimal
    sums — both mergeable) and must equal the from-scratch rollup, which
    is the oracle. This is the continuous-aggregate refresh a hypertable
    runs on each new time chunk.

    Plan shape at 100 TB: the merge only ever touches the delta partition
    + the (tiny) aggregate table — never re-scans history. Mergeability is
    guaranteed by keeping SUM/COUNT partials (never averages) in the
    materialized state; the decimal sums make the merge order-independent."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
    )
    cut = F.lit(CUTOVER_DAY)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,4)")).alias("sv"),
        )

    materialized = partial(ev.filter(F.col("day") < cut))
    delta = partial(ev.filter(F.col("day") >= cut))
    merged = (
        materialized.unionByName(delta)
        .groupBy("event_type", "day")
        .agg(F.sum("n").alias("n_events"), F.sum("sv").alias("sv"))
    )
    return merged.select(
        "event_type",
        "day",
        "n_events",
        F.round("sv", 2).cast("double").alias("sum_value"),
    )


_ORACLE_ROLLUP_INC = f"""
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       count(*) AS n_events,
       {sql_exact_sum('value')} AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_group_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median + interquartile bounds via Spark's exact
    ``percentile`` (sort-based within group) against DuckDB's
    ``quantile_cont`` — both interpolate linearly between the two nearest
    order statistics, so on identical value sets the doubles agree.
    The exact complement to the approx sketch (`approx_distinct_sketch`):
    right when groups fit a sort, wrong at 100 TB hot groups (use the
    sketch there)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
    )


_ORACLE_GROUP_MEDIAN = """
SELECT event_type, count(*) AS n,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.5), 6) AS median,
       ROUND(quantile_cont(value, 0.75), 6) AS p75
FROM events
GROUP BY event_type
"""


PR_ROUNDS = 2
PR_TOPK = 20


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank ({PR_ROUNDS} unrolled rounds, damping 0.85)
    over the undirected supplier↔customer trade graph derived from
    lineitem⋈orders — the third iterative algorithm surface next to
    connected components (dedup) and Lloyd k-means (similarity).

    Cross-engine exactness: ranks are integers scaled by 10^8. Each round,
    a node sends ``R div out_degree`` to each neighbor (integer division —
    nonnegative, so Spark's truncating ``div`` and DuckDB's flooring ``//``
    agree), receives the integer sum, and updates
    ``R' = 15000000 + (85 * received) div 100``. No floats anywhere until
    the final display division, so both engines walk identical integer
    states through every round.

    Plan shape at 100 TB: the edge list shuffles ONCE to build
    (src-partitioned) adjacency with out_degree attached; each round is
    one partial-agg shuffle of (dst, contribution) — contributions
    combine map-side — plus a node-table broadcast rank join. The
    broadcast is an EXPLICIT hint (the planner's post-aggregate size
    estimates otherwise pick SortMergeJoin even for the ~16k-row rank
    table — measured r14), and Spark honors explicit hints
    unconditionally: if the node table ever outgrows the 8 GB broadcast
    cap, the hint must be REMOVED so the join degrades to a
    co-partitioned shuffle join against the already-partitioned
    adjacency (the adjacency itself still never moves). A node table is
    |vertices|-sized — ~16 bytes/row packs ~500M nodes into 8 GB, so the
    hint holds through very large graphs, but it is not self-removing.
    Rounds × one shuffle, the
    textbook distributed PageRank layout. Edges, degrees and the
    degree-attached adjacency are pinned: the unrolled-round lineage
    otherwise references the lineitem⋈orders derivation once per join
    per round (~7 rescans at 2 rounds), exactly the re-read a production
    PageRank avoids by materializing adjacency before iterating."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # Node ids are packed BIGINTs internally (supplier k → 2k, customer k
    # → 2k+1, disjoint by parity): the distinct, the union, both pins and
    # every round's join/agg then hash and shuffle 8-byte longs instead
    # of ~10-char strings (guide §2.3 "narrower types" — the display
    # label is reconstructed only at the node-sized readout below, so
    # the oracle-visible output is unchanged).
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2).cast("long").alias("a"),
            (F.col("o_custkey") * 2 + 1).cast("long").alias("b"),
        )
        .distinct()
    )
    edges = pin(
        pairs.select("a", "b").unionByName(
            pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    )
    deg = pin(edges.groupBy("a").agg(F.count("*").alias("out_deg")))
    # Degree attaches to the pinned adjacency ONCE (r14: the former
    # per-round edges⋈ranks⋈deg pair planned as SortMergeJoins — 6 SMJ +
    # 9 sorts for 2 rounds, both node-sized sides shuffled every round).
    # With out_deg carried on the adjacency and the node-sized rank /
    # received tables broadcast explicitly (the shape the 100 TB note
    # below already promises), each round is ONE partial-agg shuffle and
    # zero sorts; the adjacency never moves after its pin.
    adj = pin(edges.join(F.broadcast(deg), "a"))
    ranks = deg.select("a", F.lit(100000000).cast("long").alias("r"))
    for _ in range(PR_ROUNDS):
        contrib = adj.join(F.broadcast(ranks), "a").select(
            "b", F.expr("r div out_deg").alias("c")
        )
        recv = contrib.groupBy("b").agg(F.sum("c").alias("received"))
        ranks = (
            deg.join(F.broadcast(recv), deg.a == recv.b, "left")
            .select(
                "a",
                (
                    F.lit(15000000)
                    + F.expr("(85 * coalesce(received, 0L)) div 100")
                ).alias("r"),
            )
        )
    # unpack the parity-coded id back to the public 's<k>'/'c<k>' label on
    # the node-sized rank table; the tie-break order is over the LABEL
    # (string asc), exactly as before the packing
    # integer division (r15, ADVICE r14): the former (a / 2).cast("long")
    # round-tripped through a DOUBLE — exact only below 2^53; `a div 2`
    # is exact at any BIGINT magnitude and skips the cast
    labeled = ranks.select(
        F.when(
            F.col("a") % 2 == 0,
            F.concat(F.lit("s"), F.expr("a div 2")),
        )
        .otherwise(
            F.concat(F.lit("c"), F.expr("(a - 1) div 2"))
        )
        .alias("node"),
        "r",
    )
    return (
        labeled.orderBy(F.desc("r"), F.asc("node"))
        .limit(PR_TOPK)
        .select(
            "node",
            F.round(F.col("r").cast("double") / 100000000.0, 8).alias("rank"),
        )
    )


def _sql_pagerank() -> str:
    parts = [
        """pairs AS (
  SELECT DISTINCT 's' || l.l_suppkey AS a, 'c' || o.o_custkey AS b
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""",
        "edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs)",
        "deg AS (SELECT a, count(*) AS out_deg FROM edges GROUP BY a)",
        "ranks0 AS (SELECT a, CAST(100000000 AS HUGEINT) AS r FROM deg)",
    ]
    for i in range(PR_ROUNDS):
        parts.append(
            f"""recv{i} AS (
  SELECT e.b, SUM(r.r // d.out_deg) AS received
  FROM edges e JOIN ranks{i} r USING (a) JOIN deg d USING (a)
  GROUP BY e.b
)"""
        )
        parts.append(
            f"""ranks{i + 1} AS (
  SELECT d.a, 15000000 + (85 * COALESCE(v.received, 0)) // 100 AS r
  FROM deg d LEFT JOIN recv{i} v ON d.a = v.b
)"""
        )
    joined = ",\n".join(parts)
    return f"""
WITH {joined}
SELECT a AS node, ROUND(CAST(r AS DOUBLE) / 100000000.0, 8) AS rank
FROM ranks{PR_ROUNDS}
ORDER BY r DESC, a ASC
LIMIT {PR_TOPK}
"""


DQ_REF_LIMIT = 1000000007  # the reference's valid id upper bound (app.js:112)


def q_dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit — the dbt-tests/Deequ-style operator
    a pipeline runs before promoting a dataset. Each constraint is one
    aggregate or anti-join; the report is one row per constraint with its
    violation count (0 = pass). Constraints cover the four families:
    uniqueness, nullability, referential integrity, and domain ranges
    (including the reference's own id-domain rule, app.js:110-116).

    Plan shape at 100 TB: each check is a partial-agg scan or a broadcast
    anti-join; checks over the same table share the scan via the single
    union plan, and nothing ever materializes violating ROWS — only
    counts."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("constraint_name"),
            F.coalesce(F.sum("v"), F.lit(0)).cast("long").alias("n_violations"),
        )

    uniq = check(
        "orders.o_orderkey unique",
        o.groupBy("o_orderkey")
        .agg((F.count("*") - 1).alias("v"))
        .select(F.sum("v").alias("v")),
    )
    notnull = check(
        "documents.text not null",
        docs.select(F.col("text").isNull().cast("long").alias("v")),
    )
    ref = check(
        "orders.o_custkey in customer",
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .select(F.lit(1).alias("v")),
    )
    domain = check(
        "lineitem.l_quantity in [1,50]",
        li.select(
            (~F.col("l_quantity").between(1, 50)).cast("long").alias("v")
        ),
    )
    id_domain = check(
        f"part ids in [0,{DQ_REF_LIMIT})",
        load_table(spark, sf_dir, "part").select(
            (~F.col("p_partkey").between(0, DQ_REF_LIMIT - 1)).cast("long").alias("v")
        ),
    )
    return uniq.unionByName(notnull).unionByName(ref).unionByName(domain).unionByName(
        id_domain
    )


_ORACLE_DQ = f"""
SELECT 'orders.o_orderkey unique' AS constraint_name,
       CAST(COALESCE(SUM(v), 0) AS BIGINT) AS n_violations
FROM (SELECT count(*) - 1 AS v FROM orders GROUP BY o_orderkey)
UNION ALL
SELECT 'documents.text not null',
       CAST(COALESCE(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM documents
UNION ALL
SELECT 'orders.o_custkey in customer',
       CAST(COALESCE(SUM(1), 0) AS BIGINT)
FROM (SELECT o_custkey FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
UNION ALL
SELECT 'lineitem.l_quantity in [1,50]',
       CAST(COALESCE(SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'part ids in [0,{DQ_REF_LIMIT})',
       CAST(COALESCE(SUM(CASE WHEN p_partkey NOT BETWEEN 0 AND {DQ_REF_LIMIT - 1} THEN 1 ELSE 0 END), 0) AS BIGINT)
FROM part
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention over the event stream: users are cohorted by their
    first-activity day; for each (cohort_day, days_since) cell the report
    counts distinct returning users and the retention rate vs the cohort
    size. Integer counts + one final rounded division keep it exact.

    Plan shape at 100 TB: first-activity is one partial-min shuffle on
    user_id; the cohort join is user-keyed (AQE reuses the partitioning);
    the cell rollup is a partial count-distinct on (cohort, offset). No
    window over history, no self-join of the raw stream."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    cells = (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("days_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    size = first.groupBy("cohort_day").agg(F.countDistinct("user_id").alias("cohort_n"))
    return (
        cells.join(size, "cohort_day")
        .select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            "days_since",
            "n_active",
            "cohort_n",
            F.round(F.col("n_active").cast("double") / F.col("cohort_n"), 6).alias(
                "retention"
            ),
        )
    )


_ORACLE_COHORT = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
first AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
cells AS (
  SELECT f.cohort_day, date_diff('day', f.cohort_day, e.day) AS days_since,
         count(DISTINCT e.user_id) AS n_active
  FROM ev e JOIN first f USING (user_id)
  GROUP BY 1, 2
),
size AS (SELECT cohort_day, count(DISTINCT user_id) AS cohort_n FROM first GROUP BY 1)
SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day, c.days_since, c.n_active,
       s.cohort_n,
       ROUND(CAST(c.n_active AS DOUBLE) / s.cohort_n, 6) AS retention
FROM cells c JOIN size s USING (cohort_day)
"""


TRAIN_FRACTION_HEX = "c"  # md5 first nibble < 'c' → train (12/16 = 75 %)


def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test split of the document corpus: assignment is
    a pure function of doc_id (first md5 nibble against a threshold), so
    the split is reproducible on any engine, any partitioning, any rerun —
    the property a 100 TB corpus split must have (no RNG state, no
    sampling seed drift between engines). Reports per (lang, split) doc
    and token totals plus the realized split fraction."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        < TRAIN_FRACTION_HEX,
        "train",
    ).otherwise("test")
    toks = tokens("text")
    per = docs.select(
        "lang", split.alias("split"), F.size(toks).cast("long").alias("n_tokens")
    )
    lang_tot = per.groupBy("lang").agg(F.count("*").alias("lang_n"))
    return (
        per.groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .join(lang_tot, "lang")
        .select(
            "lang",
            "split",
            "n_docs",
            "total_tokens",
            F.round(F.col("n_docs").cast("double") / F.col("lang_n"), 6).alias(
                "fraction"
            ),
        )
    )


_ORACLE_SPLIT = f"""
WITH per AS (
  SELECT lang,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '{TRAIN_FRACTION_HEX}'
              THEN 'train' ELSE 'test' END AS split,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
lang_tot AS (SELECT lang, count(*) AS lang_n FROM per GROUP BY 1)
SELECT p.lang, p.split, count(*) AS n_docs,
       CAST(SUM(p.n_tokens) AS BIGINT) AS total_tokens,
       ROUND(CAST(count(*) AS DOUBLE) / min(t.lang_n), 6) AS fraction
FROM per p JOIN lang_tot t USING (lang)
GROUP BY p.lang, p.split
"""


N_FUZZY_PROBES = 5


def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching (entity-resolution staple): a small probe set
    of corrupted customer names is matched back to the customer table by
    minimum Levenshtein distance (deterministic tiebreak on the candidate
    name). JVM `levenshtein` on both engines — no UDF.

    Plan shape at 100 TB: the probe set broadcasts (it is the small,
    human-scale side by construction); candidates stream through a narrow
    distance computation + per-probe TakeOrdered. For probe sets too big
    to broadcast, the blocking key (name prefix/phonetic bucket) turns
    this into the same banded equi-join shape as the LSH dedup family."""
    c = load_table(spark, sf_dir, "customer")
    probes = F.broadcast(
        c.filter(F.col("c_custkey") < N_FUZZY_PROBES).select(
            # corrupt deterministically, with per-probe SEVERITY (de-vacuated
            # round 12 — a fixed 2-edit corruption froze the min distance at
            # exactly 2 for every probe at every SF, so the `dist` column
            # certified nothing): even custkeys get 1 edit (append 'x'), odd
            # custkeys get 2 (drop the first character AND append 'x')
            F.when(
                F.col("c_custkey") % 2 == 0,
                F.concat(F.col("c_name"), F.lit("x")),
            )
            .otherwise(F.concat(F.substring("c_name", 2, 100), F.lit("x")))
            .alias("probe")
        )
    )
    scored = c.crossJoin(probes).select(
        "probe",
        F.col("c_name").alias("matched_name"),
        F.levenshtein("probe", "c_name").alias("dist"),
    )
    w = Window.partitionBy("probe").orderBy(F.asc("dist"), F.asc("matched_name"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("probe", "matched_name", "dist")
    )


_ORACLE_FUZZY = f"""
WITH probes AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN c_name || 'x'
              ELSE substr(c_name, 2) || 'x' END AS probe
  FROM customer WHERE c_custkey < {N_FUZZY_PROBES}
),
scored AS (
  SELECT p.probe, c.c_name AS matched_name,
         levenshtein(p.probe, c.c_name) AS dist
  FROM customer c, probes p
)
SELECT probe, matched_name, dist FROM (
  SELECT *, row_number() OVER (PARTITION BY probe
                               ORDER BY dist ASC, matched_name ASC) AS rk
  FROM scored) WHERE rk = 1
"""


# --- benchmark decontamination -------------------------------------------

# --- intra-document repetition (Gopher quality signals) -------------------

REP_DUP_WORD_MAX = 0.3
REP_TOP_BIGRAM_MAX = 0.18
REP_DUP_TRIGRAM_MAX = 0.3


def q_text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition — the Gopher/MassiveText quality rules
    that catch boilerplate and degenerate generation loops: duplicate-word
    fraction, most-frequent-bigram mass, and duplicate-trigram fraction,
    with the standard keep/drop thresholds folded into a ``repetitive``
    flag.

    Plan shape at 100 TB: ZERO shuffles — every signal is a per-row array
    expression (tokenize, n-gram, distinct/filter folds), so the operator
    is a narrow map that widens with the scan. The top-bigram mass uses an
    O(distinct·total) in-array count, fine for document-sized arrays; for
    degenerate inputs (10^5+ tokens) the explode→count→max twin trades the
    quadratic scan for two keyed shuffles — same results, chosen by doc
    length at the planner level in a production deployment."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        "lang",
        t.alias("t"),
        _word_ngrams(t, 2).alias("bg"),
        _word_ngrams(t, 3).alias("tg"),
    )
    n_toks = F.size("t")
    n_bg = F.size("bg")
    n_tg = F.size("tg")
    top_bg = F.array_max(
        F.transform(
            F.array_distinct("bg"),
            lambda b: F.size(F.filter(F.col("bg"), lambda x: x == b)),
        )
    )
    # zero-token guard mirrors the n_bg/n_tg branches: an empty/whitespace
    # doc must score 0.0 on both engines, not NULL-by-division (ADVICE r5)
    dup_word = F.when(n_toks == 0, F.lit(0.0)).otherwise(
        F.round(F.lit(1.0) - F.size(F.array_distinct("t")) / n_toks, 6)
    )
    top_bigram = F.when(n_bg == 0, F.lit(0.0)).otherwise(F.round(top_bg / n_bg, 6))
    dup_trigram = F.when(n_tg == 0, F.lit(0.0)).otherwise(
        F.round(F.lit(1.0) - F.size(F.array_distinct("tg")) / n_tg, 6)
    )
    return base.select(
        "doc_id",
        "lang",
        n_toks.cast("bigint").alias("n_tokens"),
        dup_word.alias("dup_word_frac"),
        top_bigram.alias("top_bigram_frac"),
        dup_trigram.alias("dup_trigram_frac"),
        (
            (dup_word > REP_DUP_WORD_MAX)
            | (top_bigram > REP_TOP_BIGRAM_MAX)
            | (dup_trigram > REP_DUP_TRIGRAM_MAX)
        )
        .cast("int")
        .alias("repetitive"),
    )


_ORACLE_REPETITION = f"""
WITH base AS (
  SELECT doc_id, lang, {_SQL_TOKS} AS t,
         {_sql_word_ngrams(_SQL_TOKS, 2)} AS bg,
         {_sql_word_ngrams(_SQL_TOKS, 3)} AS tg
  FROM documents
),
sig AS (
  SELECT doc_id, lang,
         len(t) AS n_toks,
         CASE WHEN len(t) = 0 THEN 0.0 ELSE ROUND(
           1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
         END AS dup_word_frac,
         CASE WHEN len(bg) = 0 THEN 0.0 ELSE ROUND(
           CAST(list_max(list_transform(list_distinct(bg),
                b -> len(list_filter(bg, x -> x = b)))) AS DOUBLE) / len(bg), 6)
         END AS top_bigram_frac,
         CASE WHEN len(tg) = 0 THEN 0.0 ELSE ROUND(
           1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg), 6)
         END AS dup_trigram_frac
  FROM base
)
SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_tokens,
       dup_word_frac, top_bigram_frac, dup_trigram_frac,
       CASE WHEN dup_word_frac > {REP_DUP_WORD_MAX}
              OR top_bigram_frac > {REP_TOP_BIGRAM_MAX}
              OR dup_trigram_frac > {REP_DUP_TRIGRAM_MAX}
            THEN 1 ELSE 0 END AS repetitive
FROM sig
"""


# --- temperature-based corpus mixing ---------------------------------------

QUERIES = {
    "text_bigram_coherence": q_text_bigram_coherence,
    "events_gap_fill": q_events_gap_fill,
    "sim_kmeans_train": q_sim_kmeans_train,
    "sql_recursive_backoff": q_sql_recursive_backoff,
    "events_funnel": q_events_funnel,
    "events_anomaly": q_events_anomaly,
    "orders_scd2": q_orders_scd2,
    "events_variant_shred": q_events_variant_shred,
    "rollup_incremental": q_rollup_incremental,
    "group_median": q_group_median,
    "graph_pagerank": q_graph_pagerank,
    "dq_constraint_report": q_dq_constraint_report,
    "cohort_retention": q_cohort_retention,
    "train_test_split": q_train_test_split,
    "fuzzy_name_match": q_fuzzy_name_match,
    "text_repetition_score": q_text_repetition_score,
}

ORACLE = {
    "text_bigram_coherence": _ORACLE_BIGRAM,
    "events_gap_fill": _ORACLE_GAP_FILL,
    "sim_kmeans_train": _sql_kmeans_train(),
    "sql_recursive_backoff": _recursive_backoff_sql("//"),
    "events_funnel": _ORACLE_FUNNEL,
    "events_anomaly": _ORACLE_ANOMALY,
    "orders_scd2": _ORACLE_SCD2,
    "events_variant_shred": _ORACLE_VARIANT,
    "rollup_incremental": _ORACLE_ROLLUP_INC,
    "group_median": _ORACLE_GROUP_MEDIAN,
    "graph_pagerank": _sql_pagerank(),
    "dq_constraint_report": _ORACLE_DQ,
    "cohort_retention": _ORACLE_COHORT,
    "train_test_split": _ORACLE_SPLIT,
    "fuzzy_name_match": _ORACLE_FUZZY,
    "text_repetition_score": _ORACLE_REPETITION,
}
