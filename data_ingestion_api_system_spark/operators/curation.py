"""Corpus-curation operators the reference lacks but a CommonCrawl-scale
pretraining pipeline hits first (round-13 cohort, VERDICT r12 #5):
paragraph-level exact-substring dedup, URL/domain canonicalization with
per-domain mixing caps, and the quality-classifier calibration sweep that
is the eval side of ``text_quality_score``.

All three are JVM-side expression/aggregate compositions — zero Python
UDFs — with exact DuckDB oracles. Reference parity: the reference
(`/root/reference/src/app.js`, 244 lines) has no curation surface at all;
these extend SURVEY.md §2 Part C's LLM-pipeline families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import exact_avg_halfup, sql_exact_avg_halfup, tokens
from ..tables import load_table
from . import pin, spread
from .text import STOPWORDS as _STOPWORDS
from .text import _SQL_STOPLIST, _SQL_TOKS

# --- paragraph-level exact-substring dedup ---------------------------------

PASSAGE_W = 10  # tokens per non-overlapping passage


def q_dedup_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup at passage level — the document-level exact
    family's complement (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", public): a doc that is globally unique
    can still carry boilerplate passages repeated across the corpus, and
    removing those repeats is the single highest-leverage cleanup on web
    text. The suffix-array formulation doesn't distribute; the standard
    large-scale form is fixed-width passage fingerprinting: split each doc
    into non-overlapping {W}-token passages, fingerprint each, and mark
    every instance that is not its fingerprint's canonical first owner
    (lexicographically smallest (doc_id, position)) as removable.

    Output: one row per doc with ≥1 full passage — passage count,
    removable-passage count, removable chars, and the removable ratio.

    Plan shape at 100 TB: passage enumeration is a narrow Generate; the
    fingerprint table group-by is the one corpus-sized shuffle (inherent —
    exact substring dedup must co-locate identical passages) and both its
    aggregates (count, min owner key) partial map-side, so the exchange
    carries one row per *distinct* passage plus partials; the instance →
    owner probe is an equi-join keyed on the same fingerprint (exchange
    reuse), and the final per-doc rollup partials again. Owner key packs
    (doc_id, position) into one BIGINT (positions are < 2^20: docs are
    size-bounded) so min() stays a primitive aggregate on both engines."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", "lang", tokens("text").alias("t")).filter(
        F.size("t") >= PASSAGE_W
    )
    passages = F.transform(
        F.sequence(F.lit(0), (F.size("t") / PASSAGE_W).cast("int") - 1),
        lambda i: F.array_join(F.slice(F.col("t"), i * PASSAGE_W + 1, PASSAGE_W), " "),
    )
    # pin: the instance table feeds both the owner aggregation and the
    # probe side of the owner join — one materialization of the
    # tokenize+explode+md5 work instead of two (recompute-saver posture)
    inst = pin(
        base.select(
            "doc_id",
            "lang",
            F.posexplode(passages).alias("pos", "passage"),
        ).select(
            "doc_id",
            "lang",
            "pos",
            F.length("passage").alias("p_chars"),
            F.md5(F.lower("passage")).alias("fp"),
            (F.col("doc_id") * F.lit(1 << 20) + F.col("pos")).alias("inst_key"),
        )
    )
    owners = inst.groupBy("fp").agg(
        F.min("inst_key").alias("owner_key"),
        F.count("*").alias("n_copies"),
    )
    flagged = inst.join(owners, "fp").withColumn(
        "is_dup", (F.col("inst_key") != F.col("owner_key")).cast("int")
    )
    return (
        flagged.groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_passages"),
            F.sum("is_dup").cast("bigint").alias("n_removable"),
            F.sum(F.col("is_dup") * F.col("p_chars"))
            .cast("bigint")
            .alias("removable_chars"),
        )
        .withColumn(
            "removable_ratio",
            F.round(F.col("n_removable") / F.col("n_passages"), 6),
        )
    )


_ORACLE_EXACT_SUBSTR = f"""
WITH base AS (
  SELECT doc_id, lang, {_SQL_TOKS} AS t
  FROM documents
  WHERE len({_SQL_TOKS}) >= {PASSAGE_W}
),
inst AS (
  SELECT doc_id, lang, ci AS pos,
         length(array_to_string(t[ci*{PASSAGE_W}+1 : ci*{PASSAGE_W}+{PASSAGE_W}], ' ')) AS p_chars,
         md5(lower(array_to_string(t[ci*{PASSAGE_W}+1 : ci*{PASSAGE_W}+{PASSAGE_W}], ' '))) AS fp,
         doc_id * {1 << 20} + ci AS inst_key
  FROM (SELECT doc_id, lang, t,
               unnest(range(0, len(t) // {PASSAGE_W})) AS ci
        FROM base)
),
owners AS (
  SELECT fp, min(inst_key) AS owner_key FROM inst GROUP BY fp
)
SELECT i.doc_id, i.lang,
       CAST(count(*) AS BIGINT) AS n_passages,
       CAST(sum(CASE WHEN i.inst_key <> o.owner_key THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removable,
       CAST(sum(CASE WHEN i.inst_key <> o.owner_key THEN i.p_chars ELSE 0 END) AS BIGINT)
         AS removable_chars,
       ROUND(CAST(sum(CASE WHEN i.inst_key <> o.owner_key THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS removable_ratio
FROM inst i JOIN owners o USING (fp)
GROUP BY i.doc_id, i.lang
"""


# --- URL/domain canonicalization + per-domain caps -------------------------

DOMAIN_CAP = 8  # max docs kept per registered domain (fires at all 3 SFs:
# the (source,lang) domain groups run 1-16 docs at sf0.001/0.01, 24-112 at
# sf0.1 — measured, so n_dropped is live at every scale the gates run)


def _noisy_url() -> F.Column:
    """Deterministic noisy URL per document, standing in for the ``url``
    column a crawl corpus carries (the harness tables have none — same
    substitution posture as the multimodal family's synthetic binaries).
    Registered domain is ``{source}-{lang}.com`` (~100 domains per SF);
    noise is keyed on doc_id so every canonicalization rule fires on a
    deterministic subset: mixed-case scheme/host, optional ``www.``/``m.``
    subdomain, explicit default port, tracking params in both positions,
    fragment."""
    d = F.col("doc_id")
    host_case = F.when(d % 3 == 0, F.upper("source")).otherwise(F.col("source"))
    return F.concat(
        F.lit("HTTPS://"),
        F.when(d % 2 == 0, F.lit("www."))
        .when(d % 11 == 0, F.lit("m."))
        .otherwise(F.lit("")),
        host_case,
        F.lit("-"),
        F.col("lang"),
        F.lit(".COM:443/page-"),
        d.cast("string"),
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=feed&id="), d.cast("string")))
        .when(d % 5 == 0, F.concat(F.lit("?id="), d.cast("string"), F.lit("&utm_campaign=x")))
        .otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


def q_prep_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + per-domain mixing caps — CommonCrawl
    curation's first two operators (public recipe: RefinedWeb/Penedo et
    al. 2023 §3.1 canonicalize-then-cap; C4's per-host dedup). A crawl
    corpus is dominated by a handful of hosts unless each registered
    domain is capped, and caps are only meaningful after canonicalization
    (``HTTPS://WWW.X.Example.COM:443/p?utm_source=a`` and
    ``https://x.example.com/p`` are the same page).

    Canonicalization (all JVM regex/string expressions): lowercase scheme
    + host, strip ``www.``, strip the default :443/:80 port, drop utm_*
    tracking params (keeping the rest and re-normalizing separators),
    drop the fragment. Registered domain = last two host labels. Cap
    selection keeps the {CAP} longest docs per domain (n_chars DESC,
    doc_id ASC tiebreak).

    Output: one row per registered domain with total/kept/dropped counts
    and kept-char mass — the mixing report a curation run logs.

    Plan shape at 100 TB: canonicalization is narrow; the keep-set rank
    is ``row_number ≤ cap`` which Spark plans as WindowGroupLimit — each
    map task pre-prunes to {CAP} rows per domain before the exchange, so
    the shuffle carries ≤ {CAP}·tasks rows per domain no matter how hot
    the domain (the registry's accepted rank-filter posture, cf.
    sim_rank_fusion); the totals branch is an ordinary partial-agg
    groupBy, and the two per-domain tables join broadcast-small."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    url = _noisy_url()
    canon = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                # lowercase scheme+host (authority part only), strip www.
                F.concat(
                    F.lower(F.regexp_extract(url, r"^([^/]+//[^/]+)", 1)),
                    F.regexp_extract(url, r"^[^/]+//[^/]+(.*)$", 1),
                ),
                r"^(https?://)www\.",
                "$1",
            ),
            r"^(https?://[^/:]+):(443|80)(/|$)",
            "$1$3",
        ),
        r"#.*$",
        "",
    )
    # drop utm_* params wherever they sit, then normalize dangling ?/&
    canon = F.regexp_replace(canon, r"utm_[a-z]+=[^&#]*&?", "")
    canon = F.regexp_replace(canon, r"[?&]$", "")
    canon = F.regexp_replace(canon, r"\?&", "?")
    host = F.regexp_extract(canon, r"^https?://([^/]+)", 1)
    reg_domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    # pin: the canonicalized table (a ~10-regex chain per row) feeds both
    # the keep-set rank and the totals rollup — one evaluation of the
    # regex stack instead of two (review r13)
    enriched = pin(
        docs.select(
            "doc_id",
            "n_chars",
            canon.alias("canonical_url"),
            reg_domain.alias("domain"),
        )
    )
    w = Window.partitionBy("domain").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    kept = (
        enriched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= DOMAIN_CAP)
        .groupBy("domain")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
            F.min("doc_id").cast("bigint").alias("first_kept_doc"),
        )
    )
    totals = enriched.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return (
        totals.join(kept, "domain")
        .select(
            "domain",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).cast("bigint").alias("n_dropped"),
            "total_chars",
            "kept_chars",
            F.round(F.try_divide("kept_chars", "total_chars"), 6).alias(
                "kept_char_share"
            ),
            "first_kept_doc",
        )
    )


_SQL_URL = f"""
concat('HTTPS://',
       CASE WHEN doc_id % 2 = 0 THEN 'www.'
            WHEN doc_id % 11 = 0 THEN 'm.' ELSE '' END,
       CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
       '-', lang, '.COM:443/page-', CAST(doc_id AS VARCHAR),
       CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
            WHEN doc_id % 5 = 0 THEN '?id=' || CAST(doc_id AS VARCHAR) || '&utm_campaign=x'
            ELSE '' END,
       CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)
"""

_ORACLE_DOMAIN_CAPS = f"""
WITH raw AS (
  SELECT doc_id, n_chars, {_SQL_URL} AS url FROM documents
),
canon0 AS (
  SELECT doc_id, n_chars,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               lower(regexp_extract(url, '^([^/]+//[^/]+)', 1))
                 || regexp_extract(url, '^[^/]+//[^/]+(.*)$', 1),
               '^(https?://)www\\.', '\\1'),
             '^(https?://[^/:]+):(443|80)(/|$)', '\\1\\3'),
           '#.*$', '') AS c0
  FROM raw
),
canon AS (
  SELECT doc_id, n_chars,
         regexp_replace(
           regexp_replace(
             regexp_replace(c0, 'utm_[a-z]+=[^&#]*&?', '', 'g'),
             '[?&]$', ''),
           '\\?&', '?') AS canonical_url
  FROM canon0
),
enriched AS (
  SELECT doc_id, n_chars, canonical_url,
         regexp_extract(regexp_extract(canonical_url, '^https?://([^/]+)', 1),
                        '([^.]+\\.[^.]+)$', 1) AS domain
  FROM canon
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY domain
                               ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM enriched
),
kept AS (
  SELECT domain, CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(n_chars) AS BIGINT) AS kept_chars,
         CAST(min(doc_id) AS BIGINT) AS first_kept_doc
  FROM ranked WHERE rn <= {DOMAIN_CAP} GROUP BY domain
),
totals AS (
  SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM enriched GROUP BY domain
)
SELECT t.domain, t.n_docs, k.n_kept,
       CAST(t.n_docs - k.n_kept AS BIGINT) AS n_dropped,
       t.total_chars, k.kept_chars,
       ROUND(CAST(k.kept_chars AS DOUBLE) / t.total_chars, 6) AS kept_char_share,
       k.first_kept_doc
FROM totals t JOIN kept k USING (domain)
"""


# --- quality-classifier calibration sweep ----------------------------------

N_BINS = 20  # score histogram resolution = threshold grid


def q_text_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep calibration readout for the heuristic quality
    score — the eval side of ``text_quality_score`` (VERDICT r12 #5): a
    quality classifier is only useful with a chosen operating point, and
    choosing one needs precision/recall/F1 at every candidate threshold.
    The reference label is ``lang = 'en'`` — an honest target for THIS
    scorer, whose stopword/marker components are English-derived, so the
    sweep measures how sharply the heuristic separates English text.

    The continuous score blends the two rule bands with the clamped
    stopword ratio (so thresholds between the integer rule counts are
    meaningful): 0.3·length_ok + 0.3·tok_len_ok + min(4·stop_ratio, 0.4).
    It is carried in integer THOUSANDTHS (band terms are exact ints;
    the ratio term is floor(n_stop/n_tokens·4000) — one double division
    with the identical expression tree on both engines, then floor), so
    the histogram bin = score_milli·{N_BINS} div 1000 is integer
    arithmetic with zero float-boundary risk at bin edges.

    Scale shape — the part that matters at 100 TB: the corpus never meets
    the threshold grid. Docs fold into a ({N_BINS}-bin, label) histogram
    first (one partial-agg shuffle, output ≤ {N_BINS}·2 rows); the sweep
    is then a broadcast ≥-join of the {N_BINS}-row threshold grid against
    the tiny histogram (BroadcastNestedLoopJoin over bounded metadata —
    the range-join-on-metadata posture, never a corpus operation), and
    the confusion-matrix arithmetic is exact integer sums per threshold."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens("text")
    n_tokens = F.size(toks)
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", ""))
    avg_tok = n_nonspace / n_tokens
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*_STOPWORDS)))
    length_ok = ((n_tokens >= 20) & (n_tokens <= 1000)).cast("int")
    tok_len_ok = ((avg_tok >= 4.0) & (avg_tok <= 12.0)).cast("int")
    score_milli = (
        length_ok * 300
        + tok_len_ok * 300
        + F.least(
            F.floor(n_stop.cast("double") / n_tokens * 4000).cast("int"),
            F.lit(400),
        )
    )
    # pin: the ≤2·N_BINS-row histogram feeds both the sweep join and the
    # positive-total scalar — without it each branch re-tokenizes the
    # corpus (review r13: scan=2 in the plan budget before the pin)
    hist = pin(
        docs.select(
            F.least(
                (score_milli * N_BINS / F.lit(1000)).cast("int"),
                F.lit(N_BINS - 1),
            ).alias("bin"),
            (F.col("lang") == "en").cast("int").alias("label"),
        )
        .groupBy("bin", "label")
        .agg(F.count("*").alias("n"))
    )
    grid = spark.range(N_BINS).select(F.col("id").cast("int").alias("thr_bin"))
    swept = (
        grid.join(F.broadcast(hist), F.col("bin") >= F.col("thr_bin"), "left")
        .groupBy("thr_bin")
        .agg(
            F.sum(F.when(F.col("label") == 1, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.when(F.col("label") == 0, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("fp"),
        )
    )
    pos_total = hist.filter(F.col("label") == 1).agg(
        F.sum("n").cast("bigint").alias("n_pos")
    )
    return (
        swept.crossJoin(F.broadcast(pos_total))
        .select(
            F.round(F.col("thr_bin") / N_BINS, 6).alias("threshold"),
            (F.col("tp") + F.col("fp")).alias("n_flagged"),
            "tp",
            "fp",
            (F.col("n_pos") - F.col("tp")).cast("bigint").alias("fn"),
            # try_divide: a threshold that flags nothing (or an all-negative
            # corpus) must yield NULL like the DuckDB oracle (x/0 -> NULL),
            # not the DIVIDE_BY_ZERO error Spark's default ANSI mode raises
            # (caught by tests/test_round13_edges.py's single-class corpus)
            F.round(
                F.try_divide(F.col("tp"), F.col("tp") + F.col("fp")), 6
            ).alias("precision"),
            F.round(F.try_divide(F.col("tp"), F.col("n_pos")), 6).alias("recall"),
            F.round(
                F.try_divide(
                    2 * F.col("tp"), F.col("tp") + F.col("fp") + F.col("n_pos")
                ),
                6,
            ).alias("f1"),
        )
    )


_ORACLE_QUALITY_CALIBRATION = f"""
WITH scored AS (
  SELECT lang,
         CASE WHEN len({_SQL_TOKS}) BETWEEN 20 AND 1000 THEN 300 ELSE 0 END
         + CASE WHEN CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                     / len({_SQL_TOKS}) BETWEEN 4.0 AND 12.0 THEN 300 ELSE 0 END
         + least(CAST(floor(CAST(len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_SQL_STOPLIST})) AS DOUBLE)
                 / len({_SQL_TOKS}) * 4000) AS INT), 400) AS score_milli
  FROM documents
),
hist AS (
  SELECT least((score_milli * {N_BINS}) // 1000, {N_BINS - 1}) AS bin,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         count(*) AS n
  FROM scored GROUP BY 1, 2
),
grid AS (SELECT CAST(unnest(range(0, {N_BINS})) AS INT) AS thr_bin),
swept AS (
  SELECT g.thr_bin,
         CAST(coalesce(sum(CASE WHEN h.label = 1 THEN h.n END), 0) AS BIGINT) AS tp,
         CAST(coalesce(sum(CASE WHEN h.label = 0 THEN h.n END), 0) AS BIGINT) AS fp
  FROM grid g LEFT JOIN hist h ON h.bin >= g.thr_bin
  GROUP BY g.thr_bin
),
pos AS (SELECT CAST(sum(n) AS BIGINT) AS n_pos FROM hist WHERE label = 1)
SELECT ROUND(CAST(thr_bin AS DOUBLE) / {N_BINS}, 6) AS threshold,
       tp + fp AS n_flagged, tp, fp,
       CAST(n_pos - tp AS BIGINT) AS fn,
       ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision,
       ROUND(CAST(tp AS DOUBLE) / n_pos, 6) AS recall,
       ROUND(2.0 * tp / (tp + fp + n_pos), 6) AS f1
FROM swept, pos
"""


# --- hashed bag-of-words classifier (train + score in one plan) -----------

N_BUCKETS = 256  # feature-hashing width


def q_text_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised hashed bag-of-words classifier, trained and applied in
    one declarative plan — the fastText-style linear quality classifier
    (Joulin et al. 2016, public) that CCNet/LLaMA-style pipelines use for
    corpus filtering, in its closed-form incarnation: Laplace-smoothed
    naive-Bayes log-odds per hashed token bucket (the training step is a
    count aggregation, so the whole train+score cycle is expressible as
    exact SQL — no SGD). Label = ``lang = 'en'``, the same reference
    target as ``text_quality_calibration``, so the two entries are the
    train and eval halves of one classifier workflow.

    Per bucket b: w_b = ln((pos_b+1)·(NEG+B) / ((neg_b+1)·(POS+B))) — a
    single ln of an exact integer ratio (IEEE-identical across engines),
    rounded to 6dp into DECIMAL before the exact per-doc sum, the
    module-standard ln discipline. Doc score = Σ w_bucket(token)/n_tokens
    (mean log-odds per token, scale-free across doc lengths).

    Plan shape at 100 TB: the train side partial-aggregates token
    instances to a ≤2·{B}-row (bucket, label) count table (vocabulary
    never materializes — that is the point of feature hashing); the
    {B}-row weight table broadcasts back onto the token stream, and the
    per-doc fold is one doc_id-keyed shuffle of (doc_id, weight) partial
    sums. Two corpus passes, both narrow until their final keyed agg."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    inst = docs.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("label"),
        F.explode(tokens("text")).alias("w0"),
    ).select(
        "doc_id",
        "label",
        (F.conv(F.substring(F.md5(F.lower("w0")), 1, 6), 16, 10) % N_BUCKETS)
        .cast("int")
        .alias("bucket"),
    )
    # pin: the tiny bucket-count table feeds both the totals scalar and
    # the weight projection — without it each branch re-tokenizes the
    # corpus (three scans observed; with the pin the corpus is read
    # exactly twice, as the docstring's plan shape states)
    counts = pin(
        inst.groupBy("bucket").agg(
            F.sum("label").cast("bigint").alias("pos_b"),
            F.sum(1 - F.col("label")).cast("bigint").alias("neg_b"),
        )
    )
    tot = counts.agg(
        F.sum("pos_b").cast("bigint").alias("pos_t"),
        F.sum("neg_b").cast("bigint").alias("neg_t"),
    )
    weights = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("pos_b") + 1) * (F.col("neg_t") + N_BUCKETS)).cast("double")
                / ((F.col("neg_b") + 1) * (F.col("pos_t") + N_BUCKETS)).cast(
                    "double"
                )
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("w_b"),
    )
    scored = (
        inst.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "label")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            exact_avg_halfup("w_b", 6).alias("mean_log_odds"),
        )
    )
    predicted = (F.col("mean_log_odds") > 0).cast("int")
    return scored.select(
        "doc_id",
        "label",
        "n_tokens",
        "mean_log_odds",
        predicted.alias("predicted"),
        (predicted == F.col("label")).cast("int").alias("correct"),
    )


_ORACLE_HASHED_CLASSIFIER = f"""
WITH inst AS (
  SELECT doc_id,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
         CAST(('0x' || substr(md5(lower(w0)), 1, 6))::BIGINT % {N_BUCKETS} AS INT)
           AS bucket
  FROM (SELECT doc_id, lang, unnest({_SQL_TOKS}) AS w0 FROM documents)
),
counts AS (
  SELECT bucket,
         CAST(sum(label) AS BIGINT) AS pos_b,
         CAST(sum(1 - label) AS BIGINT) AS neg_b
  FROM inst GROUP BY bucket
),
tot AS (
  SELECT CAST(sum(pos_b) AS BIGINT) AS pos_t,
         CAST(sum(neg_b) AS BIGINT) AS neg_t
  FROM counts
),
weights AS (
  SELECT bucket,
         CAST(ROUND(ln(CAST((pos_b + 1) * (neg_t + {N_BUCKETS}) AS DOUBLE)
                       / CAST((neg_b + 1) * (pos_t + {N_BUCKETS}) AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS w_b
  FROM counts CROSS JOIN tot
),
scored AS (
  SELECT i.doc_id, i.label,
         CAST(count(*) AS BIGINT) AS n_tokens,
         {sql_exact_avg_halfup('w.w_b', 6)} AS mean_log_odds
  FROM inst i JOIN weights w USING (bucket)
  GROUP BY i.doc_id, i.label
)
SELECT doc_id, label, n_tokens, mean_log_odds,
       CASE WHEN mean_log_odds > 0 THEN 1 ELSE 0 END AS predicted,
       CASE WHEN (CASE WHEN mean_log_odds > 0 THEN 1 ELSE 0 END) = label
            THEN 1 ELSE 0 END AS correct
FROM scored
"""


# --- DoReMi-style domain-reweighting step ----------------------------------

DOREMI_ETA = 1.0  # multiplicative-weights step size
DOREMI_SMOOTH = 0.1  # uniform smoothing mass
DOREMI_BUDGET = 1_000_000  # tokens to allocate across sources


def q_prep_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi multiplicative-weights domain-reweighting step (Xie et
    al. 2023, public): starting from uniform domain weights, upweight
    each source by exp(η·excess_loss), renormalize, and mix with uniform
    smoothing mass — the principled optimizer-step complement to the
    heuristic mixers already in the registry (`prep_temperature_mix` ∝
    n^α, `prep_training_mix` budget admission). The excess-loss surrogate
    is KL(P_source ‖ P_corpus) over unigram distributions — exactly the
    per-domain excess of cross-entropy under the corpus reference model
    over the in-domain entropy floor, i.e. the deterministic stand-in for
    DoReMi's proxy-minus-reference loss gap that needs no trained model.

    Determinism: the KL front is `prep_source_kl_drift`'s exact recipe
    (integer-ratio ln rounded 6dp into DECIMAL, exact weighted fold);
    exp(η·KL) rounds to 4dp into DECIMAL (the text_perplexity_ngram exp
    discipline — absorbs the 1-ulp JVM/libm divergence); the softmax
    division and smoothing run on those exact decimals with identical
    expression trees; the token budget uses explicit floor(x+0.5)
    half-up so both engines allocate the same integer budget.

    Plan shape at 100 TB: identical to kl_drift — ONE corpus-sized
    (source, word) aggregation (map-side partials), everything after is
    vocabulary- then |sources|-sized with broadcast totals; the
    multiplicative-weights arithmetic runs on a ≤|sources|-row table."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select("source", F.explode(tokens("text")).alias("w0")).select(
        "source", F.lower("w0").alias("w")
    )
    csw = pin(tok.groupBy("source", "w").agg(F.count("*").alias("c_sw")))
    cw = csw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    ns0 = csw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    ns = F.broadcast(ns0)
    n = F.broadcast(csw.agg(F.sum("c_sw").alias("n_corpus")))
    shares = ns0.crossJoin(n).select(
        F.col("source").alias("__sh_source"),
        F.round(
            F.col("n_s").cast("double") / F.col("n_corpus").cast("double"), 6
        ).alias("weight_natural"),
    )
    logr = F.round(
        F.log(
            (F.col("c_sw") * F.col("n_corpus")).cast("double")
            / (F.col("n_s") * F.col("c_w")).cast("double")
        ),
        6,
    )
    kl = (
        csw.join(cw, "w")
        .join(ns, "source")
        .crossJoin(n)
        .select("source", "n_s", (logr.cast("decimal(20,6)") * F.col("c_sw")).alias("t"))
        .groupBy("source", "n_s")
        .agg(F.sum("t").alias("kl_num"))
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_tokens"),
            F.round(F.col("kl_num").cast("double") / F.col("n_s"), 6).alias(
                "excess_loss"
            ),
        )
    )
    boosted = kl.withColumn(
        "__e",
        F.round(F.exp(F.lit(DOREMI_ETA) * F.col("excess_loss")), 4).cast(
            "decimal(18,4)"
        ),
    )
    denom = boosted.agg(
        F.sum("__e").alias("__esum"),
        F.count("*").cast("int").alias("__n_dom"),
    )
    alpha = F.col("__e").cast("double") / F.col("__esum").cast("double")
    w_final = F.round(
        F.lit(1.0 - DOREMI_SMOOTH) * alpha + F.lit(DOREMI_SMOOTH) / F.col("__n_dom"),
        6,
    )
    return boosted.crossJoin(F.broadcast(denom)).join(
        F.broadcast(shares), F.col("source") == F.col("__sh_source")
    ).select(
        "source",
        "n_tokens",
        "excess_loss",
        # the natural token share is the reference mix DoReMi reweights
        # AWAY from — reported per source (data-dependent, unlike the
        # uniform prior 1/D the vacuity sweep rightly flagged as a
        # derived constant)
        "weight_natural",
        w_final.alias("weight_updated"),
        F.floor(w_final * DOREMI_BUDGET + F.lit(0.5))
        .cast("bigint")
        .alias("token_budget"),
    )


_ORACLE_DOREMI = f"""
WITH tok AS (
  SELECT source, lower(w0) AS w
  FROM (SELECT source, unnest({_SQL_TOKS}) AS w0 FROM documents)
),
csw AS (SELECT source, w, count(*) AS c_sw FROM tok GROUP BY 1, 2),
cw AS (SELECT w, sum(c_sw) AS c_w FROM csw GROUP BY 1),
ns AS (SELECT source, sum(c_sw) AS n_s FROM csw GROUP BY 1),
n AS (SELECT sum(c_sw) AS n_corpus FROM csw),
shares AS (
  SELECT source,
         ROUND(CAST(n_s AS DOUBLE) / CAST(n_corpus AS DOUBLE), 6) AS weight_natural
  FROM ns CROSS JOIN n
),
kl AS (
  SELECT csw.source, ns.n_s,
         sum(CAST(ROUND(ln(CAST(c_sw * n_corpus AS DOUBLE)
                           / CAST(n_s * c_w AS DOUBLE)), 6) AS DECIMAL(20,6))
             * c_sw) AS kl_num
  FROM csw JOIN cw USING (w) JOIN ns USING (source) CROSS JOIN n
  GROUP BY csw.source, ns.n_s
),
excess AS (
  SELECT source,
         CAST(n_s AS BIGINT) AS n_tokens,
         ROUND(CAST(kl_num AS DOUBLE) / n_s, 6) AS excess_loss
  FROM kl
),
boosted AS (
  SELECT *, CAST(ROUND(exp({DOREMI_ETA} * excess_loss), 4) AS DECIMAL(18,4)) AS e
  FROM excess
),
denom AS (SELECT sum(e) AS esum, CAST(count(*) AS INT) AS n_dom FROM boosted)
-- smoothing constants cast to DOUBLE: DuckDB decimal literals would give
-- exact-decimal intermediate arithmetic where Spark's F.lit doubles carry
-- IEEE representation error — both engines must walk the same double tree
SELECT source, n_tokens, excess_loss,
       weight_natural,
       ROUND(CAST({1.0 - DOREMI_SMOOTH} AS DOUBLE)
               * (CAST(e AS DOUBLE) / CAST(esum AS DOUBLE))
             + CAST({DOREMI_SMOOTH} AS DOUBLE) / n_dom, 6) AS weight_updated,
       CAST(floor((ROUND(CAST({1.0 - DOREMI_SMOOTH} AS DOUBLE)
                           * (CAST(e AS DOUBLE) / CAST(esum AS DOUBLE))
                         + CAST({DOREMI_SMOOTH} AS DOUBLE) / n_dom, 6))
                  * {DOREMI_BUDGET} + CAST(0.5 AS DOUBLE)) AS BIGINT)
         AS token_budget
FROM boosted CROSS JOIN denom JOIN shares USING (source)
"""


# --- corpus-frequency boilerplate removal ----------------------------------

BOILER_DF = 3  # passages appearing in >= this many DISTINCT docs are
#               boilerplate (fires at all 3 SFs: 9/7/45 qualifying passages
#               at sf0.001/0.01/0.1 on the synthetic corpus)


def q_text_boilerplate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate removal, CCNet-style (Wenzek et al.
    2020, public): a passage repeated across MANY documents is template
    chrome (headers, footers, cookie banners), and the cleanup drops EVERY
    copy — including the first. That removal rule is what separates this
    from ``dedup_exact_substr``: there, a passage keeps one canonical owner
    and later instances are dupes; here, a passage whose DISTINCT-doc
    frequency reaches ``BOILER_DF`` is noise everywhere it appears.
    (CCNet's unit is the newline paragraph; this corpus has no newlines, so
    the unit is the same non-overlapping PASSAGE_W-token passage the
    exact-substring entry fingerprints — one shared definition of
    "passage".)

    Output: one row per doc with >= 1 full passage — passage count,
    boilerplate-passage count, boilerplate chars, and the boilerplate
    share of the doc's full passages.

    Plan shape at 100 TB: passage enumeration is a narrow Generate; the
    doc-frequency group-by is the one corpus-sized shuffle and its
    count(DISTINCT doc) expands to the standard two-phase partial
    aggregate (the exchange carries (fp, doc) partials, never raw
    passages); the instance → frequency probe re-keys on the same fp
    (exchange reuse), and the per-doc rollup partials map-side. No
    all-pairs stage anywhere — frequency thresholding is embarrassingly
    group-parallel."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id", "lang", "source", tokens("text").alias("t")
    ).filter(F.size("t") >= PASSAGE_W)
    passages = F.transform(
        F.sequence(F.lit(0), (F.size("t") / PASSAGE_W).cast("int") - 1),
        lambda i: F.array_join(F.slice(F.col("t"), i * PASSAGE_W + 1, PASSAGE_W), " "),
    )
    inst = pin(
        base.select(
            "doc_id",
            "lang",
            "source",
            F.posexplode(passages).alias("pos", "passage"),
        ).select(
            "doc_id",
            "lang",
            "source",
            F.length("passage").alias("p_chars"),
            F.md5(F.lower("passage")).alias("fp"),
        )
    )
    freq = inst.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("df_docs"),
    )
    flagged = inst.join(freq, "fp").withColumn(
        "is_boiler", (F.col("df_docs") >= BOILER_DF).cast("int")
    )
    return (
        flagged.groupBy("doc_id", "lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_passages"),
            F.sum("is_boiler").cast("bigint").alias("n_boiler"),
            F.sum(F.col("is_boiler") * F.col("p_chars"))
            .cast("bigint")
            .alias("boiler_chars"),
        )
        .withColumn(
            "boiler_share",
            F.round(F.col("n_boiler") / F.col("n_passages"), 6),
        )
    )


_ORACLE_BOILERPLATE = f"""
WITH base AS (
  SELECT doc_id, lang, source, {_SQL_TOKS} AS t
  FROM documents
  WHERE len({_SQL_TOKS}) >= {PASSAGE_W}
),
inst AS (
  SELECT doc_id, lang, source,
         length(array_to_string(t[ci*{PASSAGE_W}+1 : ci*{PASSAGE_W}+{PASSAGE_W}], ' ')) AS p_chars,
         md5(lower(array_to_string(t[ci*{PASSAGE_W}+1 : ci*{PASSAGE_W}+{PASSAGE_W}], ' '))) AS fp
  FROM (SELECT doc_id, lang, source, t,
               unnest(range(0, len(t) // {PASSAGE_W})) AS ci
        FROM base)
),
freq AS (
  SELECT fp, count(DISTINCT doc_id) AS df_docs FROM inst GROUP BY fp
)
SELECT i.doc_id, i.lang, i.source,
       CAST(count(*) AS BIGINT) AS n_passages,
       CAST(sum(CASE WHEN f.df_docs >= {BOILER_DF} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       CAST(sum(CASE WHEN f.df_docs >= {BOILER_DF} THEN i.p_chars ELSE 0 END)
            AS BIGINT) AS boiler_chars,
       ROUND(CAST(sum(CASE WHEN f.df_docs >= {BOILER_DF} THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS boiler_share
FROM inst i JOIN freq f USING (fp)
GROUP BY i.doc_id, i.lang, i.source
"""


# --- k-anonymity audit ------------------------------------------------------

K_ANON = 5  # the classic re-identification floor (Sweeney 2002)


def q_dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002, public) over the customer table —
    the privacy readout a pipeline runs BEFORE releasing person-adjacent
    training data: group rows by their quasi-identifier tuple (nation,
    market segment, account-balance band), and report the equivalence-
    class-size histogram. A row in a class smaller than ``K_ANON`` is
    re-identifiable by joining those public attributes to an external
    dataset; k-anonymity of the release = the smallest class size.

    Output: one row per distinct class size — number of classes, rows in
    them, their share of the table, and the at-risk flag
    (class_size < K_ANON).

    Plan shape at 100 TB: the class group-by keys on the QI tuple whose
    cardinality is bounded by the attribute DOMAINS (25 nations x 5
    segments x 11 balance bands), not by the row count, and both its
    aggregates partial map-side — the exchange carries at most |QI-domain|
    rows per map partition. The histogram re-group and the one-row total
    (broadcast back for the share) are control-plane-sized. Nothing here
    grows with the corpus except the first map pass."""
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(F.count("*").cast("bigint").alias("class_size"))
    hist = classes.groupBy("class_size").agg(
        F.count("*").cast("bigint").alias("n_classes"),
        F.sum("class_size").cast("bigint").alias("n_rows"),
    )
    total = cust.agg(F.count("*").cast("bigint").alias("n_total"))
    return hist.crossJoin(F.broadcast(total)).select(
        "class_size",
        "n_classes",
        "n_rows",
        F.round(F.col("n_rows") / F.col("n_total"), 6).alias("row_share"),
        (F.col("class_size") < K_ANON).alias("at_risk"),
    )


_ORACLE_K_ANONYMITY = f"""
WITH cls AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
         CAST(count(*) AS BIGINT) AS class_size
  FROM customer
  GROUP BY 1, 2, 3
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM customer)
SELECT class_size,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       ROUND(CAST(sum(class_size) AS DOUBLE) / n_total, 6) AS row_share,
       class_size < {K_ANON} AS at_risk
FROM cls CROSS JOIN tot
GROUP BY class_size, n_total
"""


# --- data-constrained epoch allocation --------------------------------------

EPOCH_BUDGET_MULT = 2  # token budget = this x the corpus total (the
#                        data-constrained regime: repetition is forced)


def q_prep_epoch_allocator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch allocation (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models", public): when the token
    budget exceeds what a slice can supply, that slice repeats — and
    repeated epochs are worth less than fresh ones. Per (lang, source)
    slice: split a corpus-level budget of ``EPOCH_BUDGET_MULT`` x total
    tokens EQUALLY across slices (the balanced-mix scenario), report how
    many epochs each slice must run to absorb its allocation, and the
    allocation's effective value under a geometric diminishing-returns
    schedule — epoch k of the same data is worth ``0.5^(k-1)`` of a fresh
    epoch. (The paper fits an exponential decay with R* ~= 15; the dyadic
    ratio is the deterministic-arithmetic stand-in: 0.5^k, integer k, is
    exactly representable, so both engines compute bit-identical doubles
    with no libm call — the same reason ``prep_temperature_mix`` uses
    sqrt.) effective = 2U(1 - 0.5^E) + frac * U * 0.5^E, where U = slice
    tokens, E = full epochs (integer division), frac = the partial-epoch
    remainder.

    Output: one row per (lang, source) — docs, tokens, allocation,
    epochs, full_epochs, effective_tokens, utilization (effective /
    allocated: 1.0 while fresh, decaying as repetition dominates).

    Plan shape at 100 TB: ONE corpus-sized aggregation — the (lang,
    source) token rollup, partial map-side, exchange bounded by the
    slice-key domain. Everything after (total, n_slices, the closed-form
    epoch math) is arithmetic on that slice table with two broadcast
    one-row scalars. No second corpus pass, no window, no join keyed on
    data."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    slices = pin(
        docs.groupBy("lang", "source").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.size(tokens("text"))).cast("bigint").alias("n_tokens"),
        )
    )
    tot = F.broadcast(
        slices.agg(
            F.sum("n_tokens").cast("bigint").alias("t_corpus"),
            F.count("*").cast("bigint").alias("n_slices"),
        )
    )
    u = F.col("n_tokens").cast("double")
    # integer division end-to-end: CAST(double AS BIGINT) truncates on
    # Spark but ROUNDS on DuckDB, so a float-divide-then-cast allocation
    # would drift by one token between engines. nullif/try_divide: a slice
    # whose docs all tokenize to ZERO tokens must yield NULL epoch columns
    # like the DuckDB oracle (x/0 -> NULL), not the DIVIDE_BY_ZERO error
    # Spark's default ANSI mode raises (the text_quality_calibration
    # lesson; pinned by tests/test_round13_edges.py's empty-text slice)
    with_alloc = slices.crossJoin(tot).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.expr(f"({EPOCH_BUDGET_MULT} * t_corpus) DIV n_slices").alias(
            "alloc_tokens"
        ),
        F.expr(
            f"(({EPOCH_BUDGET_MULT} * t_corpus) DIV n_slices)"
            " DIV nullif(n_tokens, 0)"
        ).alias("full_epochs"),
    )
    a = F.col("alloc_tokens").cast("double")
    decay = F.pow(F.lit(0.5), F.col("full_epochs"))
    frac = F.try_divide(
        (F.col("alloc_tokens") - F.col("full_epochs") * F.col("n_tokens")).cast(
            "double"
        ),
        u,
    )
    effective = 2 * u * (1 - decay) + frac * u * decay
    return with_alloc.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "alloc_tokens",
        F.round(F.try_divide(a, u), 6).alias("epochs"),
        "full_epochs",
        F.round(effective, 6).alias("effective_tokens"),
        F.round(F.try_divide(effective, a), 6).alias("utilization"),
    )


_ORACLE_EPOCH_ALLOCATOR = f"""
WITH slices AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS t_corpus,
         CAST(count(*) AS BIGINT) AS n_slices
  FROM slices
),
alloced AS (
  SELECT lang, source, n_docs, n_tokens,
         ({EPOCH_BUDGET_MULT} * t_corpus) // n_slices AS alloc_tokens,
         (({EPOCH_BUDGET_MULT} * t_corpus) // n_slices)
           // nullif(n_tokens, 0) AS full_epochs
  FROM slices CROSS JOIN tot
)
-- Every division is nullif-guarded to match Spark's try_divide (NULL on
-- zero). DuckDB >= 1.1 defaults ieee_floating_point_ops=true, where a bare
-- DOUBLE/0 returns inf instead of erroring — an unguarded division here
-- would silently diverge from the NULL the Spark side produces on a
-- zero-token slice (ADVICE r13).
SELECT lang, source, n_docs, n_tokens, alloc_tokens,
       ROUND(CAST(alloc_tokens AS DOUBLE) / nullif(n_tokens, 0), 6) AS epochs,
       full_epochs,
       ROUND(2 * CAST(n_tokens AS DOUBLE) * (1 - power(0.5, full_epochs))
             + (CAST(alloc_tokens - full_epochs * n_tokens AS DOUBLE)
                / nullif(n_tokens, 0))
               * n_tokens * power(0.5, full_epochs), 6) AS effective_tokens,
       ROUND((2 * CAST(n_tokens AS DOUBLE) * (1 - power(0.5, full_epochs))
              + (CAST(alloc_tokens - full_epochs * n_tokens AS DOUBLE)
                 / nullif(n_tokens, 0))
                * n_tokens * power(0.5, full_epochs))
             / CAST(nullif(alloc_tokens, 0) AS DOUBLE), 6) AS utilization
FROM alloced
"""


# --- CCNet-style perplexity bucketing ---------------------------------------


def q_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM bucketing (Wenzek et al. 2020, "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data", public): score
    every passage with a corpus bigram LM and split each language's
    passages into head / middle / tail terciles by score — the three-way
    quality cut CCNet feeds to its sampling stage (keep head, downsample
    middle, drop tail). CCNet's unit is the newline paragraph and its LM
    is KenLM; this corpus has no newlines, so the unit is the shared
    non-overlapping PASSAGE_W-token passage (one definition of "passage"
    across the curation family), and the LM is the corpus bigram
    transition table — integer-exact, like ``text_bigram_coherence``.

    A passage's score is the integer mean of its within-passage bigram
    transition probabilities, p_ppm = (1e6·c2(w1,w2)) DIV c1(w1) over
    corpus counts (every passage bigram exists in the corpus table by
    construction, so the count join never misses). Terciles use the
    distributed rank, NOT a per-lang window: single-digit language
    cardinality would funnel each language's whole passage set through
    one sort task, so the rank runs through
    :func:`operators.grouped_global_rank` (the TeraSort recipe — one
    range exchange, a hot language spreads over many tasks) with the
    total order (score desc, doc_id, pos).

    Output: one row per (lang, bucket) — passage/doc counts and the
    bucket's score stats, the table that calibrates where to put the
    keep/drop thresholds.

    Plan shape at 100 TB: one explode pass feeds the two vocabulary-sized
    count aggregates (map-side partials); passage bigrams hash-join the
    broadcast-or-keyed count tables; the per-passage rollup keys on
    (doc_id, pos); the rank is ONE range exchange over passages; the
    final rollup keys on the tiny (lang, bucket) domain. No window over
    data-sized input anywhere."""
    from . import grouped_global_rank

    docs = spread(
        load_table(spark, sf_dir, "documents").filter(
            # >= 2 nonempty tokens, as a codegen rlike so nothing expensive
            # is pushed below the spread() exchange (cf. lsh_front)
            F.col("text").rlike(r"\S\s+\S")
        )
    )
    lt = F.transform(tokens("text"), lambda t: F.lower(t))
    d = pin(docs.select("doc_id", "lang", lt.alias("lt")))
    # corpus bigram LM: counts over ALL adjacent pairs of every doc
    inst_all = d.select(
        F.explode(F.expr("sequence(1, size(lt) - 1)")).alias("i"), "lt"
    ).select(
        F.expr("element_at(lt, i)").alias("w1"),
        F.expr("element_at(lt, i + 1)").alias("w2"),
    )
    c2 = pin(inst_all.groupBy("w1", "w2").agg(F.count("*").alias("c2")))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    # within-passage bigram instances: passage p (0-based) covers tokens
    # [p*W+1 .. p*W+W]; bigram position j stays inside a passage iff
    # j % W != 0 (j and j+1 in the same passage)
    pinst = (
        d.filter(F.size("lt") >= PASSAGE_W)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    "sequence(1, CAST((size(lt) DIV "
                    f"{PASSAGE_W}) * {PASSAGE_W} - 1 AS INT))"
                )
            ).alias("j"),
            "lt",
        )
        .filter(F.col("j") % PASSAGE_W != 0)
        .select(
            "doc_id",
            "lang",
            F.expr(f"CAST((j - 1) DIV {PASSAGE_W} AS INT)").alias("pos"),
            F.expr("element_at(lt, j)").alias("w1"),
            F.expr("element_at(lt, j + 1)").alias("w2"),
        )
    )
    # r15 (guide §2.3/§2.4): attach the unigram total to the bigram table
    # FIRST — a vocab²-vs-vocab join — and precompute p_ppm per (w1, w2),
    # so the corpus-sized passage-bigram stream exchanges ONCE against the
    # finished LM instead of twice (the former pinst⋈c2⋈c1 chain shuffled
    # the big side by (w1,w2) and then again by w1). p_ppm is a function
    # of corpus counts only, so per-instance values are identical.
    lm = c2.join(c1, "w1").select(
        "w1", "w2", F.expr("(1000000 * c2) DIV c1").alias("p_ppm")
    )
    scored = (
        pinst.join(lm, ["w1", "w2"])
        .groupBy("doc_id", "lang", "pos")
        .agg(F.expr("CAST(sum(p_ppm) DIV count(*) AS BIGINT)").alias("score_ppm"))
    )
    ranked = grouped_global_rank(
        scored.withColumn("__negs", -F.col("score_ppm")),
        "lang",
        ["__negs", "doc_id", "pos"],
        "__rk",
    )
    n_lang = scored.groupBy("lang").agg(F.count("*").alias("__n"))
    bucket = (
        F.when(F.col("__rk") * 3 <= F.col("__n"), F.lit("head"))
        .when(F.col("__rk") * 3 <= 2 * F.col("__n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ranked.join(F.broadcast(n_lang), "lang")
        .withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_passages"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.expr("CAST(sum(score_ppm) DIV count(*) AS BIGINT)").alias(
                "mean_score_ppm"
            ),
            F.min("score_ppm").cast("bigint").alias("min_score_ppm"),
            F.max("score_ppm").cast("bigint").alias("max_score_ppm"),
        )
    )


_SQL_LOWER_TOKS_CC = f"list_transform({_SQL_TOKS}, t -> lower(t))"

_ORACLE_CCNET_BUCKETS = f"""
WITH d AS (
  SELECT doc_id, lang, {_SQL_LOWER_TOKS_CC} AS lt
  FROM documents WHERE len({_SQL_TOKS}) >= 2
),
inst AS (
  SELECT lt[i] AS w1, lt[i + 1] AS w2 FROM (
    SELECT lt, CAST(unnest(range(1, len(lt))) AS INT) AS i FROM d
  )
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM inst GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
pinst AS (
  SELECT doc_id, lang, CAST((j - 1) // {PASSAGE_W} AS INT) AS pos,
         lt[j] AS w1, lt[j + 1] AS w2
  FROM (
    SELECT doc_id, lang, lt,
           CAST(unnest(range(1, (len(lt) // {PASSAGE_W}) * {PASSAGE_W})) AS INT) AS j
    FROM d WHERE len(lt) >= {PASSAGE_W}
  )
  WHERE j % {PASSAGE_W} <> 0
),
scored AS (
  SELECT doc_id, lang, pos,
         CAST(sum((1000000 * c2.c2) // c1.c1) // count(*) AS BIGINT) AS score_ppm
  FROM pinst JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY lang
                            ORDER BY score_ppm DESC, doc_id, pos) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM scored
)
SELECT lang,
       CASE WHEN rk * 3 <= n THEN 'head'
            WHEN rk * 3 <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_passages,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(score_ppm) // count(*) AS BIGINT) AS mean_score_ppm,
       CAST(min(score_ppm) AS BIGINT) AS min_score_ppm,
       CAST(max(score_ppm) AS BIGINT) AS max_score_ppm
FROM ranked
GROUP BY 1, 2
"""


# --- Gopher-style repetition filters ----------------------------------------

REP_NS = (2, 3)  # word n-gram orders for the repetition battery


def q_text_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filters (Rae et al. 2021, "Scaling
    Language Models: ... Gopher", Appendix A quality heuristics —
    public): per document, for each n in ``REP_NS``, (a) the fraction of
    n-gram INSTANCES that are repeats of an earlier instance
    (instances − distinct, over instances) and (b) the fraction of the
    document's CHARACTERS covered by its single most frequent n-gram
    (count × gram length over text length) — the two signals Gopher
    thresholds to drop template/boilerplate-looped documents that
    corpus-LEVEL dedup never sees (the repeats are inside one doc). All
    ratios exact integer ppm; the top gram is deterministic (max count,
    then lexicographically smallest gram).

    Plan shape at 100 TB: per-doc n-gram instances explode once per n
    (constant fan-out); the (doc_id, gram) count is the one corpus-sized
    shuffle and partial-aggregates map-side; the per-doc argmax
    re-aggregates on doc_id (top_cnt max, then a min over the grams at
    top_cnt via a second pass over the SAME keyed table — exchange
    reuse); everything downstream is doc-keyed. Embarrassingly
    group-parallel, no windows, no cross-doc state."""
    docs = spread(
        load_table(spark, sf_dir, "documents").filter(
            F.col("text").rlike(r"\S\s+\S")  # >= 2 tokens, codegen predicate
        )
    )
    lt = F.transform(tokens("text"), lambda t: F.lower(t))
    d = pin(
        docs.select(
            "doc_id", "lang", F.length("text").alias("txt_chars"), lt.alias("lt")
        )
    )
    out = d.select("doc_id", "lang", "txt_chars")
    for n in REP_NS:
        inst = (
            d.filter(F.size("lt") >= n)
            .select(
                "doc_id",
                F.explode(
                    F.expr(f"sequence(1, CAST(size(lt) - {n - 1} AS INT))")
                ).alias("i"),
                "lt",
            )
            .select(
                "doc_id",
                F.expr(
                    f"array_join(slice(lt, i, {n}), ' ')"
                ).alias("g"),
            )
        )
        # r15 (guide §2.4): the per-doc argmax ("max count, then
        # lexicographically smallest gram") folds into the SAME per-doc
        # aggregation as min over (−cnt, g) structs — field-order struct
        # comparison picks the largest cnt first, then the smallest gram —
        # where the former shape pinned the (doc_id, gram) counts and
        # joined them back against their own max to break ties: one
        # aggregation replaces a pin materialization + join + second
        # aggregation per n, and the join's doc_id exchange is gone.
        gc = inst.groupBy("doc_id", "g").agg(F.count("*").alias("cnt"))
        per_doc = gc.groupBy("doc_id").agg(
            F.sum("cnt").alias("n_inst"),
            F.count("*").alias("n_distinct"),
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), F.col("g").alias("g"))
            ).alias("top"),
        )
        stats = per_doc.select(
            "doc_id",
            F.expr(
                "CAST((n_inst - n_distinct) * 1000000 DIV n_inst AS BIGINT)"
            ).alias(f"dup{n}_ppm"),
            (-F.col("top.nc")).cast("bigint").alias(f"top{n}_cnt"),
            F.length("top.g").alias(f"__len{n}"),
        )
        out = out.join(stats, "doc_id", "left").withColumn(
            f"top{n}_char_ppm",
            F.expr(
                f"CAST(coalesce(top{n}_cnt * __len{n}, 0) * 1000000"
                " DIV txt_chars AS BIGINT)"
            ),
        ).drop(f"__len{n}")
    return out.select(
        "doc_id",
        "lang",
        F.col("txt_chars").cast("bigint").alias("txt_chars"),
        F.coalesce("dup2_ppm", F.lit(0)).cast("bigint").alias("dup2_ppm"),
        F.coalesce("top2_cnt", F.lit(0)).cast("bigint").alias("top2_cnt"),
        "top2_char_ppm",
        F.coalesce("dup3_ppm", F.lit(0)).cast("bigint").alias("dup3_ppm"),
        F.coalesce("top3_cnt", F.lit(0)).cast("bigint").alias("top3_cnt"),
        "top3_char_ppm",
    )


def _sql_rep_branch(n: int) -> str:
    return f"""
inst{n} AS (
  SELECT doc_id, array_to_string(lt[i : i + {n - 1}], ' ') AS g
  FROM (SELECT doc_id, lt,
               CAST(unnest(range(1, len(lt) - {n - 2})) AS INT) AS i
        FROM d WHERE len(lt) >= {n})
),
gc{n} AS (SELECT doc_id, g, count(*) AS cnt FROM inst{n} GROUP BY 1, 2),
pd{n} AS (
  SELECT doc_id, sum(cnt) AS n_inst, count(*) AS n_distinct,
         max(cnt) AS top_cnt
  FROM gc{n} GROUP BY 1
),
tg{n} AS (
  SELECT gc.doc_id, min(gc.g) AS top_g
  FROM gc{n} gc JOIN pd{n} pd
    ON gc.doc_id = pd.doc_id AND gc.cnt = pd.top_cnt
  GROUP BY 1
),
st{n} AS (
  SELECT pd.doc_id,
         CAST((pd.n_inst - pd.n_distinct) * 1000000 // pd.n_inst AS BIGINT)
           AS dup{n}_ppm,
         CAST(pd.top_cnt AS BIGINT) AS top{n}_cnt,
         length(tg.top_g) AS len{n}
  FROM pd{n} pd JOIN tg{n} tg ON pd.doc_id = tg.doc_id
)"""


_ORACLE_REPETITION = f"""
WITH d AS (
  SELECT doc_id, lang, length(text) AS txt_chars,
         list_transform({_SQL_TOKS}, t -> lower(t)) AS lt
  FROM documents
  WHERE len({_SQL_TOKS}) >= 2
),{_sql_rep_branch(2)},{_sql_rep_branch(3)}
SELECT d.doc_id, d.lang,
       CAST(d.txt_chars AS BIGINT) AS txt_chars,
       CAST(COALESCE(s2.dup2_ppm, 0) AS BIGINT) AS dup2_ppm,
       CAST(COALESCE(s2.top2_cnt, 0) AS BIGINT) AS top2_cnt,
       CAST(COALESCE(s2.top2_cnt * s2.len2, 0) * 1000000 // d.txt_chars
            AS BIGINT) AS top2_char_ppm,
       CAST(COALESCE(s3.dup3_ppm, 0) AS BIGINT) AS dup3_ppm,
       CAST(COALESCE(s3.top3_cnt, 0) AS BIGINT) AS top3_cnt,
       CAST(COALESCE(s3.top3_cnt * s3.len3, 0) * 1000000 // d.txt_chars
            AS BIGINT) AS top3_char_ppm
FROM d
LEFT JOIN st2 s2 ON d.doc_id = s2.doc_id
LEFT JOIN st3 s3 ON d.doc_id = s3.doc_id
"""


QUERIES = {
    "dedup_exact_substr": q_dedup_exact_substr,
    "prep_domain_caps": q_prep_domain_caps,
    "text_quality_calibration": q_text_quality_calibration,
    "text_hashed_classifier": q_text_hashed_classifier,
    "prep_doremi_step": q_prep_doremi_step,
    "text_boilerplate_passages": q_text_boilerplate_passages,
    "dq_k_anonymity": q_dq_k_anonymity,
    "prep_epoch_allocator": q_prep_epoch_allocator,
    "text_ccnet_buckets": q_text_ccnet_buckets,
    "text_repetition_filters": q_text_repetition_filters,
}

ORACLE = {
    "dedup_exact_substr": _ORACLE_EXACT_SUBSTR,
    "prep_domain_caps": _ORACLE_DOMAIN_CAPS,
    "text_quality_calibration": _ORACLE_QUALITY_CALIBRATION,
    "text_hashed_classifier": _ORACLE_HASHED_CLASSIFIER,
    "prep_doremi_step": _ORACLE_DOREMI,
    "text_boilerplate_passages": _ORACLE_BOILERPLATE,
    "dq_k_anonymity": _ORACLE_K_ANONYMITY,
    "prep_epoch_allocator": _ORACLE_EPOCH_ALLOCATOR,
    "text_ccnet_buckets": _ORACLE_CCNET_BUCKETS,
    "text_repetition_filters": _ORACLE_REPETITION,
}
