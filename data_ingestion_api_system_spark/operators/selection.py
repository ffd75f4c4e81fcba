"""Data-selection operators — the 'which documents make the training
mix' layer, split out of ``prep`` in round 7 (the module had grown to 21
operators; VERDICT r6 #8): quality-gated budgeted selection
(``prep_training_mix``), benchmark decontamination
(``prep_decontaminate``, GPT-3/PaLM-style n-gram overlap exclusion),
temperature-based language mixing (``prep_temperature_mix``, the
mT5/CC-100 recipe), and DSIR-style importance weighting
(``prep_dsir_weights``, Xie et al. 2023). Registry names are unchanged —
only the module moved; the driver window sees the same entries.

All four share the corpus-vs-exemplar shape: a small target set (probe
slice here, curated text in production) broadcasts against a narrow
tokenize→n-gram corpus pass with one keyed shuffle — the plan family that
holds at 100 TB. Scale notes inline per operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import sql_word_ngrams as _sql_word_ngrams
from ..functions import tokens
from ..functions import word_ngrams as _word_ngrams
from ..tables import load_table
from . import global_ntile, pin, spread
from .dedup import _spark_simhash_expr, _sql_simhash_bits
from .text import _SQL_STOPLIST, _SQL_TOKS, STOPWORDS

QUALITY_MIN = 2  # keep docs scoring >= 2 of the 3 heuristic rules
TOKEN_BUDGET = 3000  # whitespace tokens selected per language bucket


def q_prep_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-mix selection over ``documents``:

    1. score every doc with the 3-rule quality stack (same arithmetic as
       ``text_quality_score``) and keep score >= QUALITY_MIN;
    2. exact-dedup on the normalized-text fingerprint (keep min doc_id);
    3. near-dup drop on the 16-bit SimHash signature (keep min doc_id);
    4. per language, admit docs in (quality DESC, doc_id ASC) order while
       the running token total stays within TOKEN_BUDGET.

    Plan shape at 100 TB: stages 1-3 are narrow per-row expressions plus
    two hash shuffles (fingerprint, simhash) with map-side partial mins.
    Stage 4's running budget total is the trap: ``lang`` has single-digit
    cardinality, so a ``SUM OVER (PARTITION BY lang)`` window would funnel
    each language's whole surviving corpus through ONE sort task — since
    round 12 it runs through :func:`operators.grouped_global_cumsum`
    (range exchange on (lang, quality DESC via negation, doc_id) +
    broadcast per-(partition, lang) prefix offsets), so a hot language
    spreads over many partitions; the admission order itself stays the
    sequential prefix by construction (same property the reference's
    priority queue A6 ordering relies on, src/app.js:36-42)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens("text")
    n_tokens = F.size(toks)
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", ""))
    avg_tok = n_nonspace / n_tokens
    stop_ratio = (
        F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))) / n_tokens
    )
    score = (
        ((n_tokens >= 20) & (n_tokens <= 1000)).cast("int")
        + ((avg_tok >= 2.5) & (avg_tok <= 12.0)).cast("int")
        + (stop_ratio > 0.01).cast("int")
    )
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    scored = docs.select(
        "doc_id",
        "lang",
        "text",
        score.alias("quality_score"),
        n_tokens.cast("long").alias("n_tokens"),
        F.md5(norm).alias("fingerprint"),
    ).filter(F.col("quality_score") >= QUALITY_MIN)
    exact = scored.withColumn(
        "canon_fp", F.min("doc_id").over(Window.partitionBy("fingerprint"))
    ).filter(F.col("doc_id") == F.col("canon_fp"))
    near = (
        exact.withColumn("simhash", F.expr(_spark_simhash_expr()))
        .withColumn("canon_sh", F.min("doc_id").over(Window.partitionBy("simhash")))
        .filter(F.col("doc_id") == F.col("canon_sh"))
    )
    from . import grouped_global_cumsum

    # admission order is (quality DESC, doc_id ASC); the helper range-
    # partitions ascending, so quality enters negated as a derived column.
    # Project FIRST: the helper pin()s its range-partitioned input, so the
    # persisted payload must be the four output columns, not the corpus
    # text + dedup scaffolding (same rule global_ntile's docstring states)
    ordered = near.select(
        "doc_id", "lang", "quality_score", "n_tokens"
    ).withColumn("__negq", -F.col("quality_score"))
    return (
        grouped_global_cumsum(
            ordered, "lang", ["__negq", "doc_id"], "n_tokens", "cum_tokens"
        )
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "lang", "quality_score", "n_tokens", "cum_tokens")
    )


_SQL_QUALITY_SCORE = f"""
  (CASE WHEN len({_SQL_TOKS}) BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
   + CASE WHEN CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
              / len({_SQL_TOKS}) BETWEEN 2.5 AND 12.0 THEN 1 ELSE 0 END
   + CASE WHEN CAST(len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_SQL_STOPLIST})) AS DOUBLE)
              / len({_SQL_TOKS}) > 0.01 THEN 1 ELSE 0 END)"""


_ORACLE_TRAINING_MIX = f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         {_SQL_QUALITY_SCORE} AS quality_score,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
  FROM documents
),
q AS (SELECT * FROM scored WHERE quality_score >= {QUALITY_MIN}),
exact AS (
  SELECT * FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS canon_fp FROM q)
  WHERE doc_id = canon_fp
),
sig AS (SELECT *, {_sql_simhash_bits()} AS simhash FROM exact),
near AS (
  SELECT * FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY simhash) AS canon_sh FROM sig)
  WHERE doc_id = canon_sh
),
sel AS (
  SELECT doc_id, lang, quality_score, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang
                                  ORDER BY quality_score DESC, doc_id ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM near
)
SELECT doc_id, lang, quality_score, n_tokens, cum_tokens
FROM sel WHERE cum_tokens <= {TOKEN_BUDGET}
"""


DECON_NGRAM = 3  # word n-gram order; production pipelines use 8-13
DECON_PROBE_MOD = 7  # doc_id % MOD == 0 → benchmark probe set (deterministic)


def q_prep_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the GPT-3/PaLM-style training-hygiene
    step: flag every corpus document sharing at least one word
    ``DECON_NGRAM``-gram with a held-out benchmark set, so evaluation data
    can be excluded from the training mix. The benchmark here is the
    deterministic probe slice ``doc_id % DECON_PROBE_MOD == 0``; in
    production it is the eval suites themselves.

    Plan shape at 100 TB: the benchmark n-gram set is small by nature
    (eval suites, not the corpus), so it BROADCASTS — the corpus side is a
    narrow tokenize→n-gram→explode with a map-side broadcast-hash semi
    count, then ONE keyed shuffle (groupBy doc_id) whose input is already
    reduced to matched grams only. If the benchmark ever outgrows the
    broadcast threshold, the same plan degrades gracefully to a hash
    semi-join on the gram — never all-pairs. Production uses n=8..13
    (DECON_NGRAM=3 here because the synthetic corpus draws from a ~40-word
    vocabulary; 8-grams would never collide)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # pin: the distinct-gram arrays feed two exploding branches (benchmark
    # set + corpus) — and Generate evaluates an expensive generator child
    # lazily, re-building every gram string per consumer (the same
    # pathology measured in prep_dsir_weights: 7.5 s → 2 s once the arrays
    # are materialized ahead of the explode). The pin stores the reduced
    # (doc_id, lang, gs) projection, not the text.
    ngr = pin(
        docs.select(
            "doc_id",
            "lang",
            _word_ngrams(tokens(F.col("text")), DECON_NGRAM).alias("raw_gs"),
        ).select("doc_id", "lang", F.array_distinct("raw_gs").alias("gs"))
    )
    is_probe = F.col("doc_id") % DECON_PROBE_MOD == 0
    bench = (
        ngr.filter(is_probe)
        .select(F.explode("gs").alias("g"))
        .distinct()
    )
    corpus = ngr.filter(~is_probe)
    hits = (
        corpus.select("doc_id", F.explode("gs").alias("g"))
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return corpus.join(hits, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.size("gs").cast("bigint").alias("n_ngrams"),
        F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
        (F.coalesce("n_overlap", F.lit(0)) > 0).cast("int").alias("contaminated"),
    )


_ORACLE_DECON = f"""
WITH toks AS (
  SELECT doc_id, lang, {_SQL_TOKS} AS t FROM documents
),
ng AS (
  SELECT doc_id, lang,
         list_distinct({_sql_word_ngrams('t', DECON_NGRAM)}) AS gs
  FROM toks
),
bench AS (
  SELECT DISTINCT unnest(gs) AS g FROM ng WHERE doc_id % {DECON_PROBE_MOD} = 0
),
corpus AS (SELECT * FROM ng WHERE doc_id % {DECON_PROBE_MOD} <> 0),
hits AS (
  SELECT c.doc_id, count(*) AS n_overlap
  FROM (SELECT doc_id, unnest(gs) AS g FROM corpus) c
  JOIN bench b ON c.g = b.g
  GROUP BY c.doc_id
)
SELECT c.doc_id, c.lang,
       CAST(len(c.gs) AS BIGINT) AS n_ngrams,
       CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       CASE WHEN COALESCE(h.n_overlap, 0) > 0 THEN 1 ELSE 0 END AS contaminated
FROM corpus c LEFT JOIN hits h USING (doc_id)
"""


MIX_EPOCH_DOCS = 100_000  # documents drawn per training epoch


def q_prep_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language mixing (the mT5/CC-100 recipe): sampling
    probability per language ∝ n_tokens^α with α = 0.5, which upsamples
    low-resource languages relative to their natural share. Emits per
    language the corpus stats, the natural (proportional) share, the
    tempered sampling probability, and the resulting per-epoch document
    draw — the table a training dataloader consumes.

    α = 0.5 (sqrt) deliberately: IEEE-754 sqrt is correctly rounded, so
    both engines derive bit-identical weights — pow(x, 0.7) is NOT so
    guaranteed and could drift across libm implementations. The final
    draw count uses floor, never round-half, so no tie-breaking rule is
    exercised.

    Plan shape at 100 TB: one map-side-combinable aggregate to ≤O(100)
    language rows, then window math on that tiny set — shuffle bytes are
    constant in corpus size; the single-partition window over language
    rows is deliberate (same containment argument as the queue-order
    top-100)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    stats = (
        docs.select("lang", tokens("text").alias("t"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("t")).alias("n_tokens"),
        )
    )
    everything = Window.partitionBy()
    w = F.sqrt(F.col("n_tokens"))
    natural = F.col("n_tokens") / F.sum("n_tokens").over(everything)
    p = w / F.sum(w).over(everything)
    return stats.select(
        "lang",
        "n_docs",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(natural, 6).alias("natural_share"),
        F.round(p, 6).alias("sample_prob"),
        F.floor(p * MIX_EPOCH_DOCS).cast("bigint").alias("epoch_docs"),
        F.round(p / natural, 6).alias("boost"),
    )


_ORACLE_TEMPERATURE_MIX = f"""
WITH stats AS (
  SELECT lang, count(*) AS n_docs, sum(len({_SQL_TOKS})) AS n_tokens
  FROM documents
  GROUP BY lang
)
SELECT lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6) AS natural_share,
       ROUND(sqrt(CAST(n_tokens AS DOUBLE)) / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), 6) AS sample_prob,
       CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER ()
                  * {MIX_EPOCH_DOCS}) AS BIGINT) AS epoch_docs,
       ROUND((sqrt(CAST(n_tokens AS DOUBLE)) / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER ())
             / (CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ()), 6) AS boost
FROM stats
"""


# --- DSIR-style importance weighting ---------------------------------------

DSIR_BUCKETS = 256  # hashed n-gram feature space (DSIR uses 10k; the ~40-word
# synthetic vocabulary saturates far fewer)
DSIR_NGRAM = 2


def _dsir_bucket_spark(g: str) -> str:
    """Bucket [0, {B}) from the first two hex nibbles of a salted md5 —
    the count-min strpos construction, identical on any md5 engine."""
    h = f"md5(concat('ds:', {g}))"
    n1 = f"(position(substr({h}, 1, 1) IN '0123456789abcdef') - 1)"
    n2 = f"(position(substr({h}, 2, 1) IN '0123456789abcdef') - 1)"
    return f"(({n1}) * 16 + ({n2})) % {DSIR_BUCKETS}"


def _dsir_bucket_sql(g: str) -> str:
    h = f"md5('ds:' || {g})"
    n1 = f"(strpos('0123456789abcdef', substr({h}, 1, 1)) - 1)"
    n2 = f"(strpos('0123456789abcdef', substr({h}, 2, 1)) - 1)"
    return f"(({n1}) * 16 + ({n2})) % {DSIR_BUCKETS}"


def q_prep_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-selection importance weighting in the DSIR mold (Xie et al.
    2023): score every corpus document by how target-like its hashed
    n-gram profile is, where the target is a small exemplar set (here the
    deterministic probe slice ``doc_id % DECON_PROBE_MOD == 0``; in
    production, curated high-quality text). Documents with importance ≥ 1
    look more like the target than the corpus average — the resampling
    gate that tilts a pretraining mix toward a domain.

    Numerics, stated honestly: DSIR proper sums log-probability ratios of
    the hashed-bigram features; this operator uses the integer-exact
    surrogate

        importance = (num·S) / (den·T)
        num = Σ_g (1 + target_count[bucket(g)])   (add-one smoothing)
        den = Σ_g (1 + corpus_count[bucket(g)])
        T/S = the matching normalizers (total occurrences + B)

    i.e. the doc's mean smoothed target-frequency over its mean smoothed
    corpus-frequency. Monotone in the same direction as the log-ratio
    score, but every aggregate is an INTEGER sum — commutative, so plain
    map-side partial aggregation works with no ordered-fold gymnastics —
    and the two final divisions are correctly-rounded IEEE ops both
    engines execute identically. Gram-less docs (< {DSIR_NGRAM} tokens)
    keep a neutral weight of 1.

    Plan shape at 100 TB: the bucket count tables are B rows — broadcast
    both; the corpus side is narrow tokenize→n-gram→explode with one keyed
    shuffle (the per-doc integer rollup). Same bones as decontamination,
    with counting instead of membership. The exploded bucketed-gram table
    feeds FIVE branches (target counts, corpus counts, both normalizers,
    the per-doc rollup) — pinned so the tokenize→n-gram→md5 pass runs
    once, not five times (measured 4× on the benchmark; at scale this is
    a persist of the reduced (doc, bucket) pairs, far smaller than the
    text)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    is_probe = F.col("doc_id") % DECON_PROBE_MOD == 0
    # explode over the cheap INDEX sequence, not the built n-gram array:
    # Generate evaluates an expensive generator child lazily per consumer,
    # which re-built every gram string repeatedly (measured 7.3 s vs 0.3 s
    # for the same explode over pre-split tokens at sf0.1). Exploding
    # positions 1..len-n+1 and building each gram AFTER the Generate does
    # the string work exactly once per gram; the construction expression
    # (concat_ws over slice) is verbatim functions.word_ngrams, so gram
    # text — and therefore every md5 bucket — is unchanged.
    toks = docs.select(
        "doc_id", "lang", is_probe.alias("probe"), tokens(F.col("text")).alias("t")
    )
    idx = F.when(
        F.size("t") >= DSIR_NGRAM,
        F.sequence(F.lit(1), F.size("t") - (DSIR_NGRAM - 1)),
    ).otherwise(F.array().cast("array<int>"))
    ex = pin(
        toks.select("doc_id", "lang", "probe", "t", F.explode(idx).alias("i"))
        .select(
            "doc_id",
            "lang",
            "probe",
            F.concat_ws(" ", F.slice("t", F.col("i"), DSIR_NGRAM)).alias("g"),
        )
        .withColumn("b", F.expr(_dsir_bucket_spark("g")))
        .select("doc_id", "lang", "probe", "b")
    )
    target = ex.filter("probe").groupBy("b").agg(F.count("*").alias("tcnt"))
    source = ex.filter(~F.col("probe")).groupBy("b").agg(
        F.count("*").alias("scnt")
    )
    totals = F.broadcast(
        target.agg(
            (F.sum("tcnt") + F.lit(DSIR_BUCKETS)).alias("t_norm")
        ).crossJoin(
            source.agg((F.sum("scnt") + F.lit(DSIR_BUCKETS)).alias("s_norm"))
        )
    )
    per_doc = (
        ex.filter(~F.col("probe"))
        .join(F.broadcast(target), "b", "left")
        .join(F.broadcast(source), "b", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.lit(1) + F.coalesce("tcnt", F.lit(0))).alias("num"),
            F.sum(F.lit(1) + F.coalesce("scnt", F.lit(0))).alias("den"),
        )
    )
    corpus = docs.filter(~is_probe).select("doc_id", "lang")
    imp = (F.col("num").cast("double") / F.col("den")) * (
        F.col("s_norm").cast("double") / F.col("t_norm")
    )
    return (
        corpus.join(per_doc, ["doc_id", "lang"], "left")
        .crossJoin(totals)
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("num", F.lit(0)).cast("bigint").alias("num"),
            F.coalesce("den", F.lit(0)).cast("bigint").alias("den"),
            F.when(F.col("n_grams").isNull(), F.lit(1.0))
            .otherwise(F.round(imp, 6))
            .alias("importance"),
            F.when(F.col("n_grams").isNull(), F.lit(1))
            .otherwise((imp >= 1.0).cast("int"))
            .alias("selected"),
        )
    )


_ORACLE_DSIR = f"""
WITH toks AS (
  SELECT doc_id, lang, {_SQL_TOKS} AS t FROM documents
),
ng AS (
  SELECT doc_id, lang, {_sql_word_ngrams('t', DSIR_NGRAM)} AS gs FROM toks
),
ex AS (
  SELECT doc_id, lang, doc_id % {DECON_PROBE_MOD} = 0 AS probe,
         {_dsir_bucket_sql('g.g')} AS b
  FROM ng, unnest(gs) AS g(g)
),
target AS (SELECT b, count(*) AS tcnt FROM ex WHERE probe GROUP BY b),
source AS (SELECT b, count(*) AS scnt FROM ex WHERE NOT probe GROUP BY b),
totals AS (
  SELECT (SELECT sum(tcnt) FROM target) + {DSIR_BUCKETS} AS t_norm,
         (SELECT sum(scnt) FROM source) + {DSIR_BUCKETS} AS s_norm
),
per_doc AS (
  SELECT e.doc_id, e.lang, count(*) AS n_grams,
         sum(1 + coalesce(t.tcnt, 0)) AS num,
         sum(1 + coalesce(s.scnt, 0)) AS den
  FROM ex e
  LEFT JOIN target t USING (b)
  LEFT JOIN source s USING (b)
  WHERE NOT e.probe
  GROUP BY e.doc_id, e.lang
)
SELECT c.doc_id, c.lang,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(p.num, 0) AS BIGINT) AS num,
       CAST(coalesce(p.den, 0) AS BIGINT) AS den,
       CASE WHEN p.n_grams IS NULL THEN 1.0
            ELSE ROUND((CAST(p.num AS DOUBLE) / p.den)
                       * (CAST(tt.s_norm AS DOUBLE) / tt.t_norm), 6) END
         AS importance,
       CASE WHEN p.n_grams IS NULL THEN 1
            WHEN (CAST(p.num AS DOUBLE) / p.den)
                 * (CAST(tt.s_norm AS DOUBLE) / tt.t_norm) >= 1.0 THEN 1
            ELSE 0 END AS selected
FROM (SELECT doc_id, lang FROM ng WHERE doc_id % {DECON_PROBE_MOD} <> 0) c
LEFT JOIN per_doc p USING (doc_id, lang)
CROSS JOIN totals tt
"""

def q_prep_source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(P_source ‖ P_corpus) over the
    lowercase unigram distributions — the standard domain-shift /
    contamination monitor for a training mix (a source whose KL jumps
    between snapshots changed its content mix). KL = Σ_w p_s(w)·ln(p_s(w)/
    p(w)) summed over the words observed in the source (absent words
    contribute 0 by the 0·ln0 = 0 convention).

    Determinism (the text_perplexity_ngram discipline): the probability
    ratio collapses to (c_sw·N)/(N_s·c_w) — an IEEE division of exact
    integers, bit-identical across engines — and the non-correctly-rounded
    ln() is rounded to 6 decimals per value BEFORE the exact-decimal
    weighted sum; the final /N_s is again an exact-decimal-to-double
    division both engines round identically.

    Plan: ONE tokenize+explode pass feeds the (source, word) count; the
    word-marginal and source totals RE-AGGREGATE those counts (map-side
    partials, vocabulary-sized shuffles — the corpus is never re-read);
    joins are count-table-sized with the 5-row source totals and the 1-row
    corpus total broadcast. At 100 TB the only big exchange is the first
    (source, word) aggregation, which partial-aggregates to ~|vocab|·|sources|.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "source",
        F.explode(tokens("text")).alias("w0"),
    ).select("source", F.lower("w0").alias("w"))
    # pinned: csw feeds FOUR consumers (itself, the word marginal, the
    # source totals, the corpus total) — without the pin each branch
    # re-tokenizes and re-aggregates the whole corpus
    csw = pin(tok.groupBy("source", "w").agg(F.count("*").alias("c_sw")))
    cw = csw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    ns = F.broadcast(
        csw.groupBy("source").agg(
            F.sum("c_sw").alias("n_s"), F.count("*").alias("n_vocab")
        )
    )
    n = F.broadcast(csw.agg(F.sum("c_sw").alias("n_corpus")))
    logr = F.round(
        F.log(
            (F.col("c_sw") * F.col("n_corpus")).cast("double")
            / (F.col("n_s") * F.col("c_w")).cast("double")
        ),
        6,
    )
    term = logr.cast("decimal(20,6)") * F.col("c_sw")
    return (
        csw.join(cw, "w")
        .join(ns, "source")
        .crossJoin(n)
        .select("source", "n_s", "n_vocab", term.alias("term"))
        .groupBy("source", "n_s", "n_vocab")
        .agg(F.sum("term").alias("kl_num"))
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_tokens"),
            F.col("n_vocab").cast("bigint").alias("n_vocab"),
            F.round(F.col("kl_num").cast("double") / F.col("n_s"), 6).alias(
                "kl_to_corpus"
            ),
        )
    )


_SQL_LOWTOKS = f"list_transform({_SQL_TOKS}, t -> lower(t))"

_ORACLE_KL_DRIFT = f"""
WITH tok AS (
  SELECT source, unnest({_SQL_LOWTOKS}) AS w FROM documents
),
csw AS (SELECT source, w, count(*) AS c_sw FROM tok GROUP BY 1, 2),
cw AS (SELECT w, sum(c_sw) AS c_w FROM csw GROUP BY 1),
ns AS (SELECT source, sum(c_sw) AS n_s, count(*) AS n_vocab FROM csw GROUP BY 1),
n AS (SELECT sum(c_sw) AS n_corpus FROM csw),
terms AS (
  SELECT csw.source, ns.n_s, ns.n_vocab,
         CAST(ROUND(ln(CAST(c_sw * n_corpus AS DOUBLE)
                       / CAST(n_s * c_w AS DOUBLE)), 6) AS DECIMAL(20,6))
           * c_sw AS term
  FROM csw JOIN cw USING (w) JOIN ns USING (source) CROSS JOIN n
)
SELECT source,
       CAST(n_s AS BIGINT) AS n_tokens,
       CAST(n_vocab AS BIGINT) AS n_vocab,
       ROUND(CAST(sum(term) AS DOUBLE) / n_s, 6) AS kl_to_corpus
FROM terms GROUP BY source, n_s, n_vocab
"""


# ---------------------------------------------------------------------------
# Curriculum ordering (Bengio et al. 2009): schedule training data
# easy-to-hard. The baseline difficulty signal is sequence length (the
# curriculum every LM stack implements first); the scheduler is an exact
# global quartile over (difficulty, doc_id) — a TOTAL order, so the phase
# assignment is unique and engine-independent.
CURRICULUM_PHASES = 4


def q_prep_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a curriculum phase (1 = easiest quartile … 4
    = hardest) by token-count difficulty with doc_id tiebreak.

    Scale shape: the global quartile uses `global_ntile` — the
    TeraSort-style range exchange + broadcast prefix offsets — NOT an
    un-partitioned ntile window (the one plan that cannot scale out); one
    range shuffle total, same volume as any global sort. The difficulty
    column is a narrow per-doc expression; swapping in a richer score
    (quality, rare-word ratio, perplexity — all available as registry
    siblings) changes one line, not the plan."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens")
    )
    phased = global_ntile(
        scored, ["n_tokens", "doc_id"], CURRICULUM_PHASES, "phase"
    )
    return phased.select(
        "doc_id", "n_tokens", F.col("phase").cast("int").alias("phase")
    )


_ORACLE_CURRICULUM = f"""
SELECT doc_id,
       CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
       CAST(ntile({CURRICULUM_PHASES})
            OVER (ORDER BY len({_SQL_TOKS}), doc_id) AS INT) AS phase
FROM documents
"""


def q_prep_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination OVERLAP MATRIX per (benchmark, source) —
    ``prep_decontaminate`` generalized from a per-doc boolean to the
    reportable profile a pretraining data audit actually ships (the
    GPT-4/Llama-style contamination appendix): for every benchmark and
    every corpus source, how many of the benchmark's n-grams appear in
    that source, how many of the source's documents are contaminated, and
    both as exact-ppm rates. The "benchmarks" here are the deterministic
    probe slice (``doc_id % DECON_PROBE_MOD == 0``) keyed by language —
    one synthetic benchmark per lang; production keys by eval-suite name.

    The matrix is DENSE: a (benchmark, source) cell with zero overlap is
    the result the audit exists to demonstrate, so absent pairs emit
    explicit zero rows (benchmark-size × source-size scaffold, outer

    joined with the hit aggregate).

    Plan shape at 100 TB: identical contamination-core to
    prep_decontaminate — the benchmark gram set is eval-suite-sized and
    BROADCASTS with its lang key; the corpus side is one narrow
    tokenize→n-gram→explode feeding a broadcast-hash join, then ONE keyed
    shuffle on the tiny (bench_lang, source) domain (two count-distincts
    over it plan one Expand of the already-reduced hit rows). The dense
    scaffold is |benchmarks|×|sources| metadata rows via a broadcast
    nested-loop cross of two sub-kilobyte aggregates."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # pinned reduced projection, same rationale as prep_decontaminate
    ngr = pin(
        docs.select(
            "doc_id",
            "lang",
            "source",
            _word_ngrams(tokens(F.col("text")), DECON_NGRAM).alias("raw_gs"),
        ).select(
            "doc_id", "lang", "source", F.array_distinct("raw_gs").alias("gs")
        )
    )
    is_probe = F.col("doc_id") % DECON_PROBE_MOD == 0
    bench = (
        ngr.filter(is_probe)
        .select(F.col("lang").alias("bench_lang"), F.explode("gs").alias("g"))
        .distinct()
    )
    bench_sizes = bench.groupBy("bench_lang").agg(
        F.count("*").alias("bench_grams")
    )
    corpus = ngr.filter(~is_probe)
    src_sizes = corpus.groupBy("source").agg(
        F.count("*").alias("n_docs_source")
    )
    hits = corpus.select("doc_id", "source", F.explode("gs").alias("g")).join(
        F.broadcast(bench), "g"
    )
    cells = hits.groupBy("bench_lang", "source").agg(
        F.countDistinct("g").alias("hit_grams"),
        F.countDistinct("doc_id").alias("contaminated_docs"),
        F.count("*").alias("overlap_instances"),
    )
    scaffold = bench_sizes.crossJoin(F.broadcast(src_sizes))
    return scaffold.join(cells, ["bench_lang", "source"], "left").select(
        "bench_lang",
        "source",
        F.col("bench_grams").cast("bigint").alias("bench_grams"),
        F.col("n_docs_source").cast("bigint").alias("n_docs_source"),
        F.coalesce("hit_grams", F.lit(0)).cast("bigint").alias("hit_grams"),
        F.coalesce("contaminated_docs", F.lit(0))
        .cast("bigint")
        .alias("contaminated_docs"),
        F.coalesce("overlap_instances", F.lit(0))
        .cast("bigint")
        .alias("overlap_instances"),
        F.expr(
            "CAST(coalesce(hit_grams, 0) * 1000000 DIV bench_grams AS BIGINT)"
        ).alias("gram_hit_ppm"),
        F.expr(
            "CAST(coalesce(contaminated_docs, 0) * 1000000"
            " DIV n_docs_source AS BIGINT)"
        ).alias("doc_contam_ppm"),
    )


_ORACLE_CONTAM_MATRIX = f"""
WITH toks AS (
  SELECT doc_id, lang, source, {_SQL_TOKS} AS t FROM documents
),
ng AS (
  SELECT doc_id, lang, source,
         list_distinct({_sql_word_ngrams('t', DECON_NGRAM)}) AS gs
  FROM toks
),
bench AS (
  SELECT DISTINCT lang AS bench_lang, unnest(gs) AS g
  FROM ng WHERE doc_id % {DECON_PROBE_MOD} = 0
),
bench_sizes AS (
  SELECT bench_lang, count(*) AS bench_grams FROM bench GROUP BY 1
),
corpus AS (SELECT * FROM ng WHERE doc_id % {DECON_PROBE_MOD} <> 0),
src_sizes AS (
  SELECT source, count(*) AS n_docs_source FROM corpus GROUP BY 1
),
hits AS (
  SELECT b.bench_lang, c.source, c.doc_id, c.g
  FROM (SELECT doc_id, source, unnest(gs) AS g FROM corpus) c
  JOIN bench b ON c.g = b.g
),
cells AS (
  SELECT bench_lang, source,
         count(DISTINCT g) AS hit_grams,
         count(DISTINCT doc_id) AS contaminated_docs,
         count(*) AS overlap_instances
  FROM hits GROUP BY 1, 2
)
SELECT bs.bench_lang, ss.source,
       CAST(bs.bench_grams AS BIGINT) AS bench_grams,
       CAST(ss.n_docs_source AS BIGINT) AS n_docs_source,
       CAST(COALESCE(c.hit_grams, 0) AS BIGINT) AS hit_grams,
       CAST(COALESCE(c.contaminated_docs, 0) AS BIGINT) AS contaminated_docs,
       CAST(COALESCE(c.overlap_instances, 0) AS BIGINT) AS overlap_instances,
       CAST(COALESCE(c.hit_grams, 0) * 1000000 // bs.bench_grams AS BIGINT)
         AS gram_hit_ppm,
       CAST(COALESCE(c.contaminated_docs, 0) * 1000000 // ss.n_docs_source
            AS BIGINT) AS doc_contam_ppm
FROM bench_sizes bs
CROSS JOIN src_sizes ss
LEFT JOIN cells c
  ON c.bench_lang = bs.bench_lang AND c.source = ss.source
"""


QUERIES = {
    "prep_curriculum_order": q_prep_curriculum_order,
    "prep_training_mix": q_prep_training_mix,
    "prep_decontaminate": q_prep_decontaminate,
    "prep_temperature_mix": q_prep_temperature_mix,
    "prep_dsir_weights": q_prep_dsir_weights,
    "prep_source_kl_drift": q_prep_source_kl_drift,
    "prep_contamination_matrix": q_prep_contamination_matrix,
}

ORACLE = {
    "prep_curriculum_order": _ORACLE_CURRICULUM,
    "prep_training_mix": _ORACLE_TRAINING_MIX,
    "prep_decontaminate": _ORACLE_DECON,
    "prep_temperature_mix": _ORACLE_TEMPERATURE_MIX,
    "prep_dsir_weights": _ORACLE_DSIR,
    "prep_source_kl_drift": _ORACLE_KL_DRIFT,
    "prep_contamination_matrix": _ORACLE_CONTAM_MATRIX,
}
