"""Text-analysis operators over ``documents`` (BASELINE.json north star:
language-ID, quality scoring, token counting, fingerprinting — the
building blocks of an LLM training-data pipeline).

Everything here is JVM-side string/array expressions (split, transform,
filter, aggregate) — zero Python UDFs — so at 100 TB the per-document work
rides whole-stage codegen and the only shuffles are the final small
aggregations. Per-document operators are embarrassingly parallel: documents
hash-partition freely, no skew (docs are size-bounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    exact_avg_halfup,
    sql_exact_avg_halfup,
    sql_word_ngrams as _sql_word_ngrams,
    tokens,
    word_ngrams as _word_ngrams,
)
from ..tables import load_table
from . import grouped_global_rank, pin, spread

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

# marker words per language for the n-gram/stopword lang-ID heuristic
LANG_MARKERS = {
    "en": ("the", "a", "and"),
    "es": ("el", "la", "y"),
    "de": ("der", "und", "das"),
    "fr": ("le", "et", "les"),
}


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting: whitespace tokens, non-space char count,
    average token length, stopword ratio. The per-doc row is the unit of
    downstream quality filtering."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens("text")
    n_tokens = F.size(toks)
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", ""))
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        n_tokens.cast("bigint").alias("n_tokens"),
        n_nonspace.cast("bigint").alias("n_nonspace_chars"),
        F.round(n_nonspace / n_tokens, 6).alias("avg_token_len"),
        F.round(n_stop / n_tokens, 6).alias("stopword_ratio"),
    )


_SQL_TOKS = "list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0)"
_SQL_STOPLIST = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

_ORACLE_TOKEN_STATS = f"""
SELECT doc_id, lang, source,
       CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
       CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_nonspace_chars,
       ROUND(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
             / len({_SQL_TOKS}), 6) AS avg_token_len,
       ROUND(CAST(len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_SQL_STOPLIST})) AS DOUBLE)
             / len({_SQL_TOKS}), 6) AS stopword_ratio
FROM documents
"""


def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score per document: length band + stopword presence
    + mean-token-length band, the C4/Gopher-style rule stack reduced to
    deterministic arithmetic. Emitted per doc with a quality bucket, plus
    the score components so downstream filters can re-weight.

    The token-length band's lower edge is calibrated to the synthetic
    corpus (de-vacuated round 12): mean token length spans [3.5, 5.73]
    across the three SFs, so the classic 2.5 lower edge passed every doc
    and tok_len_ok was frozen at 1 at every SF — the rule never filtered.
    At 4.0 the band splits the corpus at all three SFs (the rule's point
    is the band arithmetic, not the production constant)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens("text")
    n_tokens = F.size(toks)
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", ""))
    avg_tok = n_nonspace / n_tokens
    stop_ratio = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))) / n_tokens
    length_ok = (n_tokens >= 20) & (n_tokens <= 1000)
    tok_len_ok = (avg_tok >= 4.0) & (avg_tok <= 12.0)
    has_stop = stop_ratio > 0.01
    score = (
        length_ok.cast("int") + tok_len_ok.cast("int") + has_stop.cast("int")
    )
    return docs.select(
        "doc_id",
        "lang",
        score.alias("quality_score"),
        F.when(score >= 3, "high").when(score >= 2, "medium").otherwise("low").alias(
            "quality_bucket"
        ),
        length_ok.cast("int").alias("length_ok"),
        tok_len_ok.cast("int").alias("tok_len_ok"),
        has_stop.cast("int").alias("has_stopwords"),
    )


_ORACLE_QUALITY = f"""
WITH scored AS (
  SELECT doc_id, lang,
         len({_SQL_TOKS}) AS n_tokens,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
           / len({_SQL_TOKS}) AS avg_tok,
         CAST(len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_SQL_STOPLIST})) AS DOUBLE)
           / len({_SQL_TOKS}) AS stop_ratio
  FROM documents
)
SELECT doc_id, lang,
       (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
        + CASE WHEN avg_tok BETWEEN 4.0 AND 12.0 THEN 1 ELSE 0 END
        + CASE WHEN stop_ratio > 0.01 THEN 1 ELSE 0 END) AS quality_score,
       CASE WHEN (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
                  + CASE WHEN avg_tok BETWEEN 4.0 AND 12.0 THEN 1 ELSE 0 END
                  + CASE WHEN stop_ratio > 0.01 THEN 1 ELSE 0 END) >= 3 THEN 'high'
            WHEN (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
                  + CASE WHEN avg_tok BETWEEN 4.0 AND 12.0 THEN 1 ELSE 0 END
                  + CASE WHEN stop_ratio > 0.01 THEN 1 ELSE 0 END) >= 2 THEN 'medium'
            ELSE 'low' END AS quality_bucket,
       CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1 ELSE 0 END AS length_ok,
       CASE WHEN avg_tok BETWEEN 4.0 AND 12.0 THEN 1 ELSE 0 END AS tok_len_ok,
       CASE WHEN stop_ratio > 0.01 THEN 1 ELSE 0 END AS has_stopwords
FROM scored
"""


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic → confusion matrix against the
    labeled ``lang``. Ties resolve in fixed precedence (en>es>de>fr) and
    zero evidence maps to 'und'; both engines apply the identical CASE
    chain so the prediction is deterministic."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = F.transform(tokens("text"), lambda t: F.lower(t))
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    pred = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] > 0),
            "en",
        )
        .when((scores["es"] >= scores["de"]) & (scores["es"] >= scores["fr"]) & (scores["es"] > 0), "es")
        .when((scores["de"] >= scores["fr"]) & (scores["de"] > 0), "de")
        .when(scores["fr"] > 0, "fr")
        .otherwise("und")
    )
    return (
        docs.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


def _sql_marker_count(markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in markers)
    return f"len(list_filter(list_transform({_SQL_TOKS}, x -> lower(x)), x -> x IN ({lst})))"


_ORACLE_LANG_ID = f"""
WITH scored AS (
  SELECT lang,
         {_sql_marker_count(LANG_MARKERS['en'])} AS s_en,
         {_sql_marker_count(LANG_MARKERS['es'])} AS s_es,
         {_sql_marker_count(LANG_MARKERS['de'])} AS s_de,
         {_sql_marker_count(LANG_MARKERS['fr'])} AS s_fr
  FROM documents
)
SELECT lang,
       CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
            WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
            WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
            WHEN s_fr > 0 THEN 'fr'
            ELSE 'und' END AS pred_lang,
       count(*) AS n_docs
FROM scored
GROUP BY 1, 2
"""


def q_text_word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level word frequency: explode tokens → count → top 50. The
    explode multiplies rows ~#tokens-per-doc; partial aggregation collapses
    them map-side before the shuffle, so shuffled bytes ≈ vocabulary size,
    not corpus size — the property that keeps this viable at 100 TB."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .select(F.lower("word").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("word"))
        .limit(50)
    )


_ORACLE_WORD_FREQ = f"""
SELECT lower(word) AS word, count(*) AS n_occurrences
FROM (SELECT unnest({_SQL_TOKS}) AS word FROM documents)
GROUP BY 1
ORDER BY n_occurrences DESC, word ASC
LIMIT 50
"""


def q_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: OLS slope/intercept of log-frequency
    against log-rank over the word-frequency table — the corpus-health
    diagnostic that pairs with ``text_heaps_vocab_growth`` (Heaps = vocab
    vs corpus size, Zipf = frequency vs rank). A natural corpus fits a
    slope near −1; machine-generated or template-heavy text bends the
    curve, so drift in the slope per source/language is a cheap
    contamination alarm on ingest (Zipf 1949; public law, standard OLS).

    Determinism: the module's ln discipline — each ln runs on an exact
    input (integer rank / integer frequency cast to double), is rounded to
    6 decimals (JVM-vs-libm 1-ulp tolerance), and lands in DECIMAL(18,6);
    all four OLS sums (Σx, Σy, Σxy, Σx²) then fold exactly in decimal and
    only the final closed-form slope/intercept divisions run in double,
    with the identical expression tree on both engines.

    Scale shape: the only corpus-sized stage is the token explode, which
    partial-aggregates map-side to the (lang, word) table. That table is
    bounded by VOCABULARY (sublinear in corpus size by Heaps' law), but at
    100 TB Heaps still gives ~10^7-10^8 vocab rows per language — too much
    for a ``row_number() OVER (PARTITION BY lang)`` whose single-digit
    lang cardinality would funnel each language's whole vocabulary through
    ONE sort task (ADVICE r12). The per-lang frequency rank therefore runs
    through :func:`operators.grouped_global_rank` (the TeraSort recipe:
    one range exchange spreads a hot language over many tasks; DESC
    frequency via a negated column, same pattern as
    ``events_gini_concentration``), and the OLS fold is a map-side
    combinable aggregate — no window in the plan."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    freqs = (
        docs.select("lang", F.explode(tokens("text")).alias("word"))
        .select("lang", F.lower("word").alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("freq"))
    )
    ranked = grouped_global_rank(
        freqs.withColumn("__negf", -F.col("freq")),
        "lang",
        ["__negf", "word"],
        "__z_rnk",
    )
    xy = ranked.select(
        "lang",
        "freq",
        F.round(F.log(F.col("__z_rnk").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("y"),
    )
    folded = xy.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_vocab"),
        F.sum("freq").cast("bigint").alias("total_tokens"),
        F.sum("x").alias("__sx"),
        F.sum("y").alias("__sy"),
        F.sum(F.col("x") * F.col("y")).alias("__sxy"),
        F.sum(F.col("x") * F.col("x")).alias("__sxx"),
    )
    n = F.col("n_vocab").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    det = n * sxx - sx * sx
    return folded.select(
        "lang",
        "n_vocab",
        "total_tokens",
        F.round((n * sxy - sx * sy) / det, 6).alias("zipf_slope"),
        F.round((sxx * sy - sx * sxy) / det, 6).alias("zipf_intercept"),
    )


_ORACLE_ZIPF = f"""
WITH freqs AS (
  SELECT lang, lower(word) AS word, count(*) AS freq
  FROM (SELECT lang, unnest({_SQL_TOKS}) AS word FROM documents)
  GROUP BY 1, 2
),
xy AS (
  SELECT lang, freq,
         CAST(ROUND(ln(CAST(row_number() OVER (PARTITION BY lang
                ORDER BY freq DESC, word ASC) AS DOUBLE)), 6)
              AS DECIMAL(18,6)) AS x,
         CAST(ROUND(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
  FROM freqs
),
folded AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_vocab,
         CAST(sum(freq) AS BIGINT) AS total_tokens,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM xy GROUP BY lang
)
SELECT lang, n_vocab, total_tokens,
       ROUND((CAST(n_vocab AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope,
       ROUND((CAST(sxx AS DOUBLE) * CAST(sy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
             / (CAST(n_vocab AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_intercept
FROM folded
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the normalized text (lowercase,
    whitespace collapsed) plus a sorted-token 'bag fingerprint' that is
    invariant to word order — the exact-dedup keys. md5 is identical across
    engines, making this fully oracle-checkable."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    bag = F.array_join(F.array_sort(F.transform(tokens("text"), lambda t: F.lower(t))), " ")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("content_fingerprint"),
        F.md5(bag).alias("bag_fingerprint"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


_ORACLE_FINGERPRINT = f"""
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_fingerprint,
       md5(array_to_string(list_sort(list_transform({_SQL_TOKS}, x -> lower(x))), ' ')) AS bag_fingerprint,
       CAST(length(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS BIGINT) AS norm_len
FROM documents
"""


def q_text_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 3-gram profile per language: total and distinct shingle
    counts plus per-doc averages — the feature base for n-gram similarity
    and lang-ID at scale."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # substr with a dynamic start position needs the SQL expr form
    shingles = F.expr(
        "transform(sequence(1, greatest(length(text) - 2, 0)), i -> substr(text, i, 3))"
    )
    ex = docs.select("lang", "doc_id", F.explode(shingles).alias("shingle"))
    return ex.groupBy("lang").agg(
        F.count("*").alias("n_shingles"),
        F.countDistinct("shingle").alias("n_distinct_shingles"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.round(F.count("*") / F.countDistinct("doc_id"), 6).alias("avg_shingles_per_doc"),
    )


_ORACLE_NGRAM = """
WITH ex AS (
  SELECT lang, doc_id,
         unnest(list_transform(range(1, greatest(length(text) - 1, 1)),
                               i -> substr(text, CAST(i AS INT), 3))) AS shingle
  FROM documents
)
SELECT lang,
       count(*) AS n_shingles,
       count(DISTINCT shingle) AS n_distinct_shingles,
       count(DISTINCT doc_id) AS n_docs,
       round(CAST(count(*) AS DOUBLE) / count(DISTINCT doc_id), 6) AS avg_shingles_per_doc
FROM ex
GROUP BY lang
"""


# GPT-2-style pre-tokenizer, simplified to the RE2-compatible subset (no
# lookahead — DuckDB's regex engine lacks it): optional-space letter runs,
# digit runs, punctuation runs, residual whitespace.
BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"

# ~4 chars per subword piece, the standard BPE cost heuristic: each
# pre-token contributes ceil(len/4) = (len+3) DIV 4 pieces — pure integer
# arithmetic so both engines agree bit-for-bit. A matched pre-token is
# never empty, so the piece count is always >= 1.
_BPE_CHARS_PER_PIECE = 4


def _bpe_piece_count_spark():
    """Spark column: total subword-piece estimate for ``text``."""
    return F.expr(
        f"aggregate(regexp_extract_all(text, '{BPE_PATTERN}', 0), 0L, "
        f"(acc, x) -> acc + (length(x) + {_BPE_CHARS_PER_PIECE - 1}) "
        f"DIV {_BPE_CHARS_PER_PIECE})"
    )


# DuckDB twin of _bpe_piece_count_spark (COALESCE: list_sum of an empty
# list is NULL, Spark's aggregate of an empty array is the 0L seed)
_SQL_BPE_PIECES = (
    f"COALESCE(CAST(list_sum(list_transform(regexp_extract_all(text, '{BPE_PATTERN}'), "
    f"x -> (len(x) + {_BPE_CHARS_PER_PIECE - 1}) // {_BPE_CHARS_PER_PIECE})) "
    "AS BIGINT), 0)"
)


def q_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: estimate LLM token counts with the GPT-2
    pre-tokenizer split (regexp_extract_all — JVM regex, no UDF) followed
    by the standard ~4-chars-per-subword piece estimate per pre-token
    (``(len + 3) DIV 4`` pieces, integer-exact in both engines), compared
    against whitespace word counts per language. The tokens-per-word ratio
    is the standard corpus-cost estimator.

    De-vacuated round 12 (vacuity sweep): the synthetic corpus is
    space-separated lowercase ASCII, on which the raw pre-tokenizer match
    COUNT coincides with the whitespace word count — tokens_per_word was
    frozen at exactly 1.0 at every SF, so the ratio certified nothing.
    The per-pre-token piece estimate mirrors real BPE (pre-tokenize, then
    merge within a pre-token; long words cost multiple subwords), making
    fertility respond to the corpus's word-length mix."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    bpe = _bpe_piece_count_spark()
    words = F.size(tokens("text"))
    per_doc = docs.select("lang", bpe.alias("bpe_tokens"), words.alias("words"))
    return per_doc.groupBy("lang").agg(
        F.sum("bpe_tokens").cast("bigint").alias("total_bpe_tokens"),
        F.sum("words").cast("bigint").alias("total_words"),
        F.round(F.sum("bpe_tokens") / F.sum("words"), 6).alias("tokens_per_word"),
    )


_ORACLE_BPE = f"""
SELECT lang,
       CAST(sum({_SQL_BPE_PIECES}) AS BIGINT) AS total_bpe_tokens,
       CAST(sum(len({_SQL_TOKS})) AS BIGINT) AS total_words,
       ROUND(CAST(sum({_SQL_BPE_PIECES}) AS DOUBLE)
             / sum(len({_SQL_TOKS})), 6) AS tokens_per_word
FROM documents
GROUP BY lang
"""


PACK_BUDGET = 2048  # tokens per packed context window


def q_text_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget context
    windows ('bins') by running token count — the operator that turns a
    filtered corpus into training rows. A doc whose cumulative start
    offset crosses a budget boundary opens the next bin (streaming
    concat-and-cut semantics; exact first-fit is inherently sequential).

    Scale: packing runs PER SOURCE SHARD ordered by doc_id — global order
    is irrelevant to packing density, so each shard packs independently.
    ``source`` is a SINGLE-DIGIT-cardinality key, though, so the obvious
    ``SUM OVER (PARTITION BY source)`` window would funnel each source's
    whole corpus through one sort task — since round 12 the running offset
    comes from :func:`operators.grouped_global_cumsum` (the TeraSort
    range-exchange + broadcast-prefix-offset recipe, property-pinned
    against the window form in tests/test_round12b_ops.py), which spreads
    a hot source over many partitions. Emits per-bin packing stats."""
    from . import grouped_global_cumsum

    docs = spread(load_table(spark, sf_dir, "documents"))
    per_doc = docs.select(
        "source", "doc_id", F.size(tokens("text")).alias("n_tokens")
    )
    binned = grouped_global_cumsum(
        per_doc, "source", ["doc_id"], "n_tokens", "__cum"
    ).withColumn(
        "bin_id",
        F.floor((F.col("__cum") - F.col("n_tokens")) / PACK_BUDGET).cast(
            "bigint"
        ),
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
        F.round(F.sum("n_tokens") / F.lit(PACK_BUDGET), 6).alias("fill_ratio"),
    )


_ORACLE_SEQUENCE_PACK = f"""
WITH per_doc AS (
  SELECT source, doc_id, len({_SQL_TOKS}) AS n_tokens
  FROM documents
),
binned AS (
  SELECT source, doc_id, n_tokens,
         CAST(floor((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens)
                    / {PACK_BUDGET}.0) AS BIGINT) AS bin_id
  FROM per_doc
)
SELECT source, bin_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS first_doc_id,
       max(doc_id) AS last_doc_id,
       ROUND(CAST(sum(n_tokens) AS DOUBLE) / {PACK_BUDGET}, 6) AS fill_ratio
FROM binned
GROUP BY source, bin_id
"""


# Per-language keep rates for deterministic stratified sampling (corpus
# mixing). Rates are expressed as 2-hex-digit thresholds over the first
# byte of md5(doc_id): keep iff substr(md5, 1, 2) < threshold — exact
# fraction int(threshold, 16)/256, identical in any engine with md5.
SAMPLE_THRESHOLDS = {"en": "80", "es": "40", "de": "40", "fr": "1a"}  # 50/25/25/~10 %
_DEFAULT_THRESHOLD = "ff"


def q_text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus mixing: per-language
    keep rates applied via a content-stable hash gate (md5 of doc_id), so
    the sample is reproducible across runs AND engines — the property
    random() sampling lacks. Emits per-language sampling accounting.

    Scale: the gate is a narrow filter (no shuffle, no state); rates
    re-mix a 100 TB corpus in one pass. sampleBy() gives the same shape
    but seeds differently per engine, hence the hash gate."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    expr = None
    for lang, t in SAMPLE_THRESHOLDS.items():
        expr = (
            F.when(F.col("lang") == lang, F.lit(t))
            if expr is None
            else expr.when(F.col("lang") == lang, F.lit(t))
        )
    thr = expr.otherwise(F.lit(_DEFAULT_THRESHOLD))
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < thr
    flagged = docs.select("lang", F.size(tokens("text")).alias("n_tokens"),
                          gate.cast("int").alias("kept"))
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.round(F.sum("kept") / F.count("*"), 6).alias("achieved_rate"),
        F.sum(F.col("kept") * F.col("n_tokens")).cast("bigint").alias("kept_tokens"),
    )


def _sql_threshold_case() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN '{t}'" for lang, t in SAMPLE_THRESHOLDS.items()
    )
    return f"CASE lang {whens} ELSE '{_DEFAULT_THRESHOLD}' END"


_ORACLE_STRATIFIED = f"""
WITH flagged AS (
  SELECT lang, len({_SQL_TOKS}) AS n_tokens,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < {_sql_threshold_case()}
              THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT lang, count(*) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       ROUND(CAST(sum(kept) AS DOUBLE) / count(*), 6) AS achieved_rate,
       CAST(sum(kept * n_tokens) AS BIGINT) AS kept_tokens
FROM flagged
GROUP BY lang
"""


# RE2-compatible PII patterns (no lookarounds — portable to any engine)
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: scrub email/phone patterns to fixed placeholder
    tokens and account for every replacement. The corpus has no organic
    PII, so a deterministic spike (every 7th doc gains a synthetic email,
    every 11th a phone) exercises the scrub path end-to-end; the redacted
    text is re-fingerprinted (md5) so the oracle certifies the actual
    output bytes, not just the counts.

    Scale: pure narrow regexp_replace/regexp_count inside codegen — the
    same single pass a 100 TB scrub runs; no shuffle until the tiny
    accounting agg."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    spiked = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(" call +1-555-"), F.format_string("%04d", (F.col("doc_id") % 10000).cast("int"))),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(spiked, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(spiked, F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(spiked, F.lit(PHONE_RE)).cast("bigint").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("bigint").alias("redacted_len"),
    )


_ORACLE_PII = f"""
WITH spiked AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS t
  FROM documents
),
red AS (
  SELECT doc_id, t,
         regexp_replace(regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g'),
                        '{PHONE_RE}', '<PHONE>', 'g') AS redacted
  FROM spiked
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(redacted) AS redacted_md5,
       CAST(length(redacted) AS BIGINT) AS redacted_len
FROM red
"""


CM_DEPTH = 4  # independent hash rows
# Width 8, not the original 64 (round-11 all-zero sweep): the generated
# corpus has a 31-word vocabulary, so a 4×64 grid was 8× LARGER than exact
# counting and every top-10 probe came back with overestimate = 0 at every
# SF — the sketch's one-sided error guarantee was never exercised by data.
# At width 8 the load factor is ~4 words/bucket, collisions are structural
# (as they are for any real vocabulary at 100 TB), and the overestimate
# column carries live nonzero values that the oracle must match exactly.
CM_WIDTH = 8  # buckets per row


def _cm_bucket_spark(word_expr: str, j: int) -> str:
    """Bucket for hash row j: first two hex nibbles of an independently
    salted md5 → value in [0, 256) → % width. Pure strpos arithmetic so
    any engine with md5 computes the identical bucket."""
    h = f"md5(concat('cm{j}:', {word_expr}))"
    n1 = f"(position(substr({h}, 1, 1) IN '0123456789abcdef') - 1)"
    n2 = f"(position(substr({h}, 2, 1) IN '0123456789abcdef') - 1)"
    return f"(({n1}) * 16 + ({n2})) % {CM_WIDTH}"


def _cm_bucket_sql(word_expr: str, j: int) -> str:
    h = f"md5('cm{j}:' || {word_expr})"
    n1 = f"(strpos('0123456789abcdef', substr({h}, 1, 1)) - 1)"
    n2 = f"(strpos('0123456789abcdef', substr({h}, 2, 1)) - 1)"
    return f"(({n1}) * 16 + ({n2})) % {CM_WIDTH}"


def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus word stream: a {depth}×{width}
    counter grid updated by salted-md5 bucketing, then probed for the
    top-10 words — emitting exact count, CM estimate, and the
    overestimate (provably ≥ 0, the sketch's one-sided error guarantee).

    This is the mergeable fixed-memory frequency sketch that replaces
    exact word counts at 100 TB: counters are a groupBy over (row,
    bucket) — partial aggregation collapses each partition to ≤
    depth×width rows before the shuffle, so shuffled bytes are CONSTANT
    in corpus size. The sketch is deterministic (hash-derived, no RNG),
    hence exact-oracle-checkable — unlike approx_count_distinct, whose
    engine-specific HLL registers force a rows-only check.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode(tokens("text")).alias("w")
    ).select(F.lower("w").alias("word"))
    bucket_structs = ", ".join(
        f"struct({j} AS j, {_cm_bucket_spark('word', j)} AS bucket)"
        for j in range(CM_DEPTH)
    )
    pairs = words.select(
        F.expr(f"inline(array({bucket_structs}))")
    )
    sketch = pairs.groupBy("j", "bucket").agg(F.count("*").alias("counter"))
    exact = (
        words.groupBy("word")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("word"))
        .limit(10)
    )
    probe = exact.select(
        "word",
        "exact_count",
        F.expr(f"inline(array({bucket_structs}))"),
    )
    est = (
        probe.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("word", "exact_count")
        .agg(F.min("counter").alias("cm_estimate"))
    )
    return est.select(
        "word",
        "exact_count",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("exact_count")).alias("overestimate"),
    )


_ORACLE_COUNT_MIN = f"""
WITH words AS (
  SELECT lower(w) AS word
  FROM (SELECT unnest({_SQL_TOKS}) AS w FROM documents)
),
pairs AS (
  SELECT j.j, CASE j.j {" ".join(f"WHEN {j} THEN {_cm_bucket_sql('word', j)}" for j in range(CM_DEPTH))} END AS bucket
  FROM words, (SELECT unnest(range(0, {CM_DEPTH})) AS j) j
),
sketch AS (
  SELECT j, bucket, count(*) AS counter FROM pairs GROUP BY j, bucket
),
exact AS (
  SELECT word, count(*) AS exact_count
  FROM words GROUP BY word
  ORDER BY exact_count DESC, word ASC
  LIMIT 10
),
probe AS (
  SELECT word, exact_count, j.j,
         CASE j.j {" ".join(f"WHEN {j} THEN {_cm_bucket_sql('word', j)}" for j in range(CM_DEPTH))} END AS bucket
  FROM exact, (SELECT unnest(range(0, {CM_DEPTH})) AS j) j
)
SELECT p.word, p.exact_count, min(s.counter) AS cm_estimate,
       min(s.counter) - p.exact_count AS overestimate
FROM probe p JOIN sketch s ON s.j = p.j AND s.bucket = p.bucket
GROUP BY p.word, p.exact_count
"""


# --- overlapping context windows (RAG / training-window chunker) -----------

CHUNK_W = 64  # window size in tokens
CHUNK_S = 48  # stride (W - S = 16 tokens of overlap between windows)


def q_text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunker: split every document into overlapping
    {CHUNK_W}-token windows at stride {CHUNK_S} — the standard unit for
    retrieval indexing and fixed-context training when documents exceed
    the model context. A doc with n tokens yields 1 window when n ≤ W,
    else ((n-W+S-1) div S) + 1, so the last window always reaches the
    final token; zero-token docs yield no rows. Windows are emitted as
    (doc_id, chunk_idx, token count, md5 of the joined window) — the md5
    keeps the oracle's value-hash over scalar columns while still pinning
    the exact window CONTENT, not just its length.

    Plan shape at 100 TB: tokenize + window enumeration are per-row array
    expressions and the explode is a Generate — a pure narrow map that
    widens with the scan, zero shuffles. Integer arithmetic only (div,
    not float ceil) so both engines count windows identically."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", "lang", tokens("text").alias("t")).filter(
        F.size("t") > 0
    )
    n = F.size("t")
    n_chunks = F.when(n <= CHUNK_W, F.lit(1)).otherwise(
        F.expr(f"((size(t) - {CHUNK_W} + {CHUNK_S} - 1) div {CHUNK_S}) + 1")
    )
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1),
        lambda i: F.slice(F.col("t"), i * CHUNK_S + 1, CHUNK_W),
    )
    return base.select(
        "doc_id",
        "lang",
        F.posexplode(windows).alias("chunk_idx", "chunk"),
    ).select(
        "doc_id",
        "lang",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size("chunk").cast("bigint").alias("chunk_tokens"),
        F.md5(F.array_join("chunk", " ")).alias("chunk_md5"),
    )


_ORACLE_CHUNK_WINDOWS = f"""
WITH sized AS (
  SELECT doc_id, lang, {_SQL_TOKS} AS t, len({_SQL_TOKS}) AS n
  FROM documents
  WHERE len({_SQL_TOKS}) > 0
),
expanded AS (
  SELECT doc_id, lang, t,
         unnest(range(0, CASE WHEN n <= {CHUNK_W} THEN 1
                              ELSE ((n - {CHUNK_W} + {CHUNK_S} - 1) // {CHUNK_S}) + 1 END)) AS ci
  FROM sized
)
SELECT doc_id, lang, CAST(ci AS INT) AS chunk_idx,
       CAST(len(t[ci*{CHUNK_S}+1 : ci*{CHUNK_S}+{CHUNK_W}]) AS BIGINT) AS chunk_tokens,
       md5(array_to_string(t[ci*{CHUNK_S}+1 : ci*{CHUNK_S}+{CHUNK_W}], ' ')) AS chunk_md5
FROM expanded
"""


# --- TF-IDF keyword extraction ---------------------------------------------

TFIDF_TOPK = 3


def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{TFIDF_TOPK} keywords by TF-IDF — the classic
    corpus-statistics signal behind keyword indexing, near-topic grouping,
    and quality heuristics (a doc whose top terms are boilerplate scores
    differently from one with distinctive vocabulary).

    Scoring uses the LINEAR idf variant score = tf · (N/df): computed as
    CAST(tf·N AS DOUBLE)/df — one correctly-rounded IEEE division of exact
    integers, bit-identical across engines — where log-idf would hinge on
    each engine's libm ln() agreeing to the last ulp (not guaranteed).
    Ranking per doc: score DESC, then term ASC so equal scores can't
    diverge. Ties in the corpus-frequency tail are common, so the tiebreak
    is load-bearing, not defensive.

    Plan shape at 100 TB: explode → two keyed aggregations (doc_id+term,
    then term) → a term-keyed join back → a per-doc window. The df table is
    vocabulary-sized; AQE broadcasts it while it fits and falls back to a
    shuffle join beyond that — both correct, no code change. The window
    partitions by doc_id (high-cardinality, even) and Spark 4 plans it as
    WindowGroupLimit: each group keeps a {TFIDF_TOPK}-element heap, no full
    per-doc sort."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    n_docs = F.broadcast(docs.agg(F.count("*").alias("n_docs")))
    tf = (
        docs.select(
            "doc_id", F.explode(F.transform(tokens("text"), F.lower)).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(n_docs)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOPK)
        .select(
            "doc_id",
            F.col("rk").alias("rank"),
            "term",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round("score", 6).alias("score"),
        )
    )


_ORACLE_TFIDF = f"""
WITH words AS (
  SELECT doc_id, lower(w) AS term
  FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS w FROM documents)
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term
),
df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         CAST(t.tf * n.n_docs AS DOUBLE) / d.df AS score
  FROM tf t JOIN df d USING (term), n
)
SELECT doc_id, CAST(rk AS INT) AS rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       ROUND(score, 6) AS score
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rk
  FROM scored)
WHERE rk <= {TFIDF_TOPK}
"""


# --- cross-document duplicate n-gram spans ---------------------------------

SPAN_N = 8  # span length in words; the RefinedWeb/MassiveText working size
SPAN_DUP_FRAC = 0.5  # docs above this shared-span fraction get flagged


def q_text_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span detection — the corpus-level
    complement of ``text_repetition_score`` (intra-doc) and the n-gram
    analogue of exact dedup: for every document, the fraction of its
    distinct {SPAN_N}-word spans that also occur in at least one OTHER
    document. High fractions mark boilerplate/templated/mirrored text that
    survives document-level exact dedup because the docs differ somewhere.

    Per doc the span set is DISTINCT (array_distinct) so a span repeated
    inside one doc can't inflate its own cross-doc count; a span is
    'shared' when its document frequency is ≥ 2. Docs shorter than
    {SPAN_N} words have no spans and are reported with zero counts via the
    left join (the flag stays 0) — same row universe as the input corpus.

    Plan shape at 100 TB: explode distinct spans → one aggregation keyed by
    span (map-side combinable counts) → join back on span → per-doc
    re-aggregation keyed by doc_id. Identical bones to the decontamination
    operator, but self-joined against the corpus itself rather than a
    broadcast probe set — the span-keyed exchange is the honest cost of a
    corpus-global question. Hashing spans to md5 before the shuffle would
    cut key bytes ~2x at scale; kept as raw text here so the oracle can
    share the key."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # pin the built span ARRAYS before exploding: the exploded table feeds
    # two consumers (span counts + per-doc rollup), and Generate evaluates
    # an expensive generator child lazily per consumer (see SCALE.md
    # interpreter-boundary rules) — exploding from the cached arrays makes
    # the n-gram construction run once
    span_arrays = pin(
        docs.select(
            "doc_id",
            F.array_distinct(
                _word_ngrams(F.transform(tokens("text"), F.lower), SPAN_N)
            ).alias("spans_arr"),
        )
    )
    spans = span_arrays.select("doc_id", F.explode("spans_arr").alias("span"))
    span_df = spans.groupBy("span").agg(F.count("*").alias("span_docs"))
    per_doc = (
        spans.join(span_df, "span")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("span_docs") >= 2).cast("bigint")).alias("n_shared"),
        )
    )
    return docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
        F.when(
            F.coalesce("n_spans", F.lit(0)) == 0, F.lit(0.0)
        )
        .otherwise(F.round(F.col("n_shared") / F.col("n_spans"), 6))
        .alias("shared_frac"),
        (
            F.coalesce("n_shared", F.lit(0))
            / F.greatest(F.coalesce("n_spans", F.lit(0)), F.lit(1))
            >= SPAN_DUP_FRAC
        )
        .cast("int")
        .alias("boilerplate"),
    )


_ORACLE_CROSS_SPANS = f"""
WITH toks AS (
  SELECT doc_id, lang, list_transform({_SQL_TOKS}, x -> lower(x)) AS t
  FROM documents
),
spans AS (
  -- _sql_word_ngrams yields an empty list for sub-n docs by construction
  SELECT doc_id, unnest(list_distinct({_sql_word_ngrams('t', SPAN_N)})) AS span
  FROM toks
),
span_df AS (
  SELECT span, count(*) AS span_docs FROM spans GROUP BY span
),
per_doc AS (
  SELECT s.doc_id, count(*) AS n_spans,
         sum(CASE WHEN d.span_docs >= 2 THEN 1 ELSE 0 END) AS n_shared
  FROM spans s JOIN span_df d USING (span)
  GROUP BY s.doc_id
)
SELECT doc_id, lang,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
       CASE WHEN coalesce(p.n_spans, 0) = 0 THEN 0.0
            ELSE ROUND(CAST(p.n_shared AS DOUBLE) / p.n_spans, 6) END AS shared_frac,
       CASE WHEN CAST(coalesce(p.n_shared, 0) AS DOUBLE)
                 / greatest(coalesce(p.n_spans, 0), 1) >= {SPAN_DUP_FRAC}
            THEN 1 ELSE 0 END AS boilerplate
FROM documents LEFT JOIN per_doc p USING (doc_id)
"""


def q_text_perplexity_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model perplexity per document — the
    KenLM-style quality signal (CCNet/Dolma filter by LM perplexity; this is
    the same statistic with the LM trained on the corpus itself). Add-one
    smoothed transition probability P(w2|w1) = (c2(w1,w2)+1)/(c1(w1)+V);
    per-doc score = mean log-prob over the doc's bigram instances, reported
    with perplexity exp(-mean).

    Determinism: the ratio is a correctly-rounded IEEE division of exact
    integers (bit-identical across engines), but natural log is NOT — a
    measured 56% of ln() outputs differ by 1 ulp between the JVM (fdlibm)
    and DuckDB (libm). Each log-prob is therefore rounded to 6 decimals
    before the exact-decimal average; a 1-ulp input difference then flips
    the comparison only when ln lands within an ulp of a 0.5e-6 boundary
    (~2e-10/value). The average itself is the exact mean
    (`exact_avg_halfup`: integer half-away-from-zero rounding, no double
    rounded). Residual risk is the per-ln rounding above plus exp(-avg)'s
    1-ulp at the ppl 4th decimal (~7e-11/row) — the repo-wide documented
    class.

    Plan shape at 100 TB: identical to q_text_bigram_coherence (one explode
    pass, two map-side-partial count aggregations, hash joins back on
    (w1,w2)/(w1), AQE skew-split for stopword-heavy prefixes) plus one
    1-row broadcast for the vocabulary size — the "model" lives in the two
    count tables, no driver state. At scale the count tables would be
    min-count pruned (unseen bigrams already cost (0+1)/(c1+V) under
    add-one, so pruning singletons changes scores bounded by 1/(c1+V))."""
    # The >=2-tokens guard runs as a codegen rlike on raw text (two
    # non-space chars separated by whitespace ⇔ at least 2 nonempty
    # tokens, nulls dropped by both) BEFORE the projection: a
    # size(lt) >= 2 filter above the select gets alias-substituted and
    # pushed below the spread() exchange, evaluating the whole
    # interpreted tokenize+lower transform serially in the scan task.
    docs = spread(
        load_table(spark, sf_dir, "documents").filter(
            F.col("text").rlike(r"\S\s+\S")
        )
    )
    lt = F.transform(tokens("text"), lambda t: F.lower(t))
    # pinned token arrays + an INDEX explode (bigrams built per output row
    # from element_at, after the Generate): the former struct-array explode
    # re-tokenized per consumer, and bg feeds both count tables
    d = pin(
        docs.select("doc_id", "lang", lt.alias("lt"))
    )
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
    vocab = F.broadcast(
        docs.select(F.explode(lt).alias("w")).agg(
            F.countDistinct("w").alias("vsz")
        )
    )
    logp = F.round(
        F.log((F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("vsz"))),
        6,
    )
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(vocab)
        .select("doc_id", "lang", logp.alias("logp"))
    )
    avg_lp = exact_avg_halfup("logp", scale=6)
    return scored.groupBy("doc_id", "lang").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        avg_lp.alias("avg_logprob"),
        F.round(F.exp(-avg_lp), 4).alias("ppl"),
    )


_SQL_LT = f"list_transform({_SQL_TOKS}, t -> lower(t))"

_ORACLE_PERPLEXITY = f"""
WITH d AS (
  SELECT doc_id, lang, {_SQL_LT} AS lt
  FROM documents WHERE len({_SQL_TOKS}) >= 2
),
vocab AS (
  SELECT count(DISTINCT w) AS vsz
  FROM (SELECT unnest({_SQL_LT}) AS w FROM documents)
),
bgidx AS (
  SELECT doc_id, lang, lt, CAST(unnest(range(1, len(lt))) AS INT) AS i FROM d
),
bg AS (
  SELECT doc_id, lang, lt[i] AS w1, lt[i + 1] AS w2 FROM bgidx
),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
scored AS (
  SELECT doc_id, lang,
         ROUND(ln(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + vocab.vsz)), 6) AS logp
  FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab
)
SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
       {sql_exact_avg_halfup('logp', scale=6)} AS avg_logprob,
       ROUND(exp(-({sql_exact_avg_halfup('logp', scale=6)})), 4) AS ppl
FROM scored GROUP BY doc_id, lang
"""


WEIGHTED_SAMPLE_K = 100


def q_text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    each doc draws u ∈ (0,1] from a deterministic md5 hash and scores
    key = ln(u)/w with w = token count; the global top-k by key is a
    weight-proportional sample — THE distributed one-pass weighted sampler
    (per-partition top-k partials merge associatively, so it's a
    TakeOrdered, never a global sort). Used here to subsample a training
    corpus proportionally to token mass.

    Determinism: u = (M+1)/2^48 from a 48-bit md5 slice is an exact dyadic
    double on both engines; ln carries the measured 1-ulp JVM/libm
    divergence, so the key rounds to 8 decimals with a doc_id tiebreak
    before the top-k (same convention as text_perplexity_ngram)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    w = F.size(tokens("text"))
    m = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
    u = (m.cast("double") + 1) / F.lit(float(2**48))
    key = F.round(F.log(u) / w, 8)
    return (
        docs.select(
            "doc_id",
            "lang",
            w.cast("bigint").alias("n_tokens"),
            key.alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(WEIGHTED_SAMPLE_K)
    )


_ORACLE_WEIGHTED_SAMPLE = f"""
SELECT doc_id, lang,
       CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
       ROUND(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 1)
                / 281474976710656.0)
             / len({_SQL_TOKS}), 8) AS sample_key
FROM documents
ORDER BY sample_key DESC, doc_id ASC
LIMIT {WEIGHTED_SAMPLE_K}
"""


INDEX_MIN_DF = 5  # index only terms appearing in >= this many docs
INDEX_POSTINGS_CAP = 20  # stored posting-list prefix per term


def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the classic distributed text artifact: term →
    (document frequency, total occurrences, capped sorted posting list).
    Bounded-state construction: occurrences first dedupe to (term, doc_id)
    rows (a two-phase count aggregate — no set-valued buffer anywhere),
    df/occurrence stats partial-aggregate from those rows, and the posting
    prefix comes from a ``row_number() <= cap`` filter that Spark rewrites
    to a WindowGroupLimit (asserted) — each map task keeps only the cap
    smallest doc_ids per term BEFORE the shuffle, so a Zipf-hot term costs
    skew-split aggregation time but never an unbounded aggregation buffer
    (a naive capped ``collect_set`` slice would still buffer every
    distinct doc_id of a stopword before slicing). Low-df terms drop
    below INDEX_MIN_DF (index pruning)."""
    from pyspark.sql import Window

    docs = spread(load_table(spark, sf_dir, "documents"))
    term_docs = docs.select(
        "doc_id", F.explode(F.transform(tokens("text"), F.lower)).alias("term")
    )
    pairs = term_docs.groupBy("term", "doc_id").agg(F.count("*").alias("n_td"))
    stats = (
        pairs.groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("n_td").alias("n_occurrences"))
        .filter(F.col("df") >= INDEX_MIN_DF)
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    capped = pairs.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= INDEX_POSTINGS_CAP
    )
    postings = capped.groupBy("term").agg(
        F.concat_ws(
            ",", F.sort_array(F.collect_list("doc_id")).cast("array<string>")
        ).alias("postings_csv")
    )
    return stats.join(postings, "term").select(
        "term",
        F.col("df").cast("bigint").alias("df"),
        F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
        "postings_csv",
    )


_ORACLE_INVERTED = f"""
WITH td AS (
  SELECT doc_id, unnest({_SQL_LT}) AS term FROM documents
),
agg AS (
  SELECT term,
         count(DISTINCT doc_id) AS df,
         count(*) AS n_occurrences,
         array_to_string(
           list_slice(list_sort(list(DISTINCT doc_id)), 1, {INDEX_POSTINGS_CAP}),
           ',') AS postings_csv
  FROM td GROUP BY term
)
SELECT term, CAST(df AS BIGINT) AS df,
       CAST(n_occurrences AS BIGINT) AS n_occurrences, postings_csv
FROM agg WHERE df >= {INDEX_MIN_DF}
"""


NOVELTY_NGRAM = 5  # word n-gram width for first-seen attribution


def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-order novelty score per document — the Dolma/RefinedWeb
    curation signal that complements symmetric span recurrence
    (``text_cross_doc_spans``): a {NOVELTY_NGRAM}-gram is NOVEL in the
    document with the smallest doc_id containing it (doc_id stands in for
    arrival order), and each document scores the fraction of its distinct
    n-grams it introduced to the corpus. Low novelty ⇒ the document is
    largely restating earlier content and is a down-weighting candidate
    even when no single pair-wise duplicate exists.

    Plan: tokenize → distinct (doc_id, shingle) — ONE shuffle keyed on
    the shingle with map-side combine — then min(doc_id) per shingle in
    the SAME partitioning (no second exchange before the join back), an
    equi-join on shingle, and a final doc_id rollup. Shingle keys are
    Zipf-skewed but the per-shingle state is one BIGINT min — no
    collect_list, so a hot shingle costs one register, not a buffer;
    novelty_ppm is exact integer arithmetic."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    grams = docs.select(
        "doc_id", F.explode(_word_ngrams(tokens("text"), NOVELTY_NGRAM)).alias("g")
    ).distinct()
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    return (
        grams.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_distinct_ngrams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_distinct_ngrams",
            "n_novel",
            F.expr(
                "CAST(n_novel * 1000000 div n_distinct_ngrams AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


_ORACLE_NOVELTY = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, g
  FROM documents, unnest({_sql_word_ngrams(_SQL_TOKS, NOVELTY_NGRAM)}) AS t(g)
),
first AS (
  SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_distinct_ngrams,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS novelty_ppm
FROM grams JOIN first USING (g)
GROUP BY doc_id
"""


def q_text_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-distribution Shannon entropy (nats) — the
    lexical-diversity quality signal (low entropy ⇒ repetitive/templated
    text; used alongside the Gopher-style ratio rules in
    ``text_quality_score`` and the n-gram repetition score). For doc word
    counts c_i summing to N: H = −Σ (c_i/N)·ln(c_i/N).

    Determinism: each ln runs on a correctly-rounded IEEE division of
    exact integers and is rounded to 6dp BEFORE the sum (the JVM/libm
    1-ulp ln divergence discipline of ``text_perplexity_ngram``); the
    weighted sum then runs in exact DECIMAL (bigint × decimal(18,6)), so
    accumulation order cannot matter. The final division by N stays in
    INTEGERS — entropy is reported in micro-nats with explicit half-up
    rounding ((2s+n) div 2n) — because Σc·ln-rounded / N often terminates
    exactly on a 0.5e-6 boundary where the engines' round-of-double
    implementations provably disagree (observed at sf0.1).

    Plan: explode → one (doc_id, word) map-side-combined count, an
    N-per-doc window on the doc_id exchange, and a final doc_id rollup
    reusing it. Embarrassingly parallel per doc at any scale."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("w")
    ).select("doc_id", F.lower("w").alias("w"))
    counts = toks.groupBy("doc_id", "w").agg(F.count("*").cast("bigint").alias("c"))
    wn = Window.partitionBy("doc_id")
    terms = counts.select(
        "doc_id",
        "c",
        F.sum("c").over(wn).alias("n_tokens"),
    ).select(
        "doc_id",
        "c",
        "n_tokens",
        F.expr(
            "c * CAST(round(ln(CAST(c AS DOUBLE) / n_tokens), 6) AS DECIMAL(18,6))"
        ).alias("term"),
    )
    return terms.groupBy("doc_id").agg(
        F.max("n_tokens").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.expr(
            "CAST((2 * CAST(-sum(term) * 1000000 AS BIGINT) + max(n_tokens))"
            " div (2 * max(n_tokens)) AS BIGINT)"
        ).alias("entropy_micronats"),
    )


_ORACLE_ENTROPY = f"""
WITH toks AS (
  SELECT doc_id, lower(w) AS w
  FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS w FROM documents)
),
counts AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
),
terms AS (
  SELECT doc_id, c,
         sum(c) OVER (PARTITION BY doc_id) AS n_tokens,
         c * CAST(ROUND(ln(CAST(c AS DOUBLE)
                           / sum(c) OVER (PARTITION BY doc_id)), 6)
                  AS DECIMAL(18,6)) AS term
  FROM counts
)
SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST((2 * CAST(-sum(term) * 1000000 AS BIGINT) + max(n_tokens))
            // (2 * max(n_tokens)) AS BIGINT) AS entropy_micronats
FROM terms GROUP BY doc_id
"""


# Power-of-two sequence-length ladder for batch packing: a doc with n
# whitespace tokens pads to the smallest bucket >= n. Integer comparisons
# only (no log2), so both engines bucket identically.
LENGTH_BUCKETS = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192)


def q_text_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing — the batching layout every training
    pipeline computes before `text_sequence_pack`-style packing: pad each
    document to the smallest power-of-two token bucket and account for the
    padding waste per bucket (tokens burned on pad vs a same-bucket batch)
    and versus the naive pad-to-global-max baseline. The waste numbers are
    what decide bucket boundaries for real dataloaders (HF's
    length-grouped sampler, T5's pack-by-length).

    Plan: one narrow pass computes n_tokens and the CASE-ladder bucket
    (integer comparisons only — no float log2 to diverge), then a <=11-row
    aggregate; the global-max baseline joins as a broadcast scalar. Waste
    ratios are exact integer ppm. At 100 TB: map-side combine reduces each
    partition to the ladder's 11 rows before the one tiny shuffle."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    n_tok = F.size(tokens("text"))
    # docs longer than the top rung (2 * LENGTH_BUCKETS[-1]) have NO ladder
    # bucket >= n — they land in the explicit overflow bucket 0 with pad 0
    # (ADVICE r8: the old ladder put them in the top rung, making
    # pad_tokens and waste_ppm negative and silently breaking the
    # "smallest bucket >= n" contract)
    bucket = F.when(n_tok <= LENGTH_BUCKETS[-1] * 2, F.lit(LENGTH_BUCKETS[-1] * 2)).otherwise(F.lit(0))
    for b in reversed(LENGTH_BUCKETS):
        bucket = F.when(n_tok <= b, F.lit(b)).otherwise(bucket)
    per_doc = docs.select(
        n_tok.cast("bigint").alias("n_tokens"),
        bucket.cast("bigint").alias("bucket_tokens"),
    )
    agg = per_doc.groupBy("bucket_tokens").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.sum(
            F.when(F.col("bucket_tokens") == 0, F.lit(0)).otherwise(
                F.col("bucket_tokens") - F.col("n_tokens")
            )
        )
        .cast("bigint")
        .alias("pad_tokens"),
    )
    gmax = F.broadcast(per_doc.agg(F.max("n_tokens").alias("global_max")))
    return agg.crossJoin(gmax).select(
        "bucket_tokens",
        "n_docs",
        "sum_tokens",
        "pad_tokens",
        F.expr(
            "CAST(CASE WHEN bucket_tokens = 0 THEN 0 ELSE"
            " (1000000 * pad_tokens) DIV (n_docs * bucket_tokens) END AS BIGINT)"
        ).alias("waste_ppm"),
        F.expr(
            "CAST((1000000 * (n_docs * global_max - sum_tokens))"
            " DIV (n_docs * global_max) AS BIGINT)"
        ).alias("naive_waste_ppm"),
    )


_SQL_BUCKET_LADDER = "CASE " + " ".join(
    f"WHEN n_tokens <= {b} THEN {b}" for b in LENGTH_BUCKETS
) + f" WHEN n_tokens <= {LENGTH_BUCKETS[-1] * 2} THEN {LENGTH_BUCKETS[-1] * 2} ELSE 0 END"

_ORACLE_LENGTH_BUCKETS = f"""
WITH per_doc AS (
  SELECT n_tokens, CAST({_SQL_BUCKET_LADDER} AS BIGINT) AS bucket_tokens
  FROM (SELECT CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens FROM documents)
),
agg AS (
  SELECT bucket_tokens,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         CAST(sum(CASE WHEN bucket_tokens = 0 THEN 0
                       ELSE bucket_tokens - n_tokens END) AS BIGINT)
           AS pad_tokens
  FROM per_doc GROUP BY 1
),
gmax AS (SELECT max(n_tokens) AS global_max FROM per_doc)
SELECT bucket_tokens, n_docs, sum_tokens, pad_tokens,
       CAST(CASE WHEN bucket_tokens = 0 THEN 0
            ELSE (1000000 * pad_tokens) // (n_docs * bucket_tokens) END
            AS BIGINT) AS waste_ppm,
       CAST((1000000 * (n_docs * global_max - sum_tokens))
            // (n_docs * global_max) AS BIGINT) AS naive_waste_ppm
FROM agg, gmax
"""


def q_text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) — the classic
    unsupervised keyword algorithm: candidate phrases are maximal runs of
    non-stopword words (a gaps-and-islands grouping over token positions),
    each word gets corpus-level frequency and degree (sum of the lengths
    of every phrase it appears in), and a phrase scores the sum of its
    words' degree/frequency ratios. Top-3 phrases per document.

    Numerics: each word's ratio is an exact integer ppm ((10^6·deg) DIV
    freq) summed as BIGINTs — no float division anywhere, so ranking ties
    are impossible to diverge. Plan: one doc-keyed window builds phrase
    ids, one (word)-keyed aggregate builds the corpus stats (map-side
    combined), one join scores phrase words, and the per-doc top-3 is a
    WindowGroupLimit. At 100 TB each stage shuffles bounded keys (words /
    doc ids), never raw text twice."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), r"\s+")).alias("pos", "raw"),
    ).select(
        "doc_id",
        "pos",
        F.regexp_replace("raw", "[^a-z]", "").alias("w"),
    )
    boundary = (F.col("w") == "") | F.col("w").isin(*STOPWORDS)
    wp = Window.partitionBy("doc_id").orderBy("pos")
    marked = words.select(
        "doc_id",
        "pos",
        "w",
        F.sum(F.when(boundary, 1).otherwise(0))
        .over(wp.rowsBetween(Window.unboundedPreceding, 0))
        .alias("phrase_id"),
        boundary.alias("b"),
    ).filter(~F.col("b"))
    phrases = marked.groupBy("doc_id", "phrase_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda x: x.getField("w"),
            ),
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("plen"),
    )
    occ = marked.join(
        phrases.select("doc_id", "phrase_id", "plen"), ["doc_id", "phrase_id"]
    ).select("doc_id", "phrase_id", "w", "plen")
    stats = occ.groupBy("w").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    scored = (
        occ.join(stats, "w")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.sum(F.expr("CAST((1000000 * deg) DIV freq AS BIGINT)"))
            .cast("bigint")
            .alias("score_ppm")
        )
        .join(phrases, ["doc_id", "phrase_id"])
    )
    per_phrase = scored.groupBy("doc_id", "phrase", "score_ppm", "plen").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.desc("score_ppm"), F.asc("phrase")
    )
    return (
        per_phrase.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id",
            "phrase",
            F.col("plen").cast("bigint").alias("n_words"),
            "score_ppm",
            "n_occurrences",
            "rk",
        )
    )


_ORACLE_RAKE = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS tk FROM documents
),
words AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         regexp_replace(tk[CAST(i AS INT)], '[^a-z]', '', 'g') AS w
  FROM toks, unnest(range(1, len(tk) + 1)) AS t(i)
),
marked AS (
  SELECT doc_id, pos, w,
         SUM(CASE WHEN w = '' OR w IN {_SQL_STOPLIST} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id,
         (w = '' OR w IN {_SQL_STOPLIST}) AS b
  FROM words
),
mk AS (SELECT doc_id, pos, w, phrase_id FROM marked WHERE NOT b),
phrases AS (
  SELECT doc_id, phrase_id,
         string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM mk GROUP BY 1, 2
),
occ AS (
  SELECT mk.doc_id, mk.phrase_id, mk.w, p.plen
  FROM mk JOIN phrases p ON mk.doc_id = p.doc_id AND mk.phrase_id = p.phrase_id
),
stats AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq, CAST(sum(plen) AS BIGINT) AS deg
  FROM occ GROUP BY w
),
scored AS (
  SELECT o.doc_id, o.phrase_id,
         CAST(SUM((1000000 * s.deg) // s.freq) AS BIGINT) AS score_ppm
  FROM occ o JOIN stats s ON o.w = s.w
  GROUP BY 1, 2
),
per_phrase AS (
  SELECT p.doc_id, p.phrase, sc.score_ppm, p.plen,
         CAST(count(*) AS BIGINT) AS n_occurrences
  FROM scored sc JOIN phrases p
    ON sc.doc_id = p.doc_id AND sc.phrase_id = p.phrase_id
  GROUP BY 1, 2, 3, 4
)
SELECT doc_id, phrase, CAST(plen AS BIGINT) AS n_words, score_ppm,
       n_occurrences, CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score_ppm DESC, phrase ASC) AS rk
  FROM per_phrase)
WHERE rk <= 3
"""


def q_text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility report per (lang, source) — the metric that
    decides vocab choices and corpus budgets: chars-per-token (compression
    the tokenizer achieves on this slice) and tokens-per-word (fertility
    proper; >1.3 on a language usually means the vocab under-serves it),
    plus the per-doc chars-per-token extremes that flag pathological
    slices (base64 blobs, code, CJK under a latin vocab).

    All ratios are exact integer ppm; per-doc extremes compute the ppm
    per doc FIRST (a narrow map) then min/max — a map-side-combined
    aggregate either way. One scan, one (lang, source) shuffle of
    bounded-domain keys.

    Token counts use the shared subword-piece estimate
    (``_bpe_piece_count_spark``, de-vacuated round 12): the raw
    pre-tokenizer match count equals the whitespace word count on this
    space-separated ASCII corpus, which froze tokens_per_word_ppm at
    exactly 1000000 at every SF."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    bpe = _bpe_piece_count_spark()
    words = F.size(tokens("text"))
    per_doc = docs.select(
        "lang",
        "source",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        bpe.cast("bigint").alias("bpe"),
        words.cast("bigint").alias("words"),
    ).filter((F.col("bpe") > 0) & (F.col("words") > 0))
    doc_cpt = F.expr("CAST((1000000 * n_chars) DIV bpe AS BIGINT)")
    return (
        per_doc.withColumn("doc_cpt_ppm", doc_cpt)
        .groupBy("lang", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum("bpe").cast("bigint").alias("sum_tokens"),
            F.sum("words").cast("bigint").alias("sum_words"),
            F.expr(
                "CAST((1000000 * sum(n_chars)) DIV sum(bpe) AS BIGINT)"
            ).alias("chars_per_token_ppm"),
            F.expr(
                "CAST((1000000 * sum(bpe)) DIV sum(words) AS BIGINT)"
            ).alias("tokens_per_word_ppm"),
            F.min("doc_cpt_ppm").cast("bigint").alias("min_doc_cpt_ppm"),
            F.max("doc_cpt_ppm").cast("bigint").alias("max_doc_cpt_ppm"),
        )
    )


_ORACLE_FERTILITY = f"""
WITH per_doc AS (
  SELECT lang, source,
         CAST(n_chars AS BIGINT) AS n_chars,
         {_SQL_BPE_PIECES} AS bpe,
         CAST(len({_SQL_TOKS}) AS BIGINT) AS words
  FROM documents
),
flt AS (
  SELECT *, CAST((1000000 * n_chars) // bpe AS BIGINT) AS doc_cpt_ppm
  FROM per_doc WHERE bpe > 0 AND words > 0
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(bpe) AS BIGINT) AS sum_tokens,
       CAST(sum(words) AS BIGINT) AS sum_words,
       CAST((1000000 * sum(n_chars)) // sum(bpe) AS BIGINT) AS chars_per_token_ppm,
       CAST((1000000 * sum(bpe)) // sum(words) AS BIGINT) AS tokens_per_word_ppm,
       CAST(min(doc_cpt_ppm) AS BIGINT) AS min_doc_cpt_ppm,
       CAST(max(doc_cpt_ppm) AS BIGINT) AS max_doc_cpt_ppm
FROM flt
GROUP BY 1, 2
"""


# --- PMI collocation mining -------------------------------------------------
# Corpus-level collocations (Church & Hanks 1990): word pairs that co-occur
# far more than independence predicts. Distinct from text_bigram_coherence
# (prep.py), which SCORES EACH DOCUMENT by mean transition probability —
# this entry mines the top pairs themselves, the lexicon-building /
# tokenizer-vocab op. PMI = log(p(ab)/(p(a)p(b))); since log is monotone the
# ranking only needs the lift ratio, kept as an exact integer:
# lift_ppm = 1e6·N·c(ab) / (c(a)·c(b)) in DECIMAL(38,0) arithmetic
# (Spark DIV == DuckDB HUGEINT // — verified identity), so no float log
# ever enters the gate.
PMI_MIN_PAIR = 5  # a-priori support floor: rare pairs have noisy PMI
PMI_TOP_K = 20


def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PMI_TOP_K collocations by PMI lift over the whole corpus.

    Plan shape at 100 TB: ONE tokenization pass (pinned lowercased token
    arrays feed both the unigram and bigram branches — the
    interpreter-boundary rule from SCALE.md), two map-side-combined hash
    aggregations whose outputs are VOCABULARY-sized (≪ corpus), the
    support filter applied before any join (a-priori pruning, same as the
    basket miner), then two broadcast-friendly joins of the surviving
    pairs against the unigram counts and one 1-row total. The final
    ordering is a top-k (TakeOrderedAndProject), never a full sort."""
    lt = F.transform(tokens("text"), lambda t: F.lower(t))
    d = pin(
        spread(load_table(spark, sf_dir, "documents")).select(lt.alias("lt"))
    )
    uni = d.select(F.explode("lt").alias("w")).groupBy("w").agg(
        F.count("*").alias("c1")
    )
    uni = pin(uni)
    bg = (
        d.filter(F.size("lt") >= 2)
        .select(F.explode(F.expr("sequence(1, size(lt) - 1)")).alias("i"), "lt")
        .select(
            F.expr("element_at(lt, i)").alias("w1"),
            F.expr("element_at(lt, i + 1)").alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_n"))
        .filter(F.col("pair_n") >= PMI_MIN_PAIR)
    )
    total = F.broadcast(uni.agg(F.sum("c1").cast("bigint").alias("n_total")))
    scored = (
        bg.join(uni.select(F.col("w").alias("w1"), F.col("c1").alias("c1a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c1b")), "w2")
        .crossJoin(total)  # 1-row scalar — plans as broadcast BNLJ
        .select(
            "w1",
            "w2",
            F.col("pair_n").cast("bigint").alias("pair_n"),
            F.col("c1a").cast("bigint").alias("c1a"),
            F.col("c1b").cast("bigint").alias("c1b"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_total * pair_n)"
                " DIV (CAST(c1a AS DECIMAL(38,0)) * c1b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("lift_ppm"), F.asc("w1"), F.asc("w2")
    ).limit(PMI_TOP_K)


_SQL_LOWER_TOKS_PMI = f"list_transform({_SQL_TOKS}, t -> lower(t))"

_ORACLE_PMI = f"""
WITH d AS (SELECT {_SQL_LOWER_TOKS_PMI} AS lt FROM documents),
uni AS (
  SELECT w, count(*) AS c1 FROM (SELECT unnest(lt) AS w FROM d) GROUP BY w
),
bgidx AS (
  SELECT lt, CAST(unnest(range(1, len(lt))) AS INT) AS i
  FROM d WHERE len(lt) >= 2
),
bg AS (
  SELECT w1, w2, count(*) AS pair_n FROM (
    SELECT lt[i] AS w1, lt[i + 1] AS w2 FROM bgidx
  ) GROUP BY 1, 2 HAVING count(*) >= {PMI_MIN_PAIR}
),
total AS (SELECT sum(c1) AS n_total FROM uni)
SELECT w1, w2,
       CAST(pair_n AS BIGINT) AS pair_n,
       CAST(ua.c1 AS BIGINT) AS c1a,
       CAST(ub.c1 AS BIGINT) AS c1b,
       CAST((1000000::HUGEINT * n_total * pair_n)
            // (ua.c1::HUGEINT * ub.c1) AS BIGINT) AS lift_ppm
FROM bg
JOIN uni ua ON bg.w1 = ua.w
JOIN uni ub ON bg.w2 = ub.w
CROSS JOIN total
ORDER BY lift_ppm DESC, w1 ASC, w2 ASC
LIMIT {PMI_TOP_K}
"""


# ---------------------------------------------------------------------------
# Gopher/C4-style filter funnel (Rae et al. 2021 §A1.1; Raffel et al. 2020).
# Unlike `text_quality_score` (per-doc score) this is the CURATION FUNNEL a
# pipeline operator reads: an ORDERED rule stack where each document is
# attributed to its FIRST failing rule, reported per (stage, lang) with a
# global ppm share. All rule arithmetic is integer-exact (ratio thresholds
# rewritten as cross-multiplied integer comparisons) so both engines agree
# bit-for-bit.
FUNNEL_MIN_TOKENS = 20
FUNNEL_MAX_TOKENS = 5000
FUNNEL_WORD_LEN_LO = 3  # Gopher: mean word length in [3, 10]
FUNNEL_WORD_LEN_HI = 10
FUNNEL_STAGES = (
    "01_too_short",
    "02_too_long",
    "03_word_len",
    "04_symbol_ratio",
    "05_top_token",
    "06_stopword",
    "07_survived",
)


def q_text_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered quality-filter funnel over the corpus: token-count bounds,
    mean-word-length band, symbol-to-word ratio, most-common-token
    dominance, and stopword evidence — each doc killed by its FIRST
    failing rule, counts reported per (kill_stage, lang) with global ppm.

    Scale shape: one embarrassingly-parallel projection computes every
    rule feature per document (the dominant-token count is a SINGLE
    sorted-run fold — one pass over the token array, per the one-fold
    interpreter rule in SCALE.md), then one map-side-combinable aggregate
    over ≤ |stages|×|langs| groups and a broadcast 1-row total for the
    ppm share. No joins, no windows; documents never shuffle (only the
    tiny per-group partials move)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = tokens("text")
    n_tokens = F.size(toks)
    n_nonspace = F.length(F.regexp_replace("text", r"\s+", ""))
    n_symbols = (
        F.length("text") - F.length(F.replace("text", F.lit("#")))
    ) + (F.length("text") - F.length(F.replace("text", F.lit("…"))))
    # dominant-token count: one fold over the sorted token array (longest
    # equal-run length) — a single pass, no per-distinct-token rescans
    top_tok = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    lowered = F.transform(toks, lambda t: F.lower(t))
    n_stop_distinct = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in STOPWORDS]),
            lambda s: F.array_contains(lowered, s),
        )
    )
    stage = (
        F.when(n_tokens < FUNNEL_MIN_TOKENS, FUNNEL_STAGES[0])
        .when(n_tokens > FUNNEL_MAX_TOKENS, FUNNEL_STAGES[1])
        .when(
            (n_nonspace < FUNNEL_WORD_LEN_LO * n_tokens)
            | (n_nonspace > FUNNEL_WORD_LEN_HI * n_tokens),
            FUNNEL_STAGES[2],
        )
        .when(10 * n_symbols > n_tokens, FUNNEL_STAGES[3])
        .when(5 * top_tok > n_tokens, FUNNEL_STAGES[4])
        .when(n_stop_distinct < 2, FUNNEL_STAGES[5])
        .otherwise(FUNNEL_STAGES[6])
    )
    staged = docs.select(stage.alias("kill_stage"), "lang")
    total = F.broadcast(
        docs.agg(F.count("*").cast("bigint").alias("n_total"))
    )
    return (
        staged.groupBy("kill_stage", "lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .crossJoin(total)  # 1-row scalar — plans as broadcast BNLJ
        .select(
            "kill_stage",
            "lang",
            "n_docs",
            F.expr("CAST(n_docs * 1000000 DIV n_total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


_SQL_STOP_ARRAY = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"

_SQL_STAGE_FEATURES = f"""
  SELECT lang,
         len({_SQL_TOKS}) AS n_tokens,
         length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, chr(8230), ''))) AS n_symbols,
         list_max(list_transform(list_distinct({_SQL_TOKS}),
                                 d -> len(list_filter({_SQL_TOKS}, t -> t = d))))
           AS top_tok,
         len(list_filter({_SQL_STOP_ARRAY},
             s -> list_contains(list_transform({_SQL_TOKS}, t -> lower(t)), s)))
           AS n_stop_distinct
  FROM documents
"""

_ORACLE_FUNNEL = f"""
WITH feats AS ({_SQL_STAGE_FEATURES}),
staged AS (
  SELECT lang,
         CASE
           WHEN n_tokens < {FUNNEL_MIN_TOKENS} THEN '{FUNNEL_STAGES[0]}'
           WHEN n_tokens > {FUNNEL_MAX_TOKENS} THEN '{FUNNEL_STAGES[1]}'
           WHEN n_nonspace < {FUNNEL_WORD_LEN_LO} * n_tokens
                OR n_nonspace > {FUNNEL_WORD_LEN_HI} * n_tokens
             THEN '{FUNNEL_STAGES[2]}'
           WHEN 10 * n_symbols > n_tokens THEN '{FUNNEL_STAGES[3]}'
           WHEN 5 * top_tok > n_tokens THEN '{FUNNEL_STAGES[4]}'
           WHEN n_stop_distinct < 2 THEN '{FUNNEL_STAGES[5]}'
           ELSE '{FUNNEL_STAGES[6]}'
         END AS kill_stage
  FROM feats
),
total AS (SELECT count(*) AS n_total FROM documents)
SELECT kill_stage, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) * 1000000 // n_total AS BIGINT) AS share_ppm
FROM staged CROSS JOIN total
GROUP BY kill_stage, lang, n_total
"""


# ---------------------------------------------------------------------------
# BPE trainer merge step (Sennrich et al. 2016 §3.2). Production BPE
# trainers never scan the corpus per merge: they collapse the corpus to the
# WORD-FREQUENCY table once, then count adjacent symbol pairs weighted by
# word frequency. This entry certifies exactly that distributed step: the
# corpus-to-vocab collapse is one map-side-combinable aggregate, the pair
# expansion runs over DISTINCT words only (vocab-size × word-length, ≪
# corpus), and the winner selection is a top-k.
BPE_MERGE_TOP_K = 20


def q_text_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training iteration over the corpus at the character level:
    collapse to the word-frequency table, expand each DISTINCT word into
    its adjacent character pairs, weight by word frequency, and emit the
    top merge candidates.

    Scale shape: corpus → vocab is ONE hash aggregate with map-side
    combine (output is vocabulary-sized, ≪ corpus); the pair explode runs
    over distinct words only, so its row count is Σ(len(w)−1) over the
    VOCABULARY, not the corpus; the pair aggregate is again map-side
    combinable; the final selection is TakeOrderedAndProject with a total
    tie-break order (count desc, pair asc) so rank-boundary ties are
    deterministic."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    vocab = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )
    pairs = vocab.select(
        "word",
        "wc",
        F.explode(
            F.expr(
                "CASE WHEN length(word) >= 2 THEN"
                " transform(sequence(1, length(word) - 1),"
                "           i -> substring(word, i, 2))"
                " ELSE array() END"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("wc").cast("bigint").alias("pair_count"),
            F.countDistinct("word").cast("bigint").alias("n_words"),
        )
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(BPE_MERGE_TOP_K)
    )


_ORACLE_BPE_MERGE = f"""
WITH words AS (
  SELECT unnest({_SQL_TOKS}) AS word FROM documents
),
vocab AS (SELECT word, count(*) AS wc FROM words GROUP BY word),
pidx AS (
  SELECT word, wc, CAST(unnest(range(1, length(word))) AS INT) AS i
  FROM vocab WHERE length(word) >= 2
),
pairs AS (SELECT substr(word, i, 2) AS pair, wc, word FROM pidx)
SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count,
       CAST(count(DISTINCT word) AS BIGINT) AS n_words
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair ASC
LIMIT {BPE_MERGE_TOP_K}
"""


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth (Heaps 1978): distinct-vocabulary size as a
# function of corpus prefix — the curve a data team reads to decide whether
# more data still buys new vocabulary (and to size tokenizers). The naive
# plan rescans the corpus per prefix; the scalable identity is that a word
# contributes to prefix p iff its FIRST occurrence lands within p, so one
# per-word min(doc_id) aggregate (vocabulary-sized) answers every prefix.


def q_text_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-prefix growth curve at 10%-of-doc-id steps: documents seen,
    running token total, and distinct vocabulary size per prefix.

    Scale shape: TWO map-side-combinable aggregates answer all ten
    prefixes — per-word first-occurrence (vocabulary-sized output) and
    per-doc token counts collapsed to ≤ 11 decile-bucket rows; the
    cumulative rollup is a broadcast non-equi join of the 10-row grid
    against those bounded bucket tables. The corpus is never rescanned
    per prefix and nothing data-sized crosses a non-equi join. Bucket
    arithmetic is integer ceil-division, identical in both engines."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    maxid = F.broadcast(docs.agg(F.max("doc_id").alias("maxid")))
    bucket = (
        "CAST(((((doc_id * 100 + maxid - 1) DIV maxid) + 9) DIV 10) * 10 AS INT)"
    )
    dstat = docs.select("doc_id", F.size(tokens("text")).alias("nt"))
    bd = (
        dstat.crossJoin(maxid)
        .select(F.expr(bucket).alias("b"), "nt")
        .groupBy("b")
        .agg(F.count("*").alias("nd"), F.sum("nt").alias("ntok"))
    )
    fw = (
        docs.select(
            "doc_id",
            F.explode(F.transform(tokens("text"), lambda t: F.lower(t))).alias("w"),
        )
        .groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    vb = (
        fw.crossJoin(maxid)
        .select(F.expr(bucket).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("nv"))
    )
    grid = (
        docs.sparkSession.range(1, 11)
        .select((F.col("id") * 10).cast("int").alias("prefix_pct"))
    )
    gd = (
        grid.join(F.broadcast(bd), bd["b"] <= grid["prefix_pct"], "left")
        .groupBy("prefix_pct")
        .agg(
            F.coalesce(F.sum("nd"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("ntok"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    )
    gv = (
        grid.join(F.broadcast(vb), vb["b"] <= grid["prefix_pct"], "left")
        .groupBy("prefix_pct")
        .agg(F.coalesce(F.sum("nv"), F.lit(0)).cast("bigint").alias("n_vocab"))
    )
    return gd.join(gv, "prefix_pct").select(
        "prefix_pct", "n_docs", "n_tokens", "n_vocab"
    )


_SQL_HEAPS_BUCKET = "((((doc_id * 100 + maxid - 1) // maxid) + 9) // 10) * 10"

_ORACLE_HEAPS = f"""
WITH mx AS (SELECT max(doc_id) AS maxid FROM documents),
dstat AS (SELECT doc_id, len({_SQL_TOKS}) AS nt FROM documents),
bd AS (
  SELECT {_SQL_HEAPS_BUCKET} AS b, count(*) AS nd, sum(nt) AS ntok
  FROM dstat CROSS JOIN mx GROUP BY 1
),
words AS (
  SELECT doc_id, unnest(list_transform({_SQL_TOKS}, t -> lower(t))) AS w
  FROM documents
),
fw AS (SELECT w, min(doc_id) AS doc_id FROM words GROUP BY 1),
vb AS (
  SELECT {_SQL_HEAPS_BUCKET} AS b, count(*) AS nv
  FROM fw CROSS JOIN mx GROUP BY 1
),
grid AS (SELECT CAST(unnest(range(1, 11)) * 10 AS INT) AS prefix_pct)
SELECT prefix_pct,
       CAST(coalesce((SELECT sum(nd) FROM bd WHERE bd.b <= grid.prefix_pct), 0)
            AS BIGINT) AS n_docs,
       CAST(coalesce((SELECT sum(ntok) FROM bd WHERE bd.b <= grid.prefix_pct), 0)
            AS BIGINT) AS n_tokens,
       CAST(coalesce((SELECT sum(nv) FROM vb WHERE vb.b <= grid.prefix_pct), 0)
            AS BIGINT) AS n_vocab
FROM grid
"""


# ---------------------------------------------------------------------------
# Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; Chen & Goodman
# 1998 eq. 4.25) — the smoothing every serious n-gram LM uses, as a per-doc
# quality signal next to the add-one `text_perplexity_ngram`. With discount
# d = 3/4 every KN term is a RATIO OF INTEGERS (continuation counts are
# distinct-counts), so unlike the perplexity entry (which must round ln()
# to absorb 1-ulp libm divergence) this score is computed ENTIRELY in
# exact integer arithmetic: p_ppm = ⌊1e6·((4c−3)·N_big + 3·N1p(w1)·
# N_cont(w2)) / (4·c1(w1)·N_big)⌋. Self-trained on the corpus, so every
# doc bigram is observed and the max(c−d,0) branch never truncates.


def q_text_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean interpolated-KN bigram probability (exact ppm):
    the LM-quality filter signal with production-grade smoothing, exactly
    integer-deterministic (no float log anywhere).

    Plan shape: one explode pass feeds THREE vocabulary-sized map-side
    aggregates (bigram counts carry c; w1 marginals carry c1 and the
    distinct-successor count N1p; w2 continuation counts N_cont) plus a
    1-row distinct-bigram total; doc bigrams then hash-join the pair
    table once and the two unigram-keyed tables once each — the same
    count-table join family as `text_perplexity_ngram`, with the per-doc
    rollup an exact mean over integer ppm."""
    lt = F.transform(tokens("text"), lambda t: F.lower(t))
    d = pin(
        spread(load_table(spark, sf_dir, "documents")).select(
            "doc_id", lt.alias("lt")
        )
    )
    inst = d.filter(F.size("lt") >= 2).select(
        "doc_id",
        F.explode(F.expr("sequence(1, size(lt) - 1)")).alias("i"),
        "lt",
    ).select(
        "doc_id",
        F.expr("element_at(lt, i)").alias("w1"),
        F.expr("element_at(lt, i + 1)").alias("w2"),
    )
    inst = pin(inst)
    bg = pin(
        inst.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    )
    w1s = bg.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count("*").alias("n1p")
    )
    w2s = bg.groupBy("w2").agg(F.count("*").alias("ncont"))
    nbig = F.broadcast(bg.agg(F.count("*").cast("bigint").alias("n_big")))
    scored = (
        inst.join(bg, ["w1", "w2"])
        .join(w1s, "w1")
        .join(w2s, "w2")
        .crossJoin(nbig)  # 1-row scalar — plans as broadcast BNLJ
        .select(
            "doc_id",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * ((4 * c - 3) * CAST(n_big AS DECIMAL(38,0))"
                "    + 3 * n1p * CAST(ncont AS DECIMAL(38,0))))"
                " DIV (4 * CAST(c1 AS DECIMAL(38,0)) * n_big) AS BIGINT)"
            ).alias("p_ppm"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        exact_avg_halfup("p_ppm", 2).alias("mean_p_ppm"),
        F.min("p_ppm").cast("bigint").alias("min_p_ppm"),
    )


_ORACLE_KNESER_NEY = f"""
WITH dd AS (
  SELECT doc_id, {_SQL_LOWER_TOKS_PMI} AS lt FROM documents
),
inst AS (
  SELECT doc_id, lt[i] AS w1, lt[i + 1] AS w2 FROM (
    SELECT doc_id, lt, CAST(unnest(range(1, len(lt))) AS INT) AS i
    FROM dd WHERE len(lt) >= 2
  )
),
bg AS (SELECT w1, w2, count(*) AS c FROM inst GROUP BY 1, 2),
w1s AS (SELECT w1, sum(c) AS c1, count(*) AS n1p FROM bg GROUP BY 1),
w2s AS (SELECT w2, count(*) AS ncont FROM bg GROUP BY 1),
nbig AS (SELECT count(*) AS n_big FROM bg),
scored AS (
  SELECT doc_id,
         CAST((1000000::HUGEINT
               * ((4 * c - 3) * n_big::HUGEINT + 3 * n1p * ncont::HUGEINT))
              // (4 * c1::HUGEINT * n_big) AS BIGINT) AS p_ppm
  FROM inst
  JOIN bg USING (w1, w2)
  JOIN w1s USING (w1)
  JOIN w2s USING (w2)
  CROSS JOIN nbig
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       {sql_exact_avg_halfup('p_ppm', 2)} AS mean_p_ppm,
       CAST(min(p_ppm) AS BIGINT) AS min_p_ppm
FROM scored GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV audit: fix a top-K corpus vocabulary and measure
# the out-of-vocabulary token rate per (lang, source) slice — the
# tokenizer-fit readout next to `text_tokenizer_fertility` (fertility asks
# "how many pieces per word"; coverage asks "how many words the vocabulary
# misses entirely"). K is 16 here because the synthetic corpus has ~31
# distinct words; a production run uses the real 32k-256k tokenizer vocab —
# same plan, bigger broadcast.
VOCAB_TOP_K = 16


def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV audit against the corpus top-{VOCAB_TOP_K} vocabulary: per
    (lang, source), total tokens, OOV tokens, OOV rate in exact ppm, and
    the count of docs with ≥1 OOV token.

    Scale shape: the vocabulary is ONE map-side-combinable word count +
    TakeOrdered top-K (count desc, word asc — total order) that then
    BROADCASTS; the coverage pass is a narrow per-token membership check
    against that broadcast (the corpus never shuffles to be scored), and
    the rollup keys on the tiny (lang, source) domain. At 100 TB the
    vocab broadcast is a few MB (any real tokenizer vocabulary) and the
    whole audit is one scan + one bounded aggregate."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    lowered = F.transform(tokens("text"), lambda t: F.lower(t))
    vocab = (
        docs.select(F.explode(lowered).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(VOCAB_TOP_K)
        .select("w")
    )
    toks = docs.select(
        "doc_id", "lang", "source", F.explode(lowered).alias("w")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "w", "left"
    ).select(
        "doc_id",
        "lang",
        "source",
        F.coalesce("in_vocab", F.lit(0)).alias("in_vocab"),
    )
    per_doc = flagged.groupBy("doc_id", "lang", "source").agg(
        F.count("*").alias("n_tokens"),
        F.sum(1 - F.col("in_vocab")).alias("n_oov"),
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_oov").cast("bigint").alias("n_oov"),
        F.expr(
            "CAST(sum(n_oov) * 1000000 DIV sum(n_tokens) AS BIGINT)"
        ).alias("oov_ppm"),
        F.sum((F.col("n_oov") > 0).cast("int")).cast("bigint").alias(
            "n_docs_with_oov"
        ),
    )


_ORACLE_VOCAB_COVERAGE = f"""
WITH words AS (
  SELECT doc_id, lang, source,
         unnest(list_transform({_SQL_TOKS}, t -> lower(t))) AS w
  FROM documents
),
vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM words GROUP BY w
  ) ORDER BY c DESC, w ASC LIMIT {VOCAB_TOP_K}
),
per_doc AS (
  SELECT doc_id, lang, source, count(*) AS n_tokens,
         sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM words LEFT JOIN vocab ON words.w = vocab.w
  GROUP BY doc_id, lang, source
)
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_oov) AS BIGINT) AS n_oov,
       CAST(sum(n_oov) * 1000000 // sum(n_tokens) AS BIGINT) AS oov_ppm,
       CAST(sum(CASE WHEN n_oov > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_with_oov
FROM per_doc
GROUP BY lang, source
"""


# --- tokenizer vocabulary-transfer ablation ---------------------------------
# The vocab-size grid: the real question a tokenizer change asks is "what
# happens to fertility and OOV if we ship a SMALLER vocabulary" — this is
# the ablation table that answers it. Sizes are tiny because the synthetic
# corpus has ~31 distinct words; production uses (32k, 64k, 128k, 256k)
# with the identical plan.
VOCAB_TRANSFER_KS = (4, 8, 16)


def q_text_vocab_transfer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-transfer readout: fertility and OOV per language under
    each candidate vocab size in ``VOCAB_TRANSFER_KS`` — the
    vocab-size-ablation table every tokenizer change ships with
    (cf. the Zheng/Rust tokenizer-transfer literature; fertility per
    Ács' subword-fertility metric). The candidate vocabularies are
    nested top-K cuts of the corpus word-frequency ranking (count desc,
    word asc — total order), so ONE ranked table serves the whole grid:
    a word is in vocab K iff its rank ≤ K. In-vocab words cost 1 piece;
    OOV words fall back to character pieces at the shared
    ``_BPE_CHARS_PER_PIECE`` heuristic — fertility under vocab K is then
    mean pieces per word, and OOV rate is the token share the vocab
    misses, both exact integer ppm.

    Plan shape at 100 TB: the corpus collapses ONCE to the (lang, word)
    frequency table (map-side-combinable; vocabulary-sized, sublinear by
    Heaps' law); the global ranking is TakeOrdered top-max(K) + a
    row_number over those max(K) rows (bounded by the grid constant —
    the documented metadata-sized window exception, cf.
    pipeline_queue_order) and BROADCASTS; the grid expansion is a
    |KS|-row broadcast nested-loop cross over the vocabulary table, NOT
    the corpus — token counts ride as weights, so the corpus never
    re-scans per K. Final rollup keys on the tiny (k, lang) domain."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    lowered = F.transform(tokens("text"), lambda t: F.lower(t))
    lw = docs.select("lang", F.explode(lowered).alias("w")).groupBy(
        "lang", "w"
    ).agg(F.count("*").alias("cnt"))
    lw = pin(lw)
    wc = lw.groupBy("w").agg(F.sum("cnt").alias("c"))
    ranked = (
        wc.orderBy(F.desc("c"), F.asc("w"))
        .limit(max(VOCAB_TRANSFER_KS))
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w")))
        )
        .select("w", "rk")
    )
    ks = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(k) for k in VOCAB_TRANSFER_KS])
        ).alias("k")
    )
    flagged = (
        lw.join(F.broadcast(ranked), "w", "left")
        .crossJoin(F.broadcast(ks))
        .select(
            "k",
            "lang",
            "w",
            "cnt",
            F.when(
                F.col("rk").isNotNull() & (F.col("rk") <= F.col("k")), 1
            )
            .otherwise(0)
            .alias("iv"),
            F.when(
                F.col("rk").isNotNull() & (F.col("rk") <= F.col("k")),
                F.lit(1).cast("bigint"),
            )
            .otherwise(
                F.expr(
                    f"CAST((length(w) + {_BPE_CHARS_PER_PIECE - 1})"
                    f" DIV {_BPE_CHARS_PER_PIECE} AS BIGINT)"
                )
            )
            .alias("pieces"),
        )
    )
    return flagged.groupBy("k", "lang").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.sum((1 - F.col("iv")) * F.col("cnt")).cast("bigint").alias(
            "n_oov_tokens"
        ),
        F.sum(1 - F.col("iv")).cast("bigint").alias("n_oov_types"),
        F.expr(
            "CAST(sum((1 - iv) * cnt) * 1000000 DIV sum(cnt) AS BIGINT)"
        ).alias("oov_ppm"),
        F.expr(
            "CAST(sum(pieces * cnt) * 1000000 DIV sum(cnt) AS BIGINT)"
        ).alias("fertility_ppm"),
    )


_ORACLE_VOCAB_TRANSFER = f"""
WITH words AS (
  SELECT lang, unnest(list_transform({_SQL_TOKS}, t -> lower(t))) AS w
  FROM documents
),
lw AS (SELECT lang, w, count(*) AS cnt FROM words GROUP BY 1, 2),
wc AS (SELECT w, sum(cnt) AS c FROM lw GROUP BY 1),
ranked AS (
  SELECT w, row_number() OVER (ORDER BY c DESC, w ASC) AS rk
  FROM (SELECT w, c FROM wc ORDER BY c DESC, w ASC
        LIMIT {max(VOCAB_TRANSFER_KS)})
),
ks AS (SELECT unnest({list(VOCAB_TRANSFER_KS)}) AS k),
flagged AS (
  SELECT k, lang, w, cnt,
         CASE WHEN rk IS NOT NULL AND rk <= k THEN 1 ELSE 0 END AS iv,
         CASE WHEN rk IS NOT NULL AND rk <= k THEN 1
              ELSE (length(w) + {_BPE_CHARS_PER_PIECE - 1})
                   // {_BPE_CHARS_PER_PIECE} END AS pieces
  FROM lw LEFT JOIN ranked USING (w) CROSS JOIN ks
)
SELECT CAST(k AS INT) AS k, lang,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum((1 - iv) * cnt) AS BIGINT) AS n_oov_tokens,
       CAST(sum(1 - iv) AS BIGINT) AS n_oov_types,
       CAST(sum((1 - iv) * cnt) * 1000000 // sum(cnt) AS BIGINT) AS oov_ppm,
       CAST(sum(pieces * cnt) * 1000000 // sum(cnt) AS BIGINT)
         AS fertility_ppm
FROM flagged
GROUP BY 1, 2
"""


QUERIES = {
    "text_vocab_coverage": q_text_vocab_coverage,
    "text_kneser_ney_score": q_text_kneser_ney_score,
    "text_vocab_transfer": q_text_vocab_transfer,
    "text_heaps_vocab_growth": q_text_heaps_vocab_growth,
    "text_filter_funnel": q_text_filter_funnel,
    "text_bpe_merge_step": q_text_bpe_merge_step,
    "text_pmi_collocations": q_text_pmi_collocations,
    "text_tokenizer_fertility": q_text_tokenizer_fertility,
    "text_rake_keyphrases": q_text_rake_keyphrases,
    "text_length_buckets": q_text_length_buckets,
    "text_entropy_score": q_text_entropy_score,
    "text_ngram_novelty": q_text_ngram_novelty,
    "text_token_stats": q_text_token_stats,
    "text_bpe_tokens": q_text_bpe_tokens,
    "text_quality_score": q_text_quality_score,
    "text_lang_id": q_text_lang_id,
    "text_word_freq": q_text_word_freq,
    "text_zipf_fit": q_text_zipf_fit,
    "text_fingerprint": q_text_fingerprint,
    "text_ngram_profile": q_text_ngram_profile,
    "text_sequence_pack": q_text_sequence_pack,
    "text_stratified_sample": q_text_stratified_sample,
    "text_pii_redact": q_text_pii_redact,
    "text_chunk_windows": q_text_chunk_windows,
    "text_tfidf_topk": q_text_tfidf_topk,
    "text_cross_doc_spans": q_text_cross_doc_spans,
    "text_perplexity_ngram": q_text_perplexity_ngram,
    "text_weighted_sample": q_text_weighted_sample,
    "text_inverted_index": q_text_inverted_index,
    "sketch_count_min": q_sketch_count_min,
}

ORACLE = {
    "text_vocab_coverage": _ORACLE_VOCAB_COVERAGE,
    "text_kneser_ney_score": _ORACLE_KNESER_NEY,
    "text_vocab_transfer": _ORACLE_VOCAB_TRANSFER,
    "text_heaps_vocab_growth": _ORACLE_HEAPS,
    "text_filter_funnel": _ORACLE_FUNNEL,
    "text_bpe_merge_step": _ORACLE_BPE_MERGE,
    "text_pmi_collocations": _ORACLE_PMI,
    "text_tokenizer_fertility": _ORACLE_FERTILITY,
    "text_rake_keyphrases": _ORACLE_RAKE,
    "text_length_buckets": _ORACLE_LENGTH_BUCKETS,
    "text_entropy_score": _ORACLE_ENTROPY,
    "text_ngram_novelty": _ORACLE_NOVELTY,
    "text_token_stats": _ORACLE_TOKEN_STATS,
    "text_bpe_tokens": _ORACLE_BPE,
    "text_quality_score": _ORACLE_QUALITY,
    "text_lang_id": _ORACLE_LANG_ID,
    "text_word_freq": _ORACLE_WORD_FREQ,
    "text_zipf_fit": _ORACLE_ZIPF,
    "text_fingerprint": _ORACLE_FINGERPRINT,
    "text_ngram_profile": _ORACLE_NGRAM,
    "text_sequence_pack": _ORACLE_SEQUENCE_PACK,
    "text_stratified_sample": _ORACLE_STRATIFIED,
    "text_pii_redact": _ORACLE_PII,
    "text_chunk_windows": _ORACLE_CHUNK_WINDOWS,
    "text_tfidf_topk": _ORACLE_TFIDF,
    "text_cross_doc_spans": _ORACLE_CROSS_SPANS,
    "text_perplexity_ngram": _ORACLE_PERPLEXITY,
    "text_weighted_sample": _ORACLE_WEIGHTED_SAMPLE,
    "text_inverted_index": _ORACLE_INVERTED,
    "sketch_count_min": _ORACLE_COUNT_MIN,
}
