"""Deduplication operators over ``documents`` (BASELINE.json north star:
exact, MinHash+LSH, SimHash, n-gram Jaccard — the LLM-corpus dedup stack).

Engineering choices that make these oracle-checkable AND scale-correct:

- Hashes are md5 (identical across engines). MinHash uses the
  *lexicographic* min of fixed-width hex substrings — equivalent to numeric
  min, but needs no hex→int conversion (which DuckDB lacks).
- Pairwise comparisons are always blocked (same lang, bounded length gap)
  — never a full cross join. At 100 TB the block key bounds each join
  bucket; the MinHash-LSH path replaces blocked-pairwise entirely:
  candidates come from band-bucket equality (an equi-join that shuffles
  only (band_key) groups), then exact Jaccard verifies the tiny candidate
  set. That is the textbook MinHash→band→bucket-join→verify pipeline.
- Everything is JVM array/string expressions — per-doc signature work is
  embarrassingly parallel, no UDFs, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cosine, sql_dot, sql_norm
from ..tables import load_table
from . import pin, spread
from .similarity import _SQL_EMB, _emb, _side

SHINGLE_LEN = 4
N_BANDS = 2
ROWS_PER_BAND = 4  # 8 minhashes total, banded (4,4): collision prob ≈ j^4
JACCARD_THRESHOLD = 0.35

# Length-band folded into every LSH band key (SCALE.md's named 100 TB risk:
# a boilerplate-dominated band bucket collecting docs of wildly different
# sizes). Base-4 geometric bands over the distinct-shingle count, computed
# integer-exactly on both engines as (length(bin(n)) - 1) div 2 — i.e.
# floor(log4 n) via binary-digit count, no float log. Lossless for verified
# output: J(A,B) >= t implies |A|/|B| >= t = 0.35 > 1/4, so |log4|A| -
# log4|B|| < 1 and the floor bands differ by at most 1; each doc emits its
# band key under BOTH len_band and len_band+1, so any pair within Jaccard
# reach still collides (same-band pairs collide twice; dropDuplicates
# collapses them). Cost: 2x banded rows; payoff: a band bucket can only
# ever hold docs from two adjacent length bands.
LEN_BAND_BASE = 4

# Short-text guard: Spark's sequence(1, 0) DESCENDS to [1, 0] (it never
# returns an empty array), so texts shorter than SHINGLE_LEN would yield
# phantom shingles while DuckDB's range(1, 1) is empty. CASE to array()
# keeps both engines agreeing that sub-shingle-length docs have no shingles.
_SPARK_SHINGLES = (
    f"CASE WHEN length(text) < {SHINGLE_LEN} THEN array()"
    f" ELSE array_distinct(transform(sequence(1, length(text) - {SHINGLE_LEN - 1}),"
    f" i -> substr(text, i, {SHINGLE_LEN}))) END"
)
_SQL_SHINGLES = (
    f"list_distinct(list_transform(range(1, greatest(length(text) - {SHINGLE_LEN - 2}, 1)),"
    f" i -> substr(text, CAST(i AS INT), {SHINGLE_LEN})))"
)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint (md5 of lowercased,
    whitespace-collapsed text): each doc maps to its group's canonical
    (min) doc_id and a duplicate flag. One hash-groupBy shuffle on the
    fingerprint — the exact-dedup plan at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    fp = spread(docs).select("doc_id", F.md5(norm).alias("fingerprint"))
    groups = fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("group_size")
    )
    return fp.join(groups, "fingerprint").select(
        "doc_id",
        "fingerprint",
        "canonical_doc_id",
        "group_size",
        (F.col("doc_id") != F.col("canonical_doc_id")).cast("int").alias("is_duplicate"),
    )


_ORACLE_EXACT = """
WITH fp AS (
  SELECT doc_id,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
  FROM documents
),
groups AS (
  SELECT fingerprint, min(doc_id) AS canonical_doc_id, count(*) AS group_size
  FROM fp GROUP BY fingerprint
)
SELECT f.doc_id, f.fingerprint, g.canonical_doc_id, g.group_size,
       CASE WHEN f.doc_id <> g.canonical_doc_id THEN 1 ELSE 0 END AS is_duplicate
FROM fp f JOIN groups g USING (fingerprint)
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise near-dup: within (lang, length-band) blocks, exact
    Jaccard over distinct char-4-gram sets; emit pairs over threshold.

    Scale note: the block key caps each join bucket; this is the
    verify-everything baseline the MinHash-LSH query approximates. At
    100 TB run LSH first and feed only candidates through this verifier.
    The join carries a size-ratio prune (jaccard ≥ t implies
    |A|/|B| ∈ [t, 1/t]) — provably lossless, so the oracle needs no
    matching clause, but it skips the array intersection for pairs that
    cannot clear the threshold.

    Cost law (measured round 11, SCALE.md): this entry is OUTPUT-bound,
    not plan-bound. At sf0.1, 64,725 of 314,594 in-block pairs (20.6%)
    clear jaccard ≥ 0.35 — the result set itself grows quadratically in
    block size (613 → 645 → 64,725 pairs across the three SFs, exactly
    100× over the top decade), so no lossless candidate prune can push
    the exponent below the output's own growth; the measured time
    exponent (+1.18/decade) is already BELOW the output exponent
    (+2.0/decade). The size-ratio prune keeps 100% of pairs here (a
    50-char len_band bounds sizes too tightly for the ratio to bite) and
    prefix filtering generates 40× MORE candidates at t=0.35 — both
    measured, see SCALE.md. The per-pair cost is minimized instead:
    |A∪B| is derived arithmetically as n_a + n_b − |A∩B| (exact for
    distinct arrays) so only ONE array op (the intersection) runs per
    pair, not two — ~20% faster at sf0.1, value-identical output.
    """
    docs = load_table(spark, sf_dir, "documents")
    # pin: both self-join sides consume the shingle arrays — materialized
    # once, so the char-4-gram construction doesn't run twice (and the
    # join reads reduced arrays, not text)
    sh = pin(
        spread(docs).select(
            "doc_id",
            "lang",
            (F.col("n_chars") - (F.col("n_chars") % 50)).alias("len_band"),
            F.expr(_SPARK_SHINGLES).alias("shingles"),
        ).withColumn("n_sh", F.size("shingles"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_band") == F.col("b.len_band"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # lossless prune: |A|/|B| must be within [0.34, 1/0.34]
            & (F.col("a.n_sh") * 100 >= F.col("b.n_sh") * 34)
            & (F.col("b.n_sh") * 100 >= F.col("a.n_sh") * 34),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            # one array op per pair: |A∪B| = n_a + n_b − |A∩B| exactly,
            # because shingles are array_distinct'd on both sides
            F.size(
                F.array_intersect(F.col("a.shingles"), F.col("b.shingles"))
            ).alias("_inter"),
            (F.col("a.n_sh") + F.col("b.n_sh")).alias("_sumsz"),
        )
        .select(
            "doc_a",
            "doc_b",
            "lang",
            F.round(
                F.col("_inter") / (F.col("_sumsz") - F.col("_inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


_ORACLE_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, lang,
         n_chars - (n_chars % 50) AS len_band,
         {_SQL_SHINGLES} AS shingles
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
FROM sh a
JOIN sh b ON a.lang = b.lang AND a.len_band = b.len_band AND a.doc_id < b.doc_id
WHERE ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) >= {JACCARD_THRESHOLD}
"""


def _sql_minhash(idx: int) -> str:
    """Minhash #idx for the oracle: lexicographic min over shingles of a
    fixed-width slice of an independently salted md5 — numeric-min
    equivalent, engine-portable. Independent digests per hash matter:
    slicing ONE digest into several hashes correlates the per-band minima
    and measurably inflates band collisions past the j^r model (tried and
    reverted)."""
    return (
        f"list_min(list_transform(shingles, s -> substr(md5('{idx}' || ':' || s), 1, 16)))"
    )


def lsh_band_table(sh: DataFrame) -> DataFrame:
    """Banded signature table (doc_id, band_idx, band_key) from a shingle
    table (doc_id, shingles).

    Signatures via ONE explode pass over the shingles: 8 independently
    salted md5 columns per (doc, shingle) row, collapsed by a map-side
    partial min per doc. Measured alternatives at sf0.1, with the scan
    spread to full width: hashing a distinct-shingle vocabulary and joining
    back is ~2.3× slower (two extra shuffles dwarf the saved md5 calls once
    hashing parallelizes), and per-doc array_min(transform(...)) is ~5×
    slower (8 serial array traversals per doc, no partial agg). Independent
    digests per hash are load-bearing: slicing one digest into several
    hashes correlates the per-band minima and inflates band collisions past
    the j^r model (tried 16-bit and 32-bit slicing; both reverted).

    Each band key carries a ``#<len_band>`` suffix (see LEN_BAND_BASE):
    the distinct-shingle count (``count(*)`` of the same explode pass the
    minima ride on — free) is banded base-4, and every (doc, band) emits
    two rows, at len_band and len_band+1, so pairs within Jaccard reach of
    the 0.35 threshold always still collide while a bucket is capped at
    two adjacent length bands."""
    n_hashes = N_BANDS * ROWS_PER_BAND
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    hash_cols = [
        F.substring(
            F.md5(F.concat(F.lit(str(i)), F.lit(":"), F.col("s"))), 1, 16
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    sig = (
        ex.select("doc_id", *hash_cols)
        .groupBy("doc_id")
        .agg(
            *[F.min(f"h{i}").alias(f"h{i}") for i in range(n_hashes)],
            F.count("*").alias("n_sh"),
        )
    )
    # integer-exact floor(log4(n_sh)): binary-digit count, no float log
    sig = sig.withColumn("len_band", F.expr("(length(bin(n_sh)) - 1) div 2"))
    entries = []
    for b in range(N_BANDS):
        bk = F.concat_ws(
            "|", *[f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        )
        for off in (0, 1):
            entries.append(
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.concat(
                        bk, F.lit("#"), (F.col("len_band") + off).cast("string")
                    ).alias("band_key"),
                )
            )
    return sig.select("doc_id", F.explode(F.array(*entries)).alias("e")).select(
        "doc_id", F.col("e.band_idx").alias("band_idx"), F.col("e.band_key").alias("band_key")
    )


def lsh_candidates(banded: DataFrame) -> DataFrame:
    """Candidate pairs = docs sharing ≥1 (band_idx, band_key) bucket — the
    equi-join that replaces all-pairs; shuffles only band keys and bare ids."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def lsh_front(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """MinHash-LSH front half over any (doc_id, text) frame: (cached
    shingle table, cached banded signatures, candidate pairs). The LSH
    entries call it directly.

    Reuse: a second build over the same input plans identically, and
    Spark's cache manager serves an identical plan from the first build's
    cached data, so the dedup family costs one signature pass per session.
    A caller that rewrites ``documents.parquet`` under the same path must
    call ``spark.catalog.clearCache()`` first, as for every persisted
    intermediate in this package (``fresh_build`` does)."""
    # Filter on text length, not on size(shingles): the two are equivalent
    # (shingles is empty iff length(text) < SHINGLE_LEN, and null text is
    # dropped by both), but a size(shingles) predicate gets pushed below
    # the spread() exchange with the ALIASED EXPRESSION substituted in —
    # the whole interpreted shingle transform then evaluates serially in
    # the single scan task as a filter condition before running AGAIN in
    # parallel above the exchange (measured: 1.9 s of the 2.2 s shingle
    # stage at sf0.1). The length predicate pushes to the scan for free.
    # Both tables are cached: the shingle table feeds the signature pass
    # and both sides of the verify join, the banded table both sides of the
    # candidate self-join. cache() (MEMORY_AND_DISK_DESER), not pin()
    # (serialized MEMORY_AND_DISK), which would change the plan text and
    # the storage cost.
    sh = (
        spread(docs.filter(F.length("text") >= SHINGLE_LEN))
        .select("doc_id", F.expr(_SPARK_SHINGLES).alias("shingles"))
        .cache()
    )
    banded = lsh_band_table(sh).cache()
    return sh, banded, lsh_candidates(banded)


def _verify_pairs(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: shingle arrays are
    joined back to the bare pairs only here — never carried through the
    band shuffle."""
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    verified = cand.join(sha, "doc_a").join(shb, "doc_b")
    # one array op per pair (r11): |A∪B| = |A| + |B| − |A∩B| exactly for
    # the array_distinct'd shingle sets — skips materializing the union
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = F.round(inter / (F.size("sh_a") + F.size("sh_b") - inter), 6)
    return verified.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pipeline: shingle → 8 minhashes → 4 bands of
    2 → candidate pairs share ≥1 band bucket (equi-join on band_key) →
    verified with exact Jaccard. Emits verified pairs with their Jaccard.

    This is the 100 TB dedup plan: signature computation is per-row
    (narrow), the bucket join shuffles only band keys, and exact
    verification touches only candidates. Banding (b=2, r=4) makes the
    match probability 1-(1-j^4)^2 — near zero below j≈0.4, so a
    self-similar corpus cannot explode the candidate set.

    Shuffle discipline: the band join and pair-dedup run on BARE
    (doc_a, doc_b) pairs; shingle arrays are re-joined only for the final
    verification — never carried through the wide shuffle.
    """
    sh, _banded, cand = lsh_front(load_table(spark, sf_dir, "documents"))
    return _verify_pairs(sh, cand)


def q_dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end LSH→verify composition as a duplicate-pair REPORT:
    LSH candidates, exact-Jaccard verified, joined back to document
    metadata (lang, source, length) for both pair members — the row a
    dedup pipeline actually emits to its kill-list writer.

    This materializes the architecture `q_dedup_ngram_jaccard` documents:
    blocked-pairwise is the exact verifier, LSH is the 100 TB candidate
    generator, and this query is the production composition of the two
    (band-bucket equi-join → bare-pair shuffle → candidates-only verify →
    one broadcast-able metadata join). At sf0.1 it runs in seconds where
    the blocked-pairwise baseline takes ~59 s."""
    sh, _banded, cand = lsh_front(load_table(spark, sf_dir, "documents"))
    pairs = _verify_pairs(sh, cand)
    docs = load_table(spark, sf_dir, "documents")
    meta_a = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("source_a"),
        F.col("n_chars").alias("n_chars_a"),
    )
    meta_b = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("n_chars").alias("n_chars_b"),
    )
    return (
        pairs.join(meta_a, "doc_a")
        .join(meta_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "lang_a",
            "lang_b",
            (F.col("lang_a") == F.col("lang_b")).cast("int").alias("same_lang"),
            "source_a",
            (F.col("n_chars_a") - F.col("n_chars_b")).alias("len_delta"),
            # the dedup decision: keep the smaller doc_id, kill the larger
            F.col("doc_b").alias("kill_doc_id"),
        )
    )


# The shared shingle→minhash→band→candidate CTE prefix, used verbatim by
# all three LSH oracles (_ORACLE_MINHASH, _ORACLE_LSH_VERIFIED,
# _ORACLE_CLUSTER_CC) so a banding change can never leave the
# cross-checks certifying different candidate sets. MATERIALIZED hints
# are load-bearing for the recursive CC oracle: without them DuckDB may
# re-evaluate the whole pipeline per recursion round (observed: minutes
# at sf0.1 vs seconds) — and they are harmless for the other two.
# Mirrors the Spark side's length banding exactly (same '#' || floor(log4
# n_shingles) suffix via binary-digit count, same two-offset emission), so
# the engines certify identical CANDIDATE sets, not merely identical
# verified output.
_SQL_LSH_CTES = f"""sh AS MATERIALIZED (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles
  FROM documents
  WHERE len({_SQL_SHINGLES}) > 0
),
banded AS MATERIALIZED (
  SELECT doc_id, b.band_idx,
         (CASE b.band_idx
           WHEN 0 THEN {_sql_minhash(0)} || '|' || {_sql_minhash(1)} || '|' || {_sql_minhash(2)} || '|' || {_sql_minhash(3)}
           ELSE {_sql_minhash(4)} || '|' || {_sql_minhash(5)} || '|' || {_sql_minhash(6)} || '|' || {_sql_minhash(7)}
         END) || '#' ||
         CAST(((length(bin(len(shingles))) - 1) // 2) + lb.off AS VARCHAR) AS band_key
  FROM sh, (VALUES (0), (1)) AS b(band_idx), (VALUES (0), (1)) AS lb(off)
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)"""


_ORACLE_MINHASH = f"""
WITH {_SQL_LSH_CTES},
verified AS (
  SELECT c.doc_a, c.doc_b, sa.shingles AS sh_a, sb.shingles AS sh_b
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       ROUND(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / len(list_distinct(list_concat(sh_a, sh_b))), 6) AS jaccard
FROM verified
WHERE ROUND(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
            / len(list_distinct(list_concat(sh_a, sh_b))), 6) >= {JACCARD_THRESHOLD}
"""


_ORACLE_LSH_VERIFIED = f"""
WITH {_SQL_LSH_CTES},
pairs AS (
  SELECT c.doc_a, c.doc_b,
         ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b
)
SELECT p.doc_a, p.doc_b, p.jaccard,
       da.lang AS lang_a, db.lang AS lang_b,
       CASE WHEN da.lang = db.lang THEN 1 ELSE 0 END AS same_lang,
       da.source AS source_a,
       da.n_chars - db.n_chars AS len_delta,
       p.doc_b AS kill_doc_id
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
WHERE p.jaccard >= {JACCARD_THRESHOLD}
"""


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014 — public algorithm): for every node
    v, connect each strictly-LARGER neighbor u to m = min(Γ(v) ∪ {v}).
    Input/output are canonical directed edges (src > dst); the symmetric
    neighbor view is built internally. Output stays canonical because
    m ≤ v < u for every emitted (u, m). Plan shape: one groupBy(src) +
    one equi-join on src (same key — the exchange is reused) + a distinct;
    every stage is keyed on node, no window, no cartesian."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.col("src")).alias("__cc_m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("__cc_m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round (same paper): edges directed large→small are
    grouped at the larger endpoint v; with m = min(N(v)) (all neighbors
    are < v in this orientation, so m = min(N(v) ∪ {v}) too), connect v
    and every other smaller neighbor to m. Output is canonical (src > dst)
    by construction: part one emits (u, m) with u > m (the u = m row is
    filtered), part two emits (v, m) with v > m."""
    mins = edges.groupBy("src").agg(F.min("dst").alias("__cc_m"))
    joined = edges.join(mins, "src")
    to_min = joined.filter(F.col("dst") != F.col("__cc_m")).select(
        F.col("dst").alias("src"), F.col("__cc_m").alias("dst")
    )
    center = joined.select("src", F.col("__cc_m").alias("dst"))
    return to_min.unionByName(center).distinct()


def connected_components(pairs: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Connected components over an undirected edge list (``doc_a``,
    ``doc_b``) via alternating large-star/small-star rounds (Kiveris et
    al. 2014). Returns (node, label) with label = the component's minimum
    node id.

    Why stars instead of min-label propagation: propagation (even with
    pointer jumping) needs a number of rounds that depends on the GRAPH —
    O(log diameter) — so a pathological long-chain duplicate graph can
    exhaust any fixed round budget (the r12 implementation raised after
    ``max_rounds`` for exactly that reason). Star rounds rewrite the EDGE
    SET itself toward a union of single-level stars and converge in
    O(log² n) alternating rounds regardless of diameter, with each round's
    intermediate size bounded by the input edge count — the 100 TB-safe
    shape. Each round is two groupBy+join pairs keyed on node (exchange
    reuse per phase), localCheckpoint truncates lineage so plans stay
    flat.

    Convergence detection is EXACT and STRUCTURAL: a canonical edge set
    (src > dst) is a fixpoint of both phases iff it is a star forest —
    every src has out-degree exactly 1 and no src also appears as a dst
    (the center of a canonical star is automatically its component's
    minimum, since every edge points larger→smaller). That property is
    one aggregation job over the checkpointed step output (src/dst
    multisets unioned with a marker, grouped by node, any violation row
    short-circuits via limit(1)), gated on count stability so early
    rounds pay nothing — and unlike the former ``new = old`` set-equality
    probe it certifies the CURRENT round's output directly, so no extra
    confirmation round runs after the fixpoint is reached. Checkpoints
    are lazy (``eager=False``): the count that drives the gate is the
    job that materializes the round, halving the per-round job count.
    Labels then read directly off the star edges: every non-root node
    has exactly one edge to its root; roots label themselves."""
    edges = (
        pairs.select(
            F.greatest("doc_a", "doc_b").alias("src"),
            F.least("doc_a", "doc_b").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count()
    converged = n_edges == 0
    for _ in range(max_rounds):
        if converged:
            break
        stepped = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        n_new = stepped.count()
        if n_new == n_edges:
            nodes = stepped.select(
                F.col("src").alias("node"), F.lit(1).alias("is_src")
            ).unionAll(
                stepped.select(F.col("dst").alias("node"), F.lit(0).alias("is_src"))
            )
            violations = (
                nodes.groupBy("node")
                .agg(F.sum("is_src").alias("s"), F.count("*").alias("c"))
                .filter(
                    (F.col("s") > 1)
                    | ((F.col("s") >= 1) & (F.col("c") > F.col("s")))
                )
            )
            converged = violations.limit(1).count() == 0
        edges, n_edges = stepped, n_new
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} "
            f"large-star/small-star rounds (theoretical bound is "
            f"O(log^2 n); raise max_rounds)"
        )
    # Post-convergence readout exploits the certified star-forest shape:
    # each src appears exactly once and never as a dst, so leaves ∪ roots
    # is already one row per node — the former groupBy(node) dedup pass
    # is structurally redundant and dropped.
    leaves = edges.select(F.col("src").alias("node"), F.col("dst").alias("label"))
    roots = (
        edges.select(F.col("dst").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    return leaves.unionByName(roots)


def q_dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    LSH-verified duplicate-pair graph — each doc in any verified pair gets
    cluster_id = the smallest doc_id reachable through duplicate edges,
    plus the cluster size. This is the step that turns pairwise dedup
    output into keep/kill groups (keep the cluster minimum, kill the
    rest). The loop itself is :func:`connected_components`, also
    property-tested on synthetic chain/clique/forest graphs against a
    driver-side union-find.

    The DuckDB oracle computes reachability with a recursive CTE — a
    genuinely different algorithm arriving at the identical fixpoint,
    which is the strongest kind of cross-check."""
    sh, _banded, cand = lsh_front(load_table(spark, sf_dir, "documents"))
    pairs = _verify_pairs(sh, cand).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


_ORACLE_CLUSTER_CC = f"""
WITH RECURSIVE {_SQL_LSH_CTES},
pairs AS MATERIALIZED (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b
  WHERE ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6)
        >= {JACCARD_THRESHOLD}
),
-- MATERIALIZED hints matter: edges feeds every recursion round of
-- `reach`, and without them DuckDB may re-evaluate the whole
-- shingle->minhash->band pipeline per round (observed: minutes at sf0.1
-- vs seconds materialized)
edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(node, label) AS (
  SELECT src, src FROM edges GROUP BY src
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
clusters AS (
  SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
)
SELECT c.doc_id, c.cluster_id, s.cluster_size
FROM clusters c
JOIN (SELECT cluster_id, count(*) AS cluster_size
      FROM clusters GROUP BY cluster_id) s USING (cluster_id)
"""


SIMHASH_BITS = 16


def _spark_simhash_expr() -> str:
    """Spark SQL expression for the 16-bit SimHash bitstring of ``text``:
    bit j is the sign of the sum over tokens of ±1 derived from the parity
    of md5-hex nibble j. Shared by q_dedup_simhash and the selection
    module's training-mix composite (DuckDB twin: :func:`_sql_simhash_bits`).

    Written as ONE fold carrying a {SIMHASH_BITS}-slot vote array so each
    token is md5-hashed exactly once: the earlier per-bit formulation
    embedded ``md5(t)`` in {SIMHASH_BITS} independent aggregates, and with
    higher-order functions interpreted (no codegen, no common-subexpression
    elimination) that multiplied the hash work 16× (measured ~3 s of pure
    md5 at sf0.1). Vote order per bit is an integer sum — commutative, so
    the fold is order-independent and the emitted bitstring is unchanged."""
    toks = "filter(split(text, '\\\\s+'), t -> length(t) > 0)"
    # transform-to-md5 appears exactly ONCE in the expression tree, so the
    # interpreter evaluates it once per row (one hash per token); the fold
    # then reads nibbles of the precomputed digest h
    hashes = f"transform({toks}, t -> md5(t))"
    vote = (
        "CASE WHEN (position(substr(h, j, 1) IN '0123456789abcdef') - 1) % 2 = 1 "
        "THEN 1 ELSE -1 END"
    )
    return (
        f"concat_ws('', transform(aggregate({hashes}, "
        f"array_repeat(0, {SIMHASH_BITS}), "
        f"(acc, h) -> zip_with(acc, sequence(1, {SIMHASH_BITS}), (a, j) -> a + {vote})), "
        f"v -> CASE WHEN v >= 0 THEN '1' ELSE '0' END))"
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SimHash (16-bit): near-dup docs differ in few bits; the
    signature is groupable/bucketable at scale. Emitted as a bitstring plus
    the size of its signature bucket.
    """
    docs = load_table(spark, sf_dir, "documents")
    sig = spread(docs).select(
        "doc_id", "lang", F.expr(_spark_simhash_expr()).alias("simhash")
    )
    buckets = sig.groupBy("simhash").agg(F.count("*").alias("bucket_size"))
    return sig.join(buckets, "simhash").select(
        "doc_id", "lang", "simhash", "bucket_size"
    )


def _sql_simhash_bits() -> str:
    toks = "list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0)"
    parts = []
    for j in range(SIMHASH_BITS):
        parts.append(
            f"CASE WHEN list_sum(list_transform({toks}, t -> "
            f"CASE WHEN (strpos('0123456789abcdef', substr(md5(t), {j + 1}, 1)) - 1) % 2 = 1 "
            f"THEN 1 ELSE -1 END)) >= 0 THEN '1' ELSE '0' END"
        )
    return " || ".join(parts)


_ORACLE_SIMHASH = f"""
WITH sig AS (
  SELECT doc_id, lang, {_sql_simhash_bits()} AS simhash
  FROM documents
),
buckets AS (
  SELECT simhash, count(*) AS bucket_size FROM sig GROUP BY simhash
)
SELECT s.doc_id, s.lang, s.simhash, b.bucket_size
FROM sig s JOIN buckets b USING (simhash)
"""


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: vector pairs with cosine ≥ 0.3 inside
    label blocks (threshold fit to this synthetic data — max intra-label
    cosine is ~0.45) — semantic dedup, the complement of the lexical methods.
    Blocked by label here; at 100 TB the block key becomes an LSH bucket or
    IVF cell (see operators.similarity) so candidates stay bounded."""
    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("vec_a"), "label", *_side("a"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("lb"), *_side("b"))
    cos = F.round(cosine("av", "bv", "na", "nb"), 6)
    return (
        a.join(b, (F.col("label") == F.col("lb")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", "label", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
    )


_ORACLE_EMB_COSINE = f"""
WITH e AS ({_SQL_EMB}),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
         ROUND({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')}), 6) AS cosine
  FROM (SELECT vec_id, label, v AS av FROM e) a
  JOIN (SELECT vec_id, label AS lb, v AS bv FROM e) b
    ON a.label = b.lb AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, label, cosine
FROM pairs
WHERE cosine >= 0.3
"""


CONTAINMENT_THRESHOLD = 0.5


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup report: |A∩B| / min(|A|,|B|) over the LSH
    candidate pairs — the asymmetric overlap measure that catches a
    document largely CONTAINED in another (quotes, boilerplate wrappers)
    where symmetric Jaccard stays low.

    Scope note, stated honestly: candidates come from the same MinHash band
    buckets as `dedup_minhash_lsh`, whose length banding caps pairs at
    adjacent base-4 size bands — so this reports containment among
    near-size pairs. Full asymmetric containment search (tiny doc inside a
    100× document) needs a different candidate generator (suffix-array or
    asymmetric-LSH); on the kill-list path the near-size case is the
    dominant one.

    Plan shape: identical to the verified-LSH pipeline — band-bucket
    equi-join candidates, then shingle arrays joined back to the bare
    pairs only for the final per-pair fold. Its front half plans the same
    as the other LSH entries', so Spark's cache manager serves it from
    their cached tables and the whole dedup family costs ONE signature
    pass per session (see lsh_front)."""
    sh, _banded, cand = lsh_front(load_table(spark, sf_dir, "documents"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    joined = cand.join(sha, "doc_a").join(shb, "doc_b")
    containment = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.least(F.size("sh_a"), F.size("sh_b")),
        6,
    )
    return (
        joined.select(
            "doc_a",
            "doc_b",
            F.size("sh_a").cast("bigint").alias("n_sh_a"),
            F.size("sh_b").cast("bigint").alias("n_sh_b"),
            containment.alias("containment"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
    )


_ORACLE_CONTAINMENT = f"""
WITH {_SQL_LSH_CTES},
verified AS (
  SELECT c.doc_a, c.doc_b, sa.shingles AS sh_a, sb.shingles AS sh_b
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       CAST(len(sh_a) AS BIGINT) AS n_sh_a,
       CAST(len(sh_b) AS BIGINT) AS n_sh_b,
       ROUND(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / least(len(sh_a), len(sh_b)), 6) AS containment
FROM verified
WHERE ROUND(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
            / least(len(sh_a), len(sh_b)), 6) >= {CONTAINMENT_THRESHOLD}
"""


SEMDEDUP_K = 4  # clusters (seeded from the first vectors, kmeans convention)
SEMDEDUP_TAU = 0.35  # within-cluster cosine above which the larger id drops
# (fit to the synthetic embeddings: max pairwise cosine ~0.51; 0.35 drops
# ~19% of the sf0.01 corpus — the drop-rate band real SemDeDup runs target.
# 0.25 dropped 75%, 0.45 only 1%.)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space, then compare pairs ONLY within a cluster and drop
    every vector that has a near-duplicate with a smaller id — the
    embedding-space analogue of the MinHash kill list. Differs from
    ``dedup_embedding_cosine`` in both blocking and output: blocks are
    DERIVED k-means cells (broadcast-centroid argmax assignment, the
    sim_kmeans_step plan), not a given label column, and the result is the
    per-vector keep/drop verdict a curation pipeline consumes, not the raw
    pair list.

    Determinism: assignment and pair cosines round to 6 decimals before any
    comparison (the module's fold discipline makes the pre-round doubles
    bit-identical), with centroid-id / vec-id tiebreaks.

    Plan shape at 100 TB: centroids broadcast; assignment is a map-side-
    combinable max_by argmax over the k-row broadcast expansion (no window
    sort — the partial aggregate keeps one candidate per vector, so the
    shuffle carries ~n rows, not n·k); the within-cluster self-join is the
    honest quadratic — bounded because SemDeDup scales k with corpus size
    (k ~ n/cell_size keeps cells constant-sized), so pairs stay
    O(n · cell_size). The cluster key is the shuffle key; skewed cells
    split under AQE. Each vector's norm is computed ONCE (``_emb``'s nv)
    and carried through assignment into the pair join, so the quadratic
    stage evaluates a single interpreted array fold (the dot product) per
    pair instead of three.
    Here k={SEMDEDUP_K} seeds from the first vectors keep both engines'
    codebooks identical; a production build iterates sim_kmeans_step
    first."""
    e = _emb(spark, sf_dir)
    cent = F.broadcast(
        e.filter(F.col("vec_id") < SEMDEDUP_K).select(
            F.col("vec_id").alias("centroid_id"), *_side("b")
        )
    )
    # argmax with the (c_cos DESC, centroid_id ASC) tiebreak as max_by over
    # struct(c_cos, -centroid_id) — the identical winner to the former
    # row_number window, minus its n·k-row sort shuffle; v and nv ride along
    # under the same ordering (every candidate row of a vector carries the
    # same v and nv)
    ordk = F.struct(F.col("c_cos"), (-F.col("centroid_id")).alias("neg_cid"))
    assigned = pin(
        e.crossJoin(cent)
        .select(
            "vec_id",
            "v",
            "nv",
            "centroid_id",
            F.round(cosine("v", "bv", "nv", "nb"), 6).alias("c_cos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by("centroid_id", ordk).alias("cluster"),
            F.max_by("v", ordk).alias("v"),
            F.max_by("nv", ordk).alias("nv"),
        )
    )
    a = assigned.select(F.col("vec_id").alias("vec_a"), "cluster", *_side("a"))
    b = assigned.select(
        F.col("vec_id").alias("vec_b"), F.col("cluster").alias("cl_b"), *_side("b")
    )
    near = (
        a.join(b, (F.col("cluster") == F.col("cl_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_b", F.round(cosine("av", "bv", "na", "nb"), 6).alias("cosine"))
        .filter(F.col("cosine") >= SEMDEDUP_TAU)
        .groupBy("vec_b")
        .agg(F.count("*").alias("n_near"), F.max("cosine").alias("max_cosine"))
    )
    return assigned.join(near, assigned.vec_id == near.vec_b, "left").select(
        "vec_id",
        "cluster",
        F.coalesce("n_near", F.lit(0)).cast("bigint").alias("n_near_smaller"),
        F.coalesce("max_cosine", F.lit(0.0)).alias("max_cosine"),
        (F.col("n_near").isNotNull()).cast("int").alias("dropped"),
    )


_ORACLE_SEMANTIC = f"""
WITH e AS ({_SQL_EMB}),
cent AS (SELECT vec_id AS centroid_id, v AS bv FROM e WHERE vec_id < {SEMDEDUP_K}),
assigned AS (
  SELECT vec_id, centroid_id AS cluster, v FROM (
    SELECT e.vec_id, c.centroid_id, e.v,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND({sql_dot('v', 'bv')} /
                        ({sql_norm('v')} * {sql_norm('bv')}), 6) DESC,
                      c.centroid_id ASC) AS rk
    FROM e, cent c) WHERE rk = 1
),
near AS (
  SELECT b.vec_id AS vec_b, count(*) AS n_near, max(cosine) AS max_cosine
  FROM (
    SELECT a.vec_id AS va, b.vec_id,
           ROUND({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')}), 6) AS cosine
    FROM (SELECT vec_id, cluster, v AS av FROM assigned) a
    JOIN (SELECT vec_id, cluster AS cl_b, v AS bv FROM assigned) b
      ON a.cluster = b.cl_b AND a.vec_id < b.vec_id
  ) b
  WHERE cosine >= {SEMDEDUP_TAU}
  GROUP BY b.vec_id
)
SELECT a.vec_id, a.cluster,
       CAST(coalesce(n.n_near, 0) AS BIGINT) AS n_near_smaller,
       coalesce(n.max_cosine, 0.0) AS max_cosine,
       CASE WHEN n.vec_b IS NULL THEN 0 ELSE 1 END AS dropped
FROM assigned a LEFT JOIN near n ON n.vec_b = a.vec_id
"""


# (bands, rows-per-band) factorizations of the SAME 8 minhashes: the
# collision probability for a pair at Jaccard j is 1-(1-j^r)^b, so the
# sweep walks the curve from strict (1x8: j^8) to loose (4x2: catches low-j
# pairs, floods candidates). Tuning b/r against measured precision/recall
# is THE operational decision of an LSH dedup rollout.
LSH_SWEEP_CONFIGS = ((1, 8), (2, 4), (4, 2))

# The sweep measures on a deterministic 1-in-SWEEP_SAMPLE_MOD document
# sample — exactly how a production rollout tunes (b, r): the loose 4x2
# config's candidate volume is quadratic in near-dup cluster sizes (at
# sf0.1 the FULL corpus yields 2.1M 4x2 candidates), so sweeping the whole
# corpus would cost a large fraction of running the dedup itself. The
# sample keeps every config's precision/recall estimate while bounding the
# quadratic term by 1/MOD²; doc_id is uniform, so id-mod sampling is
# unbiased and engine-identical.
SWEEP_SAMPLE_MOD = 4


def q_dedup_lsh_tuning_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding-parameter sweep — the tuning report a dedup rollout
    runs before fixing (b, r): for each factorization of the same 8
    minhashes, the candidate-pair volume (cost), the exactly-verified
    duplicates among them (yield), precision, and pooled recall (verified
    ÷ the union of verified pairs across ALL configs — the standard
    pooled-ground-truth trick when exhaustive pairwise truth is
    unaffordable, which at 100 TB it always is). Runs on a deterministic
    1-in-SWEEP_SAMPLE_MOD id-mod document sample (see the constant's
    rationale: the loose config's candidate volume is quadratic in
    cluster sizes, and tuning is a sampled measurement by nature).

    Plan: ONE signature pass (8 md5 minima per doc, pinned) feeds every
    config's band table; candidates per config come from the same
    band-bucket equi-join the production pipeline uses (length-band
    suffixes included, so bucket-size bounds hold during the sweep too);
    exact verification runs ONCE over the union of candidates (the 4x2
    superset), then attributes per config by an equi-join. Counts and
    ratios are exact integer ppm."""
    sh_full, _banded, _cand = lsh_front(load_table(spark, sf_dir, "documents"))
    sh = sh_full.filter(F.col("doc_id") % SWEEP_SAMPLE_MOD == 0)
    n_hashes = 8
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    hash_cols = [
        F.substring(
            F.md5(F.concat(F.lit(str(i)), F.lit(":"), F.col("s"))), 1, 16
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    sig = pin(
        ex.select("doc_id", *hash_cols)
        .groupBy("doc_id")
        .agg(
            *[F.min(f"h{i}").alias(f"h{i}") for i in range(n_hashes)],
            F.count("*").alias("n_sh"),
        )
        .withColumn("len_band", F.expr("(length(bin(n_sh)) - 1) div 2"))
    )
    entries = []
    for nb, rpb in LSH_SWEEP_CONFIGS:
        cfg = f"{nb}x{rpb}"
        for bi in range(nb):
            bk = F.concat_ws("|", *[f"h{bi * rpb + ri}" for ri in range(rpb)])
            for off in (0, 1):
                entries.append(
                    F.struct(
                        F.lit(cfg).alias("cfg"),
                        F.lit(bi).alias("band_idx"),
                        F.concat(
                            bk, F.lit("#"), (F.col("len_band") + off).cast("string")
                        ).alias("band_key"),
                    )
                )
    banded = sig.select("doc_id", F.explode(F.array(*entries)).alias("e")).select(
        "doc_id", "e.cfg", "e.band_idx", "e.band_key"
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = pin(
        a.join(
            b,
            (F.col("a.cfg") == F.col("b.cfg"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.cfg").alias("cfg"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["cfg", "doc_a", "doc_b"])
    )
    union_pairs = cand.select("doc_a", "doc_b").dropDuplicates()
    vpairs = pin(_verify_pairs(sh, union_pairs).select("doc_a", "doc_b"))
    pooled = F.broadcast(
        vpairs.agg(F.count("*").cast("bigint").alias("n_pooled"))
    )
    pc = cand.groupBy("cfg").agg(
        F.count("*").cast("bigint").alias("n_candidates")
    )
    pv = (
        cand.join(vpairs, ["doc_a", "doc_b"])
        .groupBy("cfg")
        .agg(F.count("*").cast("bigint").alias("n_verified"))
    )
    return (
        pc.join(pv, "cfg", "left")
        .na.fill(0, ["n_verified"])
        .crossJoin(pooled)
        .select(
            "cfg",
            F.split("cfg", "x").getItem(0).cast("int").alias("n_bands"),
            F.split("cfg", "x").getItem(1).cast("int").alias("rows_per_band"),
            "n_candidates",
            "n_verified",
            F.when(
                F.col("n_candidates") > 0,
                F.expr("CAST((1000000 * n_verified) DIV n_candidates AS BIGINT)"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("precision_ppm"),
            F.when(
                F.col("n_pooled") > 0,
                F.expr("CAST((1000000 * n_verified) DIV n_pooled AS BIGINT)"),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )


def _sweep_band_selects() -> str:
    sels = []
    for nb, rpb in LSH_SWEEP_CONFIGS:
        cfg = f"{nb}x{rpb}"
        for bi in range(nb):
            key = " || '|' || ".join(f"h{bi * rpb + ri}" for ri in range(rpb)) or "''"
            sels.append(
                f"SELECT doc_id, '{cfg}' AS cfg, {bi} AS band_idx, "
                f"({key}) || '#' || CAST(len_band + lb.off AS VARCHAR) AS band_key "
                f"FROM sig, (VALUES (0), (1)) AS lb(off)"
            )
    return " UNION ALL ".join(sels)


_ORACLE_LSH_SWEEP = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles
  FROM documents
  WHERE len({_SQL_SHINGLES}) > 0 AND doc_id % {SWEEP_SAMPLE_MOD} = 0
),
sig AS MATERIALIZED (
  SELECT doc_id,
         {', '.join(f'{_sql_minhash(i)} AS h{i}' for i in range(8))},
         ((length(bin(len(shingles))) - 1) // 2) AS len_band
  FROM sh
),
banded AS MATERIALIZED ({_sweep_band_selects()}),
cand AS MATERIALIZED (
  SELECT DISTINCT a.cfg, a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN banded b ON a.cfg = b.cfg AND a.band_idx = b.band_idx
               AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
up AS (SELECT DISTINCT doc_a, doc_b FROM cand),
vp AS MATERIALIZED (
  SELECT u.doc_a, u.doc_b
  FROM up u
  JOIN sh sa ON sa.doc_id = u.doc_a
  JOIN sh sb ON sb.doc_id = u.doc_b
  WHERE ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6)
        >= {JACCARD_THRESHOLD}
),
pooled AS (SELECT CAST(count(*) AS BIGINT) AS n_pooled FROM vp),
pc AS (SELECT cfg, CAST(count(*) AS BIGINT) AS n_candidates FROM cand GROUP BY cfg),
pv AS (
  SELECT c.cfg, CAST(count(*) AS BIGINT) AS n_verified
  FROM cand c JOIN vp ON c.doc_a = vp.doc_a AND c.doc_b = vp.doc_b
  GROUP BY c.cfg
)
SELECT pc.cfg,
       CAST(string_split(pc.cfg, 'x')[1] AS INT) AS n_bands,
       CAST(string_split(pc.cfg, 'x')[2] AS INT) AS rows_per_band,
       pc.n_candidates,
       CAST(coalesce(pv.n_verified, 0) AS BIGINT) AS n_verified,
       CASE WHEN pc.n_candidates > 0
            THEN CAST((1000000 * coalesce(pv.n_verified, 0)) // pc.n_candidates AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS precision_ppm,
       CASE WHEN n_pooled > 0
            THEN CAST((1000000 * coalesce(pv.n_verified, 0)) // n_pooled AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS recall_ppm
FROM pc LEFT JOIN pv USING (cfg), pooled
"""


# ---------------------------------------------------------------------------
# Incremental (cross-batch) dedup: the arriving-batch-vs-historical-corpus
# shape every continuously-ingesting pipeline runs (new crawl snapshot vs.
# everything already kept). The historical side is summarized as a
# deterministic Bloom filter over content fingerprints; only bloom-POSITIVE
# batch docs reach the exact verification join, so the (huge) historical
# fingerprint set is never anti-joined against the whole batch.
INCR_BATCH_MOD = 5  # doc_id % 5 == 0 → "new batch", else "historical"


def q_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an arriving batch (doc_id % 5 == 0) against the historical
    corpus (the rest) with a Bloom-filter prefilter on the exact-dedup
    content fingerprint, then exact-verify only the bloom positives.
    Reports, per source: batch size, bloom positives, true duplicates,
    false positives, and the docs kept.

    Scale shape: the bloom bit set is AT MOST m = 65536 rows regardless of
    corpus size — it broadcasts, and the membership decision is K chained
    broadcast left joins (the batch never shuffles to be classified). Only
    the positives — true dups + the bloom's ~(n/m)^K false-positive tail —
    carry into the exact fingerprint equi-join against the historical set,
    which is the one key-partitioned shuffle in the plan. The Bloom
    no-false-negative guarantee (pinned by the `sketch_bloom_membership`
    pytest) makes the prefilter lossless for dedup. Reuses the
    deterministic salted-md5 bit positions from relational2 so both
    engines compute identical bits."""
    from .relational2 import BLOOM_K, _bloom_positions

    docs = spread(load_table(spark, sf_dir, "documents"))
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    fps = docs.select(
        "doc_id", "source", F.md5(norm).alias("fp"),
        (F.col("doc_id") % INCR_BATCH_MOD == 0).alias("is_batch"),
    )
    hist = pin(fps.filter(~F.col("is_batch")).select("fp").distinct())
    bits = hist.select(
        F.explode(F.array(*_bloom_positions(F.col("fp")))).alias("pos")
    ).distinct()
    probe = fps.filter("is_batch").select(
        "doc_id",
        "source",
        "fp",
        *[
            p.alias(f"pos_{i}")
            for i, p in enumerate(_bloom_positions(F.col("fp")))
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
        sum(F.coalesce(f"hit_{i}", F.lit(0)) for i in range(BLOOM_K)) == BLOOM_K
    )
    flagged = tested.select("doc_id", "source", "fp", positive.alias("positive"))
    # exact verification: only positives join the historical fingerprints
    hv = hist.select(F.col("fp").alias("hfp"), F.lit(1).alias("is_dup"))
    verified = flagged.join(
        hv, F.col("positive") & (F.col("fp") == F.col("hfp")), "left"
    ).select(
        "source",
        F.col("positive").cast("int").alias("positive"),
        F.coalesce("is_dup", F.lit(0)).alias("is_dup"),
    )
    return verified.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_batch"),
        F.sum("positive").cast("bigint").alias("n_bloom_pos"),
        F.sum("is_dup").cast("bigint").alias("n_true_dup"),
        F.sum(
            F.when((F.col("positive") == 1) & (F.col("is_dup") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_false_pos"),
        (F.count("*") - F.sum("is_dup")).cast("bigint").alias("n_kept"),
    )


def _sql_incr_pos(key: str) -> str:
    return f"('0x' || substr(md5(i.range || ':' || {key}), 1, 4))::INT"


_ORACLE_INCR_BLOOM = f"""
WITH fps AS (
  SELECT doc_id, source,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
         doc_id % {INCR_BATCH_MOD} = 0 AS is_batch
  FROM documents
),
hist AS (SELECT DISTINCT fp FROM fps WHERE NOT is_batch),
bits AS (
  SELECT DISTINCT {_sql_incr_pos('fp')} AS pos
  FROM hist, range(0, 4) i
),
ppos AS (
  SELECT doc_id, {_sql_incr_pos('fp')} AS pos
  FROM fps, range(0, 4) i WHERE is_batch
),
perkey AS (
  SELECT ppos.doc_id, count(*) AS n_pos,
         sum(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM (SELECT DISTINCT doc_id, pos FROM ppos) ppos
  LEFT JOIN bits USING (pos)
  GROUP BY ppos.doc_id
),
flagged AS (
  SELECT f.source,
         CASE WHEN p.n_pos = p.n_hit THEN 1 ELSE 0 END AS positive,
         CASE WHEN p.n_pos = p.n_hit AND h.fp IS NOT NULL THEN 1 ELSE 0 END
           AS is_dup
  FROM fps f
  JOIN perkey p USING (doc_id)
  LEFT JOIN hist h ON f.fp = h.fp
  WHERE f.is_batch
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(sum(positive) AS BIGINT) AS n_bloom_pos,
       CAST(sum(is_dup) AS BIGINT) AS n_true_dup,
       CAST(sum(CASE WHEN positive = 1 AND is_dup = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       CAST(count(*) - sum(is_dup) AS BIGINT) AS n_kept
FROM flagged GROUP BY source
"""


QUERIES = {
    "dedup_incremental_bloom": q_dedup_incremental_bloom,
    "dedup_lsh_tuning_sweep": q_dedup_lsh_tuning_sweep,
    "dedup_exact": q_dedup_exact,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_lsh_verified": q_dedup_lsh_verified,
    "dedup_cluster_cc": q_dedup_cluster_cc,
    "dedup_simhash": q_dedup_simhash,
    "dedup_containment": q_dedup_containment,
    "dedup_semantic": q_dedup_semantic,
}

ORACLE = {
    "dedup_incremental_bloom": _ORACLE_INCR_BLOOM,
    "dedup_lsh_tuning_sweep": _ORACLE_LSH_SWEEP,
    "dedup_exact": _ORACLE_EXACT,
    "dedup_embedding_cosine": _ORACLE_EMB_COSINE,
    "dedup_ngram_jaccard": _ORACLE_NGRAM_JACCARD,
    "dedup_minhash_lsh": _ORACLE_MINHASH,
    "dedup_lsh_verified": _ORACLE_LSH_VERIFIED,
    "dedup_cluster_cc": _ORACLE_CLUSTER_CC,
    "dedup_simhash": _ORACLE_SIMHASH,
    "dedup_containment": _ORACLE_CONTAINMENT,
    "dedup_semantic": _ORACLE_SEMANTIC,
}
