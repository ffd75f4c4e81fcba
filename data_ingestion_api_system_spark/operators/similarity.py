"""Similarity search over ``embeddings`` (BASELINE.json north star:
brute-force cosine top-k baseline + LSH-bucketed ANN as the scale path).

Numeric determinism: every cosine is ``functions.cosine`` over norms from
``functions.vec_norm`` (DuckDB: ``sql_dot``/``sql_norm``), one left-to-right
fold rule on both engines, so unrounded cosines are bit-identical; they are
rounded (6 decimals, micro-units or ppm) with a vec_id tiebreak before any
top-k, so ordering can never diverge on ulps. ``_emb`` carries each
vector's norm as ``nv``, and centroid arrays carry theirs, so a pair
projection folds only the dot product.

Scale: brute-force top-k against one query is a narrow map + TakeOrdered —
fine at any corpus size for one query, O(n·d) work. For query *batches* at
100 TB the LSH variant prunes: sign-random-projection buckets (equi-join on
an 8-bit signature) restrict each query to ~1/256 of the corpus; recall is
tunable by bits/tables. Signatures are md5-parity-derived so both engines
build the identical hyperplanes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    DIMS,
    cosine,
    exact_avg_halfup,
    sql_dot,
    sql_exact_avg_halfup,
    sql_norm,
    vec_norm,
)
from ..tables import load_table
from . import pin, spread

N_LSH_BITS = 8


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the single-file scan would otherwise run every per-vector
    # fold (dot products, LSH signatures) serially in one task. Spread is
    # applied ABOVE the cast projection: pushing a filter that references
    # the cast alias below a round-robin repartition trips a Catalyst
    # binding error (ATTRIBUTE_NOT_FOUND v#n in [embedding#m]). nv is the
    # vector's norm, computed once above the spread; pruning drops it
    # wherever it is unused.
    return spread(
        load_table(spark, sf_dir, "embeddings").selectExpr(
            "vec_id", "label", "cast(embedding as array<double>) as v"
        )
    ).withColumn("nv", vec_norm("v"))


def _side(x: str) -> list[Column]:
    """``_emb``'s vector and norm renamed for side ``x`` of a pair: ``v`` and
    ``nv`` become ``{x}v`` and ``n{x}``, the names ``cosine("av", "bv",
    "na", "nb")`` reads."""
    return [F.col("v").alias(f"{x}v"), F.col("nv").alias(f"n{x}")]


_SQL_EMB = "SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"


def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the query vector (vec_id=0) — the
    exact baseline every ANN variant is measured against. The query vector
    broadcasts (1 row); the corpus never shuffles."""
    e = _emb(spark, sf_dir)
    q = F.broadcast(e.filter(F.col("vec_id") == 0).select(*_side("b")))
    cand = e.filter(F.col("vec_id") != 0).select("vec_id", "label", *_side("a"))
    cos = F.round(cosine("av", "bv", "na", "nb"), 6)
    return (
        cand.crossJoin(q)
        .select("vec_id", "label", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


_ORACLE_COSINE_TOPK = f"""
WITH e AS ({_SQL_EMB}),
q AS (SELECT v AS bv FROM e WHERE vec_id = 0),
cand AS (SELECT vec_id, label, v AS av FROM e WHERE vec_id <> 0)
SELECT vec_id, label,
       ROUND({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')}), 6) AS cosine
FROM cand, q
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def q_sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact k-NN: top-3 neighbors for each of 8 query vectors in
    one pass — a broadcast of the query batch against the corpus, ranked
    per query with a window. This is the shape of a real retrieval batch:
    queries broadcast, corpus stays put, shuffle only (query, candidate)
    scores for the per-query top-k."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir)
    queries = F.broadcast(
        e.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), *_side("b")
        )
    )
    cand = e.select("vec_id", *_side("a"))
    cos = F.round(cosine("av", "bv", "na", "nb"), 6)
    scored = (
        cand.crossJoin(queries)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "vec_id", "cosine", "rk")
    )


_ORACLE_KNN_JOIN = f"""
WITH e AS ({_SQL_EMB}),
q AS (SELECT vec_id AS query_id, v AS bv FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, c.vec_id,
         ROUND({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')}), 6) AS cosine
  FROM (SELECT vec_id, v AS av FROM e) c, q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, vec_id, cosine, CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id ASC) AS rk
  FROM scored)
WHERE rk <= 3
"""


def q_sim_intra_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise intra-label cosine statistics: per label, the pair count and
    exact mean cosine (rounded cosines summed in DECIMAL → order-independent).
    The all-pairs join is blocked by label — the 100 TB version replaces it
    with centroid-based or sampled estimation; this is the exact verifier.
    """
    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("ida"), "label", *_side("a"))
    b = e.select(F.col("vec_id").alias("idb"), F.col("label").alias("lb"), *_side("b"))
    cos = F.round(cosine("av", "bv", "na", "nb"), 6)
    pairs = (
        a.join(b, (F.col("label") == F.col("lb")) & (F.col("ida") < F.col("idb")))
        .select("label", cos.alias("cosine"))
    )
    return pairs.groupBy("label").agg(
        F.count("*").alias("n_pairs"),
        exact_avg_halfup("cosine", 6).alias("avg_cosine"),
        F.max("cosine").alias("max_cosine"),
        F.min("cosine").alias("min_cosine"),
    )


_ORACLE_INTRA_LABEL = f"""
WITH e AS ({_SQL_EMB}),
pairs AS (
  SELECT a.label,
         ROUND({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')}), 6) AS cosine
  FROM (SELECT vec_id AS ida, label, v AS av FROM e) a
  JOIN (SELECT vec_id AS idb, label AS lb, v AS bv FROM e) b
    ON a.label = b.lb AND a.ida < b.idb
)
SELECT label, count(*) AS n_pairs,
       {sql_exact_avg_halfup('cosine', 6)} AS avg_cosine,
       max(cosine) AS max_cosine,
       min(cosine) AS min_cosine
FROM pairs
GROUP BY label
"""


def _spark_lsh_bucket(vcol: str) -> str:
    """8-bit sign-random-projection signature. Hyperplane j's component i is
    ±1 from the parity of the first hex nibble of md5('h<j>:<i>') — a fixed,
    engine-portable pseudo-random matrix. Spark arrays are 0-based."""
    bits = []
    for j in range(N_LSH_BITS):
        bits.append(
            f"case when aggregate(sequence(0, {DIMS - 1}), 0D, (acc, i) -> acc + "
            f"(case when (position(substr(md5(concat('h{j}:', i)), 1, 1) IN '0123456789abcdef') - 1) % 2 = 1 "
            f"then 1.0 else -1.0 end) * {vcol}[i]) >= 0 then '1' else '0' end"
        )
    return "concat(" + ", ".join(bits) + ")"


def _sql_lsh_bucket(vcol: str) -> str:
    bits = []
    for j in range(N_LSH_BITS):
        bits.append(
            f"CASE WHEN list_sum(list_transform(range(0, {DIMS}), i -> "
            f"(CASE WHEN (strpos('0123456789abcdef', substr(md5('h{j}:' || CAST(i AS VARCHAR)), 1, 1)) - 1) % 2 = 1 "
            f"THEN 1.0 ELSE -1.0 END) * {vcol}[CAST(i + 1 AS INT)])) >= 0 THEN '1' ELSE '0' END"
        )
    return " || ".join(bits)


def q_sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via sign-LSH: bucket every vector by its 8-bit signature, then
    search the query's bucket only — top-5 by exact cosine within it. The
    bucket equi-join replaces the corpus scan; at 100 TB add more tables
    (independent hyperplane sets) for recall."""
    e = _emb(spark, sf_dir)
    sig = e.select(
        "vec_id", "label", "v", "nv", F.expr(_spark_lsh_bucket("v")).alias("bucket")
    )
    q = F.broadcast(
        sig.filter(F.col("vec_id") == 0).select(
            F.col("bucket").alias("qbucket"), *_side("b")
        )
    )
    cand = sig.filter(F.col("vec_id") != 0).select(
        "vec_id", "label", *_side("a"), "bucket"
    )
    cos = F.round(cosine("av", "bv", "na", "nb"), 6)
    return (
        cand.join(q, F.col("bucket") == F.col("qbucket"))
        .select("vec_id", "label", "bucket", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


_ORACLE_LSH_ANN = f"""
WITH e AS ({_SQL_EMB}),
sig AS (SELECT vec_id, label, v, {_sql_lsh_bucket('v')} AS bucket FROM e),
q AS (SELECT bucket AS qbucket, v AS bv FROM sig WHERE vec_id = 0),
cand AS (SELECT vec_id, label, v AS av, bucket FROM sig WHERE vec_id <> 0)
SELECT vec_id, label, bucket,
       ROUND({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')}), 6) AS cosine
FROM cand, q
WHERE bucket = qbucket
ORDER BY cosine DESC, vec_id ASC
LIMIT 5
"""


def q_sim_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket size distribution — the health check for the ANN index
    (skewed buckets = bad hyperplanes or correlated data)."""
    e = _emb(spark, sf_dir)
    sig = e.select("vec_id", F.expr(_spark_lsh_bucket("v")).alias("bucket"))
    return sig.groupBy("bucket").agg(
        F.count("*").alias("n_vecs"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )


_ORACLE_LSH_STATS = f"""
WITH e AS ({_SQL_EMB}),
sig AS (SELECT vec_id, {_sql_lsh_bucket('v')} AS bucket FROM e)
SELECT bucket, count(*) AS n_vecs,
       min(vec_id) AS min_vec_id, max(vec_id) AS max_vec_id
FROM sig
GROUP BY bucket
"""


def q_sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: partition the corpus into cells, search only the cell
    whose centroid is nearest the query. Cells here are the label column
    (standing in for k-means assignments — same plan shape; a Lloyd
    iteration would just re-derive the cell column). Centroids are exact
    decimal-mean vectors; the query probes 1 cell (nprobe=1), so the scan
    touches ~1/10 of the corpus. At 100 TB: centroids broadcast, the
    corpus is partitioned BY cell on disk, and cell pruning becomes
    partition pruning."""
    e = _emb(spark, sf_dir)
    ex = e.select("label", F.posexplode("v").alias("idx", "val"))
    cent = ex.groupBy("label", "idx").agg(
        (F.sum(F.col("val").cast("decimal(20,8)")).cast("double") / F.count("*")).alias("c")
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("idx", "c"))), lambda s: s["c"]
        ).alias("cv")
    ).withColumn("nc", vec_norm("cv"))
    q = F.broadcast(e.filter(F.col("vec_id") == 0).select(*_side("b")))
    cell_cos = F.round(cosine("cv", "bv", "nc", "nb"), 6)
    best_cell = F.broadcast(
        cent_arr.crossJoin(q)
        .select("label", cell_cos.alias("cell_cosine"))
        .orderBy(F.desc("cell_cosine"), F.asc("label"))
        .limit(1)
    )
    cand = e.filter(F.col("vec_id") != 0).join(best_cell, "label")
    cos = F.round(cosine("v", "bv", "nv", "nb"), 6)
    return (
        cand.crossJoin(q)
        .select("label", "cell_cosine", "vec_id", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
    )


_ORACLE_IVF = f"""
WITH e AS ({_SQL_EMB}),
ex AS (
  SELECT label, i, v[CAST(i AS INT)] AS val
  FROM e, (SELECT unnest(range(1, {DIMS + 1})) AS i) idxs
),
cent AS (
  SELECT label, i,
         CAST(SUM(CAST(val AS DECIMAL(20,8))) AS DOUBLE) / count(*) AS c
  FROM ex GROUP BY label, i
),
cent_arr AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label),
q AS (SELECT v AS bv FROM e WHERE vec_id = 0),
best_cell AS (
  SELECT label,
         ROUND({sql_dot('cv', 'bv')} / ({sql_norm('cv')} * {sql_norm('bv')}), 6) AS cell_cosine
  FROM cent_arr, q
  ORDER BY cell_cosine DESC, label ASC
  LIMIT 1
)
SELECT e.label, b.cell_cosine, e.vec_id,
       ROUND({sql_dot('v', 'bv')} / ({sql_norm('v')} * {sql_norm('bv')}), 6) AS cosine
FROM e JOIN best_cell b USING (label), q
WHERE e.vec_id <> 0
ORDER BY cosine DESC, vec_id ASC
LIMIT 5
"""


N_CENTROIDS = 4


def q_sim_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of cosine k-means, the primitive behind IVF cell
    building and embedding-space corpus curation: seed centroids are the
    first k vectors (deterministic), every vector is assigned to its
    nearest centroid (max cosine, centroid-id tiebreak), and the step
    emits per-centroid assignment stats + the updated centroid's leading
    dimensions as exact decimal means.

    Plan shape at 100 TB: centroids broadcast (k rows), assignment is a
    narrow per-row argmax over the broadcast (no corpus shuffle), and the
    update is one partial-agg shuffle keyed by centroid — the textbook
    distributed k-means round. Iterating = re-running this plan with the
    updated centroids (a driver loop of k-row exchanges, corpus never
    moves).

    The k centroids (each with its norm) collect into ONE broadcast array
    row and each corpus row picks its centroid with ``array_max`` over
    (cosine, −centroid_id) structs, a pure map: field-order struct
    comparison with the unique −centroid_id tie-break is the argmax by
    (cosine DESC, centroid_id ASC)."""
    e = _emb(spark, sf_dir)
    carr = F.broadcast(
        e.filter(F.col("vec_id") < N_CENTROIDS)
        .select(F.col("vec_id").alias("centroid_id"), *_side("b"))
        .agg(F.collect_list(F.struct("centroid_id", "bv", "nb")).alias("carr"))
    )
    best = F.array_max(
        F.transform(
            F.col("carr"),
            lambda c: F.struct(
                F.round(cosine("v", c["bv"], "nv", c["nb"]), 6).alias("cosine"),
                (-c["centroid_id"]).alias("nc"),
            ),
        )
    )
    assigned = e.crossJoin(carr).select(
        "vec_id",
        "v",
        (-best["nc"]).alias("centroid_id"),
        best["cosine"].alias("cosine"),
    )
    return assigned.groupBy("centroid_id").agg(
        F.count("*").alias("n_assigned"),
        exact_avg_halfup("cosine", 6).alias("avg_cosine"),
        *[exact_avg_halfup(f"v[{d}]", 8).alias(f"new_c{d}") for d in range(4)],
    )


_ORACLE_KMEANS = f"""
WITH e AS ({_SQL_EMB}),
cent AS (SELECT vec_id AS centroid_id, v AS bv FROM e WHERE vec_id < {N_CENTROIDS}),
scored AS (
  SELECT e.vec_id, e.label, e.v, c.centroid_id,
         ROUND({sql_dot('v', 'bv')} / ({sql_norm('v')} * {sql_norm('bv')}), 6) AS cosine
  FROM e, cent c
),
assigned AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine DESC, centroid_id ASC) AS rk
    FROM scored) WHERE rk = 1
)
SELECT centroid_id, count(*) AS n_assigned,
       {sql_exact_avg_halfup('cosine', 6)} AS avg_cosine,
       {", ".join(f"{sql_exact_avg_halfup(f'v[{d + 1}]', 8)} AS new_c{d}" for d in range(4))}
FROM assigned
GROUP BY centroid_id
"""


DIM_VAR_TOP_K = 8
DIM_VAR_SCALE = 1_000_000  # fixed-point quantization: xi = floor(x * 1e6)


def q_sim_dim_variance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance ranking of the embedding space — the
    feature-importance readout behind Matryoshka truncation and PQ
    subspace allocation (high-variance dims carry the geometry; a
    truncation that drops them loses recall, cf. `sim_matryoshka_recall`).
    Emits the top {DIM_VAR_TOP_K} dimensions by population variance.

    Exactness: components are quantized to integers FIRST
    (xi = floor(x·1e6) — floor on a double is exact in both engines,
    unlike double→decimal casts whose rounding modes differ), then the
    variance numerator n·Σxi² − (Σxi)² is exact DECIMAL(38) arithmetic
    and the reported variance is its integer division by n² (fixed-point,
    scale 1e12). Ranking ties break on dim.

    Scale shape: one posexplode (bounded |dims|× fan-out) feeds a
    dim-keyed partial aggregate — |dims| output rows regardless of corpus
    — and the top-k is TakeOrderedAndProject. This is the single-pass
    parallel variance (sum/sumsq moments), the textbook distributed
    formulation."""
    e = _emb(spark, sf_dir)
    comps = e.select(
        F.posexplode("v").alias("dim", "x")
    ).select(
        "dim",
        F.expr(f"CAST(floor(x * {DIM_VAR_SCALE}) AS BIGINT)").alias("xi"),
    )
    moments = comps.groupBy("dim").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(F.col("xi").cast("decimal(38,0)")).alias("s1"),
        F.sum((F.col("xi") * F.col("xi")).cast("decimal(38,0)")).alias("s2"),
    )
    return (
        moments.select(
            F.col("dim").cast("int").alias("dim"),
            "n_vecs",
            F.expr(
                "CAST((n_vecs * s2 - s1 * s1)"
                " DIV (CAST(n_vecs AS DECIMAL(38,0)) * n_vecs) AS BIGINT)"
            ).alias("var_fp12"),
        )
        .orderBy(F.desc("var_fp12"), F.asc("dim"))
        .limit(DIM_VAR_TOP_K)
    )


_ORACLE_DIM_VARIANCE = f"""
WITH e AS ({_SQL_EMB}),
comps AS (
  SELECT CAST(i.range AS INT) - 1 AS dim,
         CAST(floor(v[CAST(i.range AS INT)] * {DIM_VAR_SCALE}) AS BIGINT)
           AS xi
  FROM e, range(1, 65) i
),
moments AS (
  SELECT dim, count(*) AS n_vecs,
         sum(CAST(xi AS HUGEINT)) AS s1,
         sum(CAST(xi AS HUGEINT) * xi) AS s2
  FROM comps GROUP BY dim
)
SELECT dim,
       CAST(n_vecs AS BIGINT) AS n_vecs,
       CAST((n_vecs * s2 - s1 * s1) // (CAST(n_vecs AS HUGEINT) * n_vecs)
            AS BIGINT) AS var_fp12
FROM moments
ORDER BY var_fp12 DESC, dim ASC
LIMIT {DIM_VAR_TOP_K}
"""


def q_sim_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External cluster-quality evaluation: assign every vector to its
    nearest seed centroid (the `sim_kmeans_step` assignment) and score
    each cluster against the ground-truth labels — size, distinct labels,
    majority label, and purity in exact ppm (the standard supervised
    clustering metric; NMI needs logs, purity stays integer-exact).

    Plan shape: assignment is the broadcast-centroid argmax (corpus never
    shuffles for it); the evaluation is one (centroid, label) partial agg
    — ≤ k·|labels| rows — then a label-count argmax per centroid via a
    centroid-partitioned window over that bounded table. The eval stage
    costs nothing at any scale; the assignment is the same narrow pass an
    IVF build already pays."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir)
    cent = F.broadcast(
        e.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"), *_side("b")
        )
    )
    cos = F.round(cosine("v", "bv", "nv", "nb"), 6)
    scored = e.crossJoin(cent).select(
        "vec_id", "label", "centroid_id", cos.alias("cosine")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("centroid_id"))
    assigned = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    cl = assigned.groupBy("centroid_id", "label").agg(
        F.count("*").alias("n")
    )
    wl = Window.partitionBy("centroid_id").orderBy(F.desc("n"), F.asc("label"))
    return (
        cl.withColumn("lrk", F.row_number().over(wl))
        .groupBy("centroid_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_assigned"),
            F.count("*").cast("bigint").alias("n_labels"),
            F.max(F.when(F.col("lrk") == 1, F.col("label"))).alias(
                "majority_label"
            ),
            F.max(F.when(F.col("lrk") == 1, F.col("n")))
            .cast("bigint")
            .alias("majority_n"),
        )
        .select(
            "centroid_id",
            "n_assigned",
            "n_labels",
            "majority_label",
            "majority_n",
            F.expr("CAST(majority_n * 1000000 DIV n_assigned AS BIGINT)").alias(
                "purity_ppm"
            ),
        )
    )


_ORACLE_CLUSTER_PURITY = f"""
WITH e AS ({_SQL_EMB}),
cent AS (SELECT vec_id AS centroid_id, v AS bv FROM e WHERE vec_id < {N_CENTROIDS}),
scored AS (
  SELECT e.vec_id, e.label, c.centroid_id,
         ROUND({sql_dot('v', 'bv')} / ({sql_norm('v')} * {sql_norm('bv')}), 6) AS cosine
  FROM e, cent c
),
assigned AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cosine DESC, centroid_id ASC) AS rk
    FROM scored) WHERE rk = 1
),
cl AS (
  SELECT centroid_id, label, count(*) AS n FROM assigned GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY centroid_id
                               ORDER BY n DESC, label ASC) AS lrk
  FROM cl
)
SELECT centroid_id,
       CAST(sum(n) AS BIGINT) AS n_assigned,
       CAST(count(*) AS BIGINT) AS n_labels,
       max(CASE WHEN lrk = 1 THEN label END) AS majority_label,
       CAST(max(CASE WHEN lrk = 1 THEN n END) AS BIGINT) AS majority_n,
       CAST(max(CASE WHEN lrk = 1 THEN n END) * 1000000 // sum(n) AS BIGINT)
         AS purity_ppm
FROM ranked
GROUP BY centroid_id
"""


def q_sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the vector
    compression step an ANN index build runs before sharding (4x smaller
    vectors, dot products in integer SIMD): per vector, scale =
    max|x|/127 and q_i = floor(x_i*127/max|x| + 0.5), with the
    reconstruction error reported per vector.

    Cross-engine exactness: both engines compute the quantizer with the
    SAME IEEE double operation order (x * 127.0 / maxabs + 0.5 → floor),
    so the floor boundaries agree bit-for-bit; only the final error metric
    is rounded for display.

    Plan shape at 100 TB: zero shuffles — a narrow per-row array fold over
    the scan (like the repetition scorer), embarrassingly parallel."""
    e = _emb(spark, sf_dir)
    maxabs = "aggregate(transform(v, x -> abs(x)), 0D, (a, x) -> greatest(a, x))"
    qv = (
        f"CASE WHEN {maxabs} = 0D THEN transform(v, x -> 0)"
        f" ELSE transform(v, x -> CAST(floor(x * 127.0D / {maxabs} + 0.5D) AS INT)) END"
    )
    scale = f"{maxabs} / 127.0D"
    max_err = (
        f"aggregate(zip_with(v, {qv}, (x, q) -> abs(x - q * ({scale}))),"
        f" 0D, (a, x) -> greatest(a, x))"
    )
    # qv serialized to a csv string: the driver's value comparator (and
    # check_oracle's) normalizes scalar cells only — no registry query
    # returns a raw array column
    return e.select(
        "vec_id",
        "label",
        F.round(F.expr(scale), 9).alias("scale"),
        F.expr(f"concat_ws(',', transform({qv}, q -> cast(q as string)))").alias("qv_csv"),
        F.round(F.expr(max_err), 6).alias("max_abs_err"),
    )


_SQL_QUANT_MAXABS = "list_max(list_transform(v, x -> abs(x)))"
_SQL_QUANT_QV = (
    f"CASE WHEN {_SQL_QUANT_MAXABS} = 0 THEN list_transform(v, x -> 0)"
    f" ELSE list_transform(v, x -> CAST(floor(x * 127.0 / {_SQL_QUANT_MAXABS} + 0.5) AS INT)) END"
)

_ORACLE_QUANTIZE = f"""
WITH e AS ({_SQL_EMB}),
q AS (
  SELECT vec_id, label, v,
         {_SQL_QUANT_MAXABS} AS maxabs,
         {_SQL_QUANT_QV} AS qv
  FROM e
)
SELECT vec_id, label,
       ROUND(maxabs / 127.0, 9) AS scale,
       array_to_string(qv, ',') AS qv_csv,
       ROUND(list_max(list_transform(range(1, len(v) + 1),
             i -> abs(v[CAST(i AS INT)] - qv[CAST(i AS INT)] * (maxabs / 127.0)))), 6)
         AS max_abs_err
FROM q
"""


PQ_SUBSPACES = 4
PQ_SUBDIM = DIMS // PQ_SUBSPACES  # 16 dims per subspace
PQ_CODES = 4  # codes per subspace codebook (seeded from the first vectors)


def q_sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the code-assignment half of a PQ/IVF-PQ ANN
    index (Jégou et al., the FAISS workhorse): each {DIMS}-dim vector is
    split into {PQ_SUBSPACES} subvectors of {PQ_SUBDIM} dims, each
    subvector snaps to its nearest codebook entry by squared L2, and the
    vector compresses to {PQ_SUBSPACES} small code ids plus a per-vector
    quantization error. Codebooks are seeded deterministically from the
    first {PQ_CODES} vectors' subvectors (the same convention as the
    k-means seeds) so both engines hold identical codebooks; a production
    build would train them with sim_kmeans_step per subspace — same plan,
    iterated.

    Cross-engine exactness: sub-distances are sequential left-to-right
    folds of (x-y)^2 over the same element order on both engines (the
    module's dot-product discipline), the argmin orders by the raw double
    distance with a code-id tiebreak, and the per-vector total error folds
    the {PQ_SUBSPACES} sub-distances in subspace order before the single
    display round.

    Plan shape at 100 TB: the codebook ({PQ_SUBSPACES}x{PQ_CODES}
    subvector rows) BROADCASTS; the corpus explodes x{PQ_SUBSPACES},
    assigns narrowly against the broadcast (window argmin keyed by
    (vec_id, subspace) — re-grouping rows that never left their
    partition... the one keyed exchange), and re-aggregates by vec_id.
    Compression output is ~{PQ_SUBSPACES} bytes/vector vs {DIMS}x4 raw."""
    e = _emb(spark, sf_dir)
    slices = F.array(
        *[
            F.slice("v", s * PQ_SUBDIM + 1, PQ_SUBDIM)
            for s in range(PQ_SUBSPACES)
        ]
    )
    subs = e.select(
        "vec_id", "label", F.posexplode(slices).alias("s", "sv")
    )
    book = F.broadcast(
        e.filter(F.col("vec_id") < PQ_CODES).select(
            F.col("vec_id").alias("code_id"),
            F.posexplode(slices).alias("s", "cv"),
        )
    )
    dist = F.expr(
        "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)),"
        " 0D, (acc, x) -> acc + x)"
    )
    scored = subs.join(book, "s").select(
        "vec_id", "label", "s", "code_id", dist.alias("dist")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id", "s").orderBy(F.asc("dist"), F.asc("code_id"))
    best = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    ordered = F.sort_array(F.collect_list(F.struct("s", "code_id", "dist")))
    return best.groupBy("vec_id", "label").agg(
        F.array_join(
            F.transform(ordered, lambda x: x["code_id"].cast("string")), ","
        ).alias("codes_csv"),
        F.round(
            F.aggregate(
                F.transform(ordered, lambda x: x["dist"]),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("quant_error"),
    )


_SQL_PQ_SLICES = (
    f"(SELECT unnest(range(0, {PQ_SUBSPACES})) AS s) ss"
)


def _sql_pq_slice(col: str) -> str:
    return (
        f"list_slice({col}, CAST(s * {PQ_SUBDIM} + 1 AS INT),"
        f" CAST(s * {PQ_SUBDIM} + {PQ_SUBDIM} AS INT))"
    )


_ORACLE_PQ = f"""
WITH e AS ({_SQL_EMB}),
subs AS (
  SELECT vec_id, label, s, {_sql_pq_slice('v')} AS sv FROM e, {_SQL_PQ_SLICES}
),
book AS (
  SELECT vec_id AS code_id, s, {_sql_pq_slice('v')} AS cv
  FROM e, {_SQL_PQ_SLICES} WHERE vec_id < {PQ_CODES}
),
scored AS (
  SELECT subs.vec_id, subs.label, subs.s, book.code_id,
         list_sum(list_transform(range(1, {PQ_SUBDIM + 1}),
           i -> (sv[CAST(i AS INT)] - cv[CAST(i AS INT)])
              * (sv[CAST(i AS INT)] - cv[CAST(i AS INT)]))) AS dist
  FROM subs JOIN book USING (s)
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                 ORDER BY dist ASC, code_id ASC) AS rk
    FROM scored) WHERE rk = 1
)
SELECT vec_id, label,
       string_agg(CAST(code_id AS VARCHAR), ',' ORDER BY s) AS codes_csv,
       ROUND(list_sum(list(dist ORDER BY s)), 6) AS quant_error
FROM best
GROUP BY vec_id, label
"""


ADC_TOPK = 10


def q_sim_pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search by Asymmetric Distance Computation — the query half of
    the FAISS IVF-PQ pipeline that ``sim_pq_codes`` builds the index for:
    the query stays FULL precision while the corpus is represented only
    by its PQ codes, and the approximate distance is the sum over
    subspaces of a precomputed lookup table
    LUT[s][c] = ||q_s − codebook[s][c]||². The entry returns the ADC
    top-{ADC_TOPK} with each hit's exact L2² alongside — the
    approximation-quality readout (ADC error comes only from
    quantization, so hits with low quant error rank almost exactly).

    Cross-engine exactness: identical codebooks (deterministic seed
    vectors, as sim_pq_codes), sub-distances and the per-vector ADC total
    are sequential folds in fixed (element, subspace) order, and the
    top-k orders by the raw double with a vec_id tiebreak — the module's
    established discipline; rounding happens only on display columns.

    Scale shape: the LUT is {PQ_SUBSPACES}×{PQ_CODES} rows — broadcast
    (in FAISS it lives in L1 cache; here it rides the same keyed join as
    the code assignment). Code assignment is the one keyed exchange
    (vec_id, s); the ADC rollup reuses it; the exact-distance audit runs
    on the {ADC_TOPK}-row result only, never the corpus. At 100 TB the
    codes table is ~{PQ_SUBSPACES} bytes/vector — the POINT of PQ: the
    search scans 1-2% of raw bytes, and an IVF cell filter (as
    sim_ivf_ann) composes in front as partition pruning."""
    e = _emb(spark, sf_dir)
    slices = F.array(
        *[
            F.slice("v", s * PQ_SUBDIM + 1, PQ_SUBDIM)
            for s in range(PQ_SUBSPACES)
        ]
    )
    subs = e.filter(F.col("vec_id") != 0).select(
        "vec_id", "label", F.posexplode(slices).alias("s", "sv")
    )
    book = F.broadcast(
        e.filter(F.col("vec_id") < PQ_CODES).select(
            F.col("vec_id").alias("code_id"),
            F.posexplode(slices).alias("s", "cv"),
        )
    )
    dist = F.expr(
        "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)),"
        " 0D, (acc, x) -> acc + x)"
    )
    scored = subs.join(book, "s").select(
        "vec_id", "label", "s", "code_id", dist.alias("dist")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id", "s").orderBy(F.asc("dist"), F.asc("code_id"))
    codes = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "label", "s", "code_id")
    )
    qsubs = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(
            F.posexplode(slices).alias("s", "sv")
        )
    )
    lut = F.broadcast(
        book.join(qsubs, "s").select("s", "code_id", dist.alias("qd"))
    )
    ordered = F.sort_array(F.collect_list(F.struct("s", "qd")))
    adc = codes.join(lut, ["s", "code_id"]).groupBy("vec_id", "label").agg(
        F.aggregate(
            F.transform(ordered, lambda x: x["qd"]),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("adc_raw")
    )
    top = adc.orderBy(F.asc("adc_raw"), F.asc("vec_id")).limit(ADC_TOPK)
    q = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("v").alias("bv"))
    )
    exact = F.expr(
        "aggregate(zip_with(v, bv, (x, y) -> (x - y) * (x - y)),"
        " 0D, (acc, x) -> acc + x)"
    )
    return (
        F.broadcast(top)
        .join(e.select("vec_id", "v"), "vec_id")
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.round("adc_raw", 6).alias("adc_dist"),
            F.round(exact, 6).alias("exact_dist"),
        )
    )


_ORACLE_PQ_ADC = f"""
WITH e AS ({_SQL_EMB}),
subs AS (
  SELECT vec_id, label, s, {_sql_pq_slice('v')} AS sv
  FROM e, {_SQL_PQ_SLICES} WHERE vec_id != 0
),
book AS (
  SELECT vec_id AS code_id, s, {_sql_pq_slice('v')} AS cv
  FROM e, {_SQL_PQ_SLICES} WHERE vec_id < {PQ_CODES}
),
scored AS (
  SELECT subs.vec_id, subs.label, subs.s, book.code_id,
         list_sum(list_transform(range(1, {PQ_SUBDIM + 1}),
           i -> (sv[CAST(i AS INT)] - cv[CAST(i AS INT)])
              * (sv[CAST(i AS INT)] - cv[CAST(i AS INT)]))) AS dist
  FROM subs JOIN book USING (s)
),
codes AS (
  SELECT vec_id, label, s, code_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                 ORDER BY dist ASC, code_id ASC) AS rk
    FROM scored) WHERE rk = 1
),
qsubs AS (
  SELECT s, {_sql_pq_slice('v')} AS sv FROM e, {_SQL_PQ_SLICES} WHERE vec_id = 0
),
lut AS (
  SELECT book.s, book.code_id,
         list_sum(list_transform(range(1, {PQ_SUBDIM + 1}),
           i -> (sv[CAST(i AS INT)] - cv[CAST(i AS INT)])
              * (sv[CAST(i AS INT)] - cv[CAST(i AS INT)]))) AS qd
  FROM book JOIN qsubs USING (s)
),
adc AS (
  SELECT vec_id, label, list_sum(list(qd ORDER BY s)) AS adc_raw
  FROM codes JOIN lut USING (s, code_id)
  GROUP BY vec_id, label
),
top AS (
  SELECT * FROM adc ORDER BY adc_raw ASC, vec_id ASC LIMIT {ADC_TOPK}
),
q AS (SELECT v AS bv FROM e WHERE vec_id = 0)
SELECT top.vec_id, top.label,
       ROUND(adc_raw, 6) AS adc_dist,
       ROUND(list_sum(list_transform(range(1, {DIMS + 1}),
         i -> (e.v[CAST(i AS INT)] - bv[CAST(i AS INT)])
            * (e.v[CAST(i AS INT)] - bv[CAST(i AS INT)]))), 6) AS exact_dist
FROM top JOIN e USING (vec_id) CROSS JOIN q
"""


RECALL_QUERIES = 8
RECALL_K = 5


def q_sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k evaluation of the sign-LSH ANN index against exact brute
    force — the health metric a production ANN deployment reports before
    routing traffic to the index. For each of the first 8 vectors as
    queries: exact top-5 by cosine over the rest of the corpus vs the
    LSH-bucket top-5 (same bucketing as q_sim_lsh_ann); recall@5 =
    |ann ∩ exact| / 5.

    One scored pass feeds BOTH rankings: the query batch broadcasts
    (8 rows), the corpus computes each (candidate, query) cosine once, and
    the two ranks become COLUMNS of that same pass (row_number over
    query_id for exact, over (query_id, in_bucket) for ANN), so
    n_exact/n_ann/n_hits all fall out of ONE aggregation — no self-joins,
    no recomputation (the plan carries a single corpus scan; verified).
    At 100 TB the exact side is the expensive one (that's inherent to
    ground truth); run it on a fixed evaluation sample and reuse this plan
    unchanged — the per-query partitions are 8, so the window shuffle is
    trivially small after the WindowGroupLimit partial."""
    e = _emb(spark, sf_dir)
    sig = e.select(
        "vec_id", "v", "nv", F.expr(_spark_lsh_bucket("v")).alias("bucket")
    )
    q = F.broadcast(
        sig.filter(F.col("vec_id") < RECALL_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            *_side("b"),
            F.col("bucket").alias("qbucket"),
        )
    )
    cand = sig.filter(F.col("vec_id") >= RECALL_QUERIES).select(
        "vec_id", *_side("a"), "bucket"
    )
    cos = F.round(cosine("av", "bv", "na", "nb"), 6)
    scored = cand.crossJoin(q).select(
        "query_id",
        "vec_id",
        cos.alias("cosine"),
        (F.col("bucket") == F.col("qbucket")).alias("in_bucket"),
    )
    from pyspark.sql import Window

    w_exact = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    w_ann = Window.partitionBy("query_id", "in_bucket").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    flags = scored.select(
        "query_id",
        (F.row_number().over(w_exact) <= RECALL_K).alias("is_exact"),
        (
            F.col("in_bucket") & (F.row_number().over(w_ann) <= RECALL_K)
        ).alias("is_ann"),
    )
    one_if = lambda c: F.sum(c.cast("int"))  # noqa: E731
    return flags.groupBy("query_id").agg(
        one_if(F.col("is_exact")).cast("bigint").alias("n_exact"),
        one_if(F.col("is_ann")).cast("bigint").alias("n_ann"),
        one_if(F.col("is_exact") & F.col("is_ann")).cast("bigint").alias("n_hits"),
        F.round(
            one_if(F.col("is_exact") & F.col("is_ann")).cast("double") / RECALL_K,
            6,
        ).alias("recall_at_5"),
    )


_ORACLE_RECALL = f"""
WITH e AS ({_SQL_EMB}),
sig AS (SELECT vec_id, v, {_sql_lsh_bucket('v')} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS bv, bucket AS qbucket
      FROM sig WHERE vec_id < {RECALL_QUERIES}),
cand AS (SELECT vec_id, v AS av, bucket FROM sig WHERE vec_id >= {RECALL_QUERIES}),
scored AS (
  SELECT query_id, vec_id,
         ROUND({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')}), 6) AS cosine,
         bucket = qbucket AS in_bucket
  FROM cand, q
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC) AS rk
    FROM scored) WHERE rk <= {RECALL_K}
),
ann AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC) AS rk
    FROM scored WHERE in_bucket) WHERE rk <= {RECALL_K}
),
anns AS (SELECT query_id, count(*) AS n_ann FROM ann GROUP BY query_id),
hits AS (SELECT query_id, count(*) AS n_hits
         FROM exact JOIN ann USING (query_id, vec_id) GROUP BY query_id)
SELECT base.query_id,
       CAST(base.n_exact AS BIGINT) AS n_exact,
       CAST(coalesce(anns.n_ann, 0) AS BIGINT) AS n_ann,
       CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(coalesce(hits.n_hits, 0) AS DOUBLE) / {RECALL_K}, 6) AS recall_at_5
FROM (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id) base
LEFT JOIN anns USING (query_id)
LEFT JOIN hits USING (query_id)
"""


MATRYOSHKA_PREFIX = 16  # truncated leading dimensions kept by the cheap index


def _matryoshka_sides(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The broadcast query batch (query_id, bv, nb, pbv, pnb) and the
    candidates (vec_id, av, na, pav, pna): each vector with its
    {MATRYOSHKA_PREFIX}-dim prefix and both norms, computed once per
    vector."""
    pre = F.slice("v", 1, MATRYOSHKA_PREFIX)
    pn = vec_norm(pre)

    def side(x: str) -> list[Column]:
        return [*_side(x), pre.alias(f"p{x}v"), pn.alias(f"pn{x}")]

    q = F.broadcast(
        e.filter(F.col("vec_id") < RECALL_QUERIES).select(
            F.col("vec_id").alias("query_id"), *side("b")
        )
    )
    cand = e.filter(F.col("vec_id") >= RECALL_QUERIES).select("vec_id", *side("a"))
    return q, cand


def q_sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension retrieval evaluation in the Matryoshka mold
    (Kusupati et al. 2022, public paper): rank the corpus by cosine over
    only the LEADING {MATRYOSHKA_PREFIX} of {DIMS} dimensions — the cheap
    index a production system serves when embeddings are trained
    front-loaded — and report recall@{RECALL_K} against the full-dimension
    exact ranking per query. Distinct from ``sim_recall_eval``, which
    scores the sign-LSH bucket index; this one scores DIMENSION truncation,
    the other main ANN cost lever (4× less memory and FLOPs per scored
    pair here).

    Plan: same one-scored-pass shape as recall_eval — the query batch
    broadcasts, each (candidate, query) pair computes BOTH cosines in one
    projection, and the two rankings become columns via per-query
    WindowGroupLimit windows, so the corpus is scanned once. Both cosines
    are sequential left-to-right folds rounded to 6 decimals with the
    vec_id tiebreak (module determinism discipline), so both engines rank
    identically."""
    e = _emb(spark, sf_dir)
    q, cand = _matryoshka_sides(e)
    cos_full = F.round(cosine("av", "bv", "na", "nb"), 6)
    cos_trunc = F.round(cosine("pav", "pbv", "pna", "pnb"), 6)
    scored = cand.crossJoin(q).select(
        "query_id",
        "vec_id",
        cos_full.alias("cosine"),
        cos_trunc.alias("t_cosine"),
    )
    from pyspark.sql import Window

    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    w_trunc = Window.partitionBy("query_id").orderBy(
        F.desc("t_cosine"), F.asc("vec_id")
    )
    flags = scored.select(
        "query_id",
        (F.row_number().over(w_full) <= RECALL_K).alias("is_full"),
        (F.row_number().over(w_trunc) <= RECALL_K).alias("is_trunc"),
    )
    one_if = lambda c: F.sum(c.cast("int"))  # noqa: E731
    return flags.groupBy("query_id").agg(
        one_if(F.col("is_full")).cast("bigint").alias("n_full"),
        one_if(F.col("is_trunc")).cast("bigint").alias("n_trunc"),
        one_if(F.col("is_full") & F.col("is_trunc")).cast("bigint").alias("n_hits"),
        F.round(
            one_if(F.col("is_full") & F.col("is_trunc")).cast("double")
            / RECALL_K,
            6,
        ).alias("recall_at_5"),
    )


_ORACLE_MATRYOSHKA = f"""
WITH e AS ({_SQL_EMB}),
q AS (SELECT vec_id AS query_id, v AS bv FROM e WHERE vec_id < {RECALL_QUERIES}),
cand AS (SELECT vec_id, v AS av FROM e WHERE vec_id >= {RECALL_QUERIES}),
scored AS (
  SELECT query_id, vec_id,
         ROUND({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')}), 6) AS cosine,
         ROUND({sql_dot('av', 'bv', MATRYOSHKA_PREFIX)}
               / ({sql_norm('av', MATRYOSHKA_PREFIX)}
                  * {sql_norm('bv', MATRYOSHKA_PREFIX)}), 6) AS t_cosine
  FROM cand, q
),
fulls AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, vec_id ASC) AS rk
    FROM scored) WHERE rk <= {RECALL_K}
),
truncs AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY t_cosine DESC, vec_id ASC) AS rk
    FROM scored) WHERE rk <= {RECALL_K}
),
hits AS (SELECT query_id, count(*) AS n_hits
         FROM fulls JOIN truncs USING (query_id, vec_id) GROUP BY query_id)
SELECT base.query_id,
       CAST(base.n_full AS BIGINT) AS n_full,
       CAST(t.n_trunc AS BIGINT) AS n_trunc,
       CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(coalesce(hits.n_hits, 0) AS DOUBLE) / {RECALL_K}, 6) AS recall_at_5
FROM (SELECT query_id, count(*) AS n_full FROM fulls GROUP BY query_id) base
JOIN (SELECT query_id, count(*) AS n_trunc FROM truncs GROUP BY query_id) t
  USING (query_id)
LEFT JOIN hits USING (query_id)
"""


FUSION_POOL = 20  # per-ranker candidate list depth fed into the fusion
RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
FUSED_TOPK = 10  # fused results returned per query


def q_sim_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009, public paper) of two
    retrieval rankings — the full-dimension exact cosine and the
    {MATRYOSHKA_PREFIX}-dim truncated cosine (the cheap Matryoshka index) —
    the hybrid-retrieval merge every production search stack runs when it
    combines a dense ranker with a cheaper (or lexical) one. Per query,
    each ranker contributes its top-{FUSION_POOL}; a candidate's fused
    score is Σ 1/({RRF_K}+rank) over the lists it appears in, and the
    fused top-{FUSED_TOPK} is returned with both source ranks (0 = not in
    that ranker's pool) so downstream evals can attribute wins.

    Determinism: both cosines use the module's sequential-fold + 6-decimal
    rounding + vec_id tiebreak discipline, so the source rankings are
    engine-identical; each RRF term is a single IEEE division of exact
    integers, the two-term sum is evaluated in a fixed order, and the
    fused ordering carries its own vec_id tiebreak.

    Plan shape: each ranking is its OWN scored branch — the
    {RECALL_QUERIES}-row query batch broadcasts (BNLJ is the right plan
    for a tiny no-equi-key side) and each branch carries a CONJUNCTIVE
    ``rank <= {FUSION_POOL}`` filter, which is what lets Catalyst plan
    WindowGroupLimit with a map-side Partial pass: every task keeps only
    its local top-{FUSION_POOL} per query BEFORE the query_id exchange,
    so shuffled bytes are ~pool×queries×tasks, never corpus×queries. (A
    single both-ranks pass with a DISJUNCTIVE pool filter cannot use
    WindowGroupLimit — InferWindowGroupLimit only extracts conjunctive
    rank predicates — and would full-sort the corpus per query; measured
    and rejected in round 12's review.) The two top-pool lists merge by a
    (query_id, vec_id) FULL-OUTER join — full outer cannot broadcast, but
    both sides are ≤ pool×queries rows by construction, so the sort-merge
    join is metadata-scale — and the fused ranking is a third
    WindowGroupLimit window over ≤2·pool rows per query."""
    e = _emb(spark, sf_dir)
    q, cand = _matryoshka_sides(e)
    cos_full = F.round(cosine("av", "bv", "na", "nb"), 6)
    cos_trunc = F.round(cosine("pav", "pbv", "pna", "pnb"), 6)
    from pyspark.sql import Window

    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    w_trunc = Window.partitionBy("query_id").orderBy(
        F.desc("t_cosine"), F.asc("vec_id")
    )
    full_top = (
        cand.crossJoin(q)
        .select("query_id", "vec_id", cos_full.alias("cosine"))
        .select(
            "query_id", "vec_id", F.row_number().over(w_full).alias("__rf")
        )
        .filter(F.col("__rf") <= FUSION_POOL)
    )
    trunc_top = (
        cand.crossJoin(q)
        .select("query_id", "vec_id", cos_trunc.alias("t_cosine"))
        .select(
            "query_id", "vec_id", F.row_number().over(w_trunc).alias("__rt")
        )
        .filter(F.col("__rt") <= FUSION_POOL)
    )
    merged = full_top.join(trunc_top, ["query_id", "vec_id"], "full_outer")
    term = lambda c: F.when(  # noqa: E731
        F.col(c).isNotNull(), F.lit(1.0) / (F.lit(RRF_K) + F.col(c))
    ).otherwise(F.lit(0.0))
    fused = merged.select(
        "query_id",
        "vec_id",
        F.coalesce(F.col("__rf"), F.lit(0)).cast("int").alias("r_full"),
        F.coalesce(F.col("__rt"), F.lit(0)).cast("int").alias("r_trunc"),
        F.round(term("__rf") + term("__rt"), 9).alias("rrf_score"),
    )
    w_fused = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), F.asc("vec_id")
    )
    return (
        fused.select(
            "*", F.row_number().over(w_fused).cast("int").alias("fused_rank")
        )
        .filter(F.col("fused_rank") <= FUSED_TOPK)
        .select(
            "query_id", "vec_id", "r_full", "r_trunc", "rrf_score", "fused_rank"
        )
    )


_ORACLE_RANK_FUSION = f"""
WITH e AS ({_SQL_EMB}),
q AS (SELECT vec_id AS query_id, v AS bv FROM e WHERE vec_id < {RECALL_QUERIES}),
cand AS (SELECT vec_id, v AS av FROM e WHERE vec_id >= {RECALL_QUERIES}),
scored AS (
  SELECT query_id, vec_id,
         ROUND({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')}), 6) AS cosine,
         ROUND({sql_dot('av', 'bv', MATRYOSHKA_PREFIX)}
               / ({sql_norm('av', MATRYOSHKA_PREFIX)}
                  * {sql_norm('bv', MATRYOSHKA_PREFIX)}), 6) AS t_cosine
  FROM cand, q
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rf,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY t_cosine DESC, vec_id ASC) AS rt
  FROM scored
),
fused AS (
  SELECT query_id, vec_id,
         CAST(CASE WHEN rf <= {FUSION_POOL} THEN rf ELSE 0 END AS INT) AS r_full,
         CAST(CASE WHEN rt <= {FUSION_POOL} THEN rt ELSE 0 END AS INT) AS r_trunc,
         ROUND((CASE WHEN rf <= {FUSION_POOL}
                     THEN CAST(1 AS DOUBLE) / ({RRF_K} + rf)
                     ELSE CAST(0 AS DOUBLE) END)
               + (CASE WHEN rt <= {FUSION_POOL}
                       THEN CAST(1 AS DOUBLE) / ({RRF_K} + rt)
                       ELSE CAST(0 AS DOUBLE) END), 9) AS rrf_score
  FROM ranked
  WHERE rf <= {FUSION_POOL} OR rt <= {FUSION_POOL}
)
SELECT query_id, vec_id, r_full, r_trunc, rrf_score,
       CAST(fused_rank AS INT) AS fused_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, vec_id ASC) AS fused_rank
  FROM fused
) WHERE fused_rank <= {FUSED_TOPK}
"""


def q_sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per label, compare the centroid of two
    corpus snapshots (even vs odd ``vec_id`` — standing in for
    "yesterday's index build vs today's") by centroid cosine similarity
    and L2 shift. This is the metric a production retrieval system alarms
    on before re-embedding or re-clustering: centroids moving ⇒ the IVF
    cells / kmeans assignments trained on the old snapshot are stale.

    Determinism discipline: per-(label, dim) means are computed with the
    DECIMAL(25,12) exact-sum trick and rounded to 6dp FIRST; the cosine
    and L2 then run entirely on DECIMAL(12,6) values (products exact at
    scale 12, sums exact), so the only float steps are the final sqrt
    (IEEE correctly-rounded, engine-identical) and one rounded division —
    the same per-value-rounding pattern ``text_perplexity_ngram`` uses
    for its ln() divergence.

    Scale: posexplode fans each vector into 64 (label, dim) rows — a
    narrow 64× map, no shuffle — then ONE hash aggregation on
    (label, dim) with map-side combine (output bounded by
    |labels|×dims), then a second trivially-small rollup per label. No
    pairwise work anywhere: drift reads 2·|labels| centroids, not
    |corpus|² distances."""
    e = _emb(spark, sf_dir)
    ex = e.select(
        "label",
        (F.col("vec_id") % 2 == 0).alias("is_a"),
        F.posexplode("v").alias("dim", "x"),
    )
    xd = F.col("x").cast("decimal(25,12)")
    # Degenerate-input guard (ADVICE r7): a label with ALL vectors in one
    # snapshot has count=0 on the other side — divide only when count>0 so
    # both engines yield NULL explicitly instead of relying on Spark's
    # non-ANSI NULL-on-div-zero vs DuckDB's IEEE inf/NaN (same pattern as
    # events_ab_test's degenerate-rate guard).
    mean6 = lambda flag: F.when(  # noqa: E731
        F.count(F.when(flag, F.lit(1))) > 0,
        F.round(
            F.sum(F.when(flag, xd)).cast("double")
            / F.count(F.when(flag, F.lit(1))),
            6,
        ),
    )
    means = ex.groupBy("label", "dim").agg(
        mean6(F.col("is_a")).alias("ma"),
        mean6(~F.col("is_a")).alias("mb"),
    )
    da, db = F.col("ma").cast("decimal(12,6)"), F.col("mb").cast("decimal(12,6)")
    norm_a = F.sqrt(F.sum(da * da).cast("double"))
    norm_b = F.sqrt(F.sum(db * db).cast("double"))
    geo = means.groupBy("label").agg(
        F.when(
            (norm_a > 0) & (norm_b > 0),
            F.round(F.sum(da * db).cast("double") / (norm_a * norm_b), 6),
        ).alias("centroid_cosine"),
        F.round(F.sqrt(F.sum((da - db) * (da - db)).cast("double")), 6).alias(
            "l2_shift"
        ),
    )
    counts = e.groupBy("label").agg(
        F.sum((F.col("vec_id") % 2 == 0).cast("int")).cast("bigint").alias("n_a"),
        F.sum((F.col("vec_id") % 2 == 1).cast("int")).cast("bigint").alias("n_b"),
    )
    return counts.join(geo, "label").select(
        "label", "n_a", "n_b", "centroid_cosine", "l2_shift"
    )


_ORACLE_DRIFT = f"""
WITH e AS ({_SQL_EMB}),
ex AS (
  SELECT label, vec_id % 2 = 0 AS is_a, i - 1 AS dim,
         v[CAST(i AS INT)] AS x
  FROM e, unnest(range(1, {DIMS + 1})) AS t(i)
),
means AS (
  SELECT label, dim,
         CASE WHEN COUNT(CASE WHEN is_a THEN 1 END) = 0 THEN NULL
              ELSE ROUND(CAST(SUM(CASE WHEN is_a THEN CAST(x AS DECIMAL(25,12)) END) AS DOUBLE)
                         / COUNT(CASE WHEN is_a THEN 1 END), 6) END AS ma,
         CASE WHEN COUNT(CASE WHEN NOT is_a THEN 1 END) = 0 THEN NULL
              ELSE ROUND(CAST(SUM(CASE WHEN NOT is_a THEN CAST(x AS DECIMAL(25,12)) END) AS DOUBLE)
                         / COUNT(CASE WHEN NOT is_a THEN 1 END), 6) END AS mb
  FROM ex GROUP BY 1, 2
),
geo AS (
  SELECT label,
         CASE WHEN sqrt(CAST(SUM(CAST(ma AS DECIMAL(12,6)) * CAST(ma AS DECIMAL(12,6))) AS DOUBLE)) > 0
               AND sqrt(CAST(SUM(CAST(mb AS DECIMAL(12,6)) * CAST(mb AS DECIMAL(12,6))) AS DOUBLE)) > 0
              THEN ROUND(CAST(SUM(CAST(ma AS DECIMAL(12,6)) * CAST(mb AS DECIMAL(12,6))) AS DOUBLE)
               / (sqrt(CAST(SUM(CAST(ma AS DECIMAL(12,6)) * CAST(ma AS DECIMAL(12,6))) AS DOUBLE))
                  * sqrt(CAST(SUM(CAST(mb AS DECIMAL(12,6)) * CAST(mb AS DECIMAL(12,6))) AS DOUBLE))),
               6) END AS centroid_cosine,
         ROUND(sqrt(CAST(SUM((CAST(ma AS DECIMAL(12,6)) - CAST(mb AS DECIMAL(12,6)))
                            * (CAST(ma AS DECIMAL(12,6)) - CAST(mb AS DECIMAL(12,6)))) AS DOUBLE)), 6) AS l2_shift
  FROM means GROUP BY label
),
counts AS (
  SELECT label,
         CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM e GROUP BY label
)
SELECT label, n_a, n_b, centroid_cosine, l2_shift
FROM counts JOIN geo USING (label)
"""


# NDCG@5 discount weights in ppm: round(1e6 / log2(rank+1)), precomputed
# ONCE in Python and embedded as integer literals in BOTH engines — no
# runtime log2, so there is no float-divergence surface at all. IDCG for
# binary relevance with |relevant| >= 5 is the constant sum W[1..5].
_NDCG_W = {1: 1_000_000, 2: 630_930, 3: 500_000, 4: 430_677, 5: 386_853}
_NDCG_IDCG = sum(_NDCG_W.values())  # 2_948_460
_NDCG_CASE = (
    "CASE rk_ann "
    + " ".join(f"WHEN {r} THEN {w}" for r, w in _NDCG_W.items())
    + " ELSE 0 END"
)


def q_sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{RECALL_K} of the sign-LSH ANN ranking against exact cosine
    ground truth — the ORDER-sensitive companion to ``sim_recall_eval``
    (recall says how many true neighbors the index returns; NDCG says how
    well it ranks them, the metric IR evaluations actually report,
    Järvelin & Kekäläinen 2002).

    Binary relevance (candidate ∈ exact top-{RECALL_K}), discounts
    1/log2(rank+1) — but computed entirely in INTEGER ppm: the five
    discount weights are precomputed Python literals shared by both
    engines (see ``_NDCG_W``), so DCG is an exact integer sum and
    ndcg_ppm an exact integer division. No runtime transcendental, no
    rounding discipline needed — the lookup-table trick that also keeps
    the plan pure JVM arithmetic.

    Plan: identical one-scored-pass shape as ``sim_recall_eval`` — the
    8-query batch broadcasts, each (candidate, query) cosine is computed
    once, exact and ANN ranks become columns of the same pass via two
    WindowGroupLimit-capped windows, and ONE aggregation emits the
    metrics. At 100 TB the eval runs over a fixed probe sample; the
    per-query window partitions stay 8 regardless of corpus size."""
    e = _emb(spark, sf_dir)
    sig = e.select(
        "vec_id", "v", "nv", F.expr(_spark_lsh_bucket("v")).alias("bucket")
    )
    q = F.broadcast(
        sig.filter(F.col("vec_id") < RECALL_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            *_side("b"),
            F.col("bucket").alias("qbucket"),
        )
    )
    cand = sig.filter(F.col("vec_id") >= RECALL_QUERIES).select(
        "vec_id", *_side("a"), "bucket"
    )
    cos = F.round(cosine("av", "bv", "na", "nb"), 6)
    scored = cand.crossJoin(q).select(
        "query_id",
        "vec_id",
        cos.alias("cosine"),
        (F.col("bucket") == F.col("qbucket")).alias("in_bucket"),
    )
    from pyspark.sql import Window

    w_exact = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    w_ann = Window.partitionBy("query_id", "in_bucket").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    ranked = scored.select(
        "query_id",
        (F.row_number().over(w_exact) <= RECALL_K).alias("is_rel"),
        F.when(F.col("in_bucket"), F.row_number().over(w_ann)).alias("rk_ann"),
    ).filter(F.col("rk_ann") <= RECALL_K)
    return ranked.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_ann"),
        F.sum(F.col("is_rel").cast("int")).cast("bigint").alias("n_hits"),
        F.sum(
            F.when(F.col("is_rel"), F.expr(_NDCG_CASE)).otherwise(0)
        )
        .cast("bigint")
        .alias("dcg_ppm"),
        F.expr(
            f"CAST(sum(CASE WHEN is_rel THEN {_NDCG_CASE} ELSE 0 END)"
            f" * 1000000 div {_NDCG_IDCG} AS BIGINT)"
        ).alias("ndcg_ppm"),
    )


_ORACLE_NDCG = f"""
WITH e AS ({_SQL_EMB}),
sig AS (SELECT vec_id, v, {_sql_lsh_bucket('v')} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS bv, bucket AS qbucket
      FROM sig WHERE vec_id < {RECALL_QUERIES}),
cand AS (SELECT vec_id, v AS av, bucket FROM sig WHERE vec_id >= {RECALL_QUERIES}),
scored AS (
  SELECT query_id, vec_id,
         ROUND({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')}), 6) AS cosine,
         bucket = qbucket AS in_bucket
  FROM cand, q
),
ranked AS (
  SELECT query_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC)
           <= {RECALL_K} AS is_rel,
         CASE WHEN in_bucket THEN
           row_number() OVER (PARTITION BY query_id, in_bucket
                              ORDER BY cosine DESC, vec_id ASC)
         END AS rk_ann
  FROM scored
)
SELECT query_id,
       CAST(count(*) AS BIGINT) AS n_ann,
       CAST(sum(CASE WHEN is_rel THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CAST(sum(CASE WHEN is_rel THEN {_NDCG_CASE} ELSE 0 END) AS BIGINT)
         AS dcg_ppm,
       CAST(sum(CASE WHEN is_rel THEN {_NDCG_CASE} ELSE 0 END)
            * 1000000 // {_NDCG_IDCG} AS BIGINT) AS ndcg_ppm
FROM ranked WHERE rk_ann <= {RECALL_K}
GROUP BY query_id
"""


def q_sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — for each anchor vector, the top-3 most
    similar vectors with a DIFFERENT label. This is the contrastive-
    training data op (SimCSE/DPR/Contriever all mine in-batch or corpus
    hard negatives this way): the highest-cosine wrong-label neighbors
    are exactly the examples that sharpen the decision boundary.

    Plan: identical shape to `sim_knn_join` (broadcast anchor batch,
    corpus stays put, per-anchor top-k window) plus the label-mismatch
    filter BEFORE scoring output — at 100 TB the same LSH/IVF candidate
    pruning as the ANN entries bolts on in front, and the label filter
    pushes into the candidate scan."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir)
    anchors = F.broadcast(
        e.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("anchor_label"),
            *_side("b"),
        )
    )
    cand = e.select("vec_id", F.col("label").alias("cand_label"), *_side("a"))
    cos = F.round(cosine("av", "bv", "na", "nb"), 6)
    scored = (
        cand.crossJoin(anchors)
        .filter(F.col("cand_label") != F.col("anchor_label"))
        .select(
            "anchor_id", "anchor_label", "vec_id", "cand_label", cos.alias("cosine")
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("anchor_id", "anchor_label", "vec_id", "cand_label", "cosine", "rk")
    )


_ORACLE_HARD_NEGATIVES = f"""
WITH e AS ({_SQL_EMB}),
a AS (SELECT vec_id AS anchor_id, label AS anchor_label, v AS bv
      FROM e WHERE vec_id < 8),
scored AS (
  SELECT a.anchor_id, a.anchor_label, c.vec_id, c.label AS cand_label,
         ROUND({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')}), 6) AS cosine
  FROM (SELECT vec_id, label, v AS av FROM e) c, a
  WHERE c.label <> a.anchor_label
)
SELECT anchor_id, anchor_label, vec_id, cand_label, cosine, CAST(rk AS INT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY cosine DESC, vec_id ASC) AS rk
  FROM scored)
WHERE rk <= 3
"""


IVF_NPROBE_SWEEP = (1, 2, 4)


def q_sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe tuning sweep — the ANN twin of `dedup_lsh_tuning_sweep`:
    for nprobe ∈ {1,2,4} probed cells, the scanned-corpus fraction (cost)
    and recall@5 vs the exact brute-force top-5 (quality). This walks the
    latency/recall curve every FAISS/ScaNN deployment tunes; the sweep's
    verdict (how many cells buy how much recall) is the capacity-planning
    number for the 100 TB index.

    Plan: ONE scored pass over the corpus (pinned) feeds the exact top-5,
    every nprobe's candidate set, and the per-nprobe top-5 rank
    (partitioned by nprobe). Cell ranking is a ≤|cells|² broadcast
    join-count, not a global window. Centroids are exact decimal means;
    all ratios integer ppm."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir)
    q = F.broadcast(e.filter(F.col("vec_id") == 0).select(*_side("b")))
    corpus = e.filter(F.col("vec_id") != 0)
    cos = F.round(cosine("v", "bv", "nv", "nb"), 6)
    scored = pin(
        corpus.crossJoin(q).select("vec_id", "label", cos.alias("cosine"))
    )
    exact5 = F.broadcast(
        scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(5)
        .select(F.col("vec_id").alias("hit_id"))
    )
    ex = e.select("label", F.posexplode("v").alias("idx", "val"))
    cent = ex.groupBy("label", "idx").agg(
        (F.sum(F.col("val").cast("decimal(20,8)")).cast("double") / F.count("*")).alias("c")
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("idx", "c"))), lambda s: s["c"]
        ).alias("cv")
    ).withColumn("nc", vec_norm("cv"))
    cell_cos = F.round(cosine("cv", "bv", "nc", "nb"), 6)
    cells = cent_arr.crossJoin(q).select("label", cell_cos.alias("cell_cosine"))
    ca = cells.select(F.col("label").alias("la"), F.col("cell_cosine").alias("sa"))
    cb = cells.select(F.col("label").alias("lb"), F.col("cell_cosine").alias("sb"))
    cell_rank = F.broadcast(
        ca.join(
            F.broadcast(cb),
            (F.col("sb") > F.col("sa"))
            | ((F.col("sb") == F.col("sa")) & (F.col("lb") < F.col("la"))),
            "left",
        )
        .groupBy("la")
        .agg((F.count("lb") + 1).alias("cell_rk"))
        .select(F.col("la").alias("label"), "cell_rk")
    )
    probes = F.broadcast(
        spark.range(1).select(
            F.explode(F.array(*[F.lit(n) for n in IVF_NPROBE_SWEEP])).alias("nprobe")
        )
    )
    cand = (
        scored.join(cell_rank, "label")
        .crossJoin(probes)
        .filter(F.col("cell_rk") <= F.col("nprobe"))
    )
    wtop = Window.partitionBy("nprobe").orderBy(F.desc("cosine"), F.asc("vec_id"))
    top5 = cand.withColumn("rk", F.row_number().over(wtop)).filter(F.col("rk") <= 5)
    hits = (
        top5.join(exact5, top5.vec_id == F.col("hit_id"))
        .groupBy("nprobe")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    per_np = cand.groupBy("nprobe").agg(
        F.countDistinct("label").cast("bigint").alias("n_cells_probed"),
        F.count("*").cast("bigint").alias("n_scanned"),
    )
    n_corpus = F.broadcast(
        scored.agg(F.count("*").cast("bigint").alias("n_corpus"))
    )
    return (
        per_np.join(hits, "nprobe", "left")
        .na.fill(0, ["n_hits"])
        .crossJoin(n_corpus)
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_cells_probed",
            "n_scanned",
            F.expr("CAST((1000000 * n_scanned) DIV n_corpus AS BIGINT)").alias(
                "scanned_ppm"
            ),
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.expr("CAST((1000000 * n_hits) DIV 5 AS BIGINT)").alias("recall_ppm"),
        )
    )


_ORACLE_IVF_SWEEP = f"""
WITH e AS ({_SQL_EMB}),
q AS (SELECT v AS bv FROM e WHERE vec_id = 0),
scored AS (
  SELECT vec_id, label,
         ROUND({sql_dot('v', 'bv')} / ({sql_norm('v')} * {sql_norm('bv')}), 6)
           AS cosine
  FROM e, q WHERE vec_id <> 0
),
exact5 AS (
  SELECT vec_id AS hit_id FROM scored
  ORDER BY cosine DESC, vec_id ASC LIMIT 5
),
ex AS (
  SELECT label, i, v[CAST(i AS INT)] AS val
  FROM e, (SELECT unnest(range(1, {DIMS + 1})) AS i) idxs
),
cent AS (
  SELECT label, i,
         CAST(SUM(CAST(val AS DECIMAL(20,8))) AS DOUBLE) / count(*) AS c
  FROM ex GROUP BY label, i
),
cent_arr AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label),
cells AS (
  SELECT label,
         ROUND({sql_dot('cv', 'bv')} / ({sql_norm('cv')} * {sql_norm('bv')}), 6)
           AS cell_cosine
  FROM cent_arr, q
),
cell_rank AS (
  SELECT a.label, CAST(1 + count(b.label) AS BIGINT) AS cell_rk
  FROM cells a LEFT JOIN cells b
    ON b.cell_cosine > a.cell_cosine
    OR (b.cell_cosine = a.cell_cosine AND b.label < a.label)
  GROUP BY a.label
),
probes AS (SELECT unnest([{', '.join(str(n) for n in IVF_NPROBE_SWEEP)}]) AS nprobe),
cand AS (
  SELECT s.vec_id, s.label, s.cosine, p.nprobe
  FROM scored s JOIN cell_rank r ON s.label = r.label, probes p
  WHERE r.cell_rk <= p.nprobe
),
top5 AS (
  SELECT nprobe, vec_id FROM (
    SELECT nprobe, vec_id,
           row_number() OVER (PARTITION BY nprobe
                              ORDER BY cosine DESC, vec_id ASC) AS rk
    FROM cand) WHERE rk <= 5
),
hits AS (
  SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
  FROM top5 JOIN exact5 ON top5.vec_id = exact5.hit_id
  GROUP BY nprobe
),
per_np AS (
  SELECT nprobe,
         CAST(count(DISTINCT label) AS BIGINT) AS n_cells_probed,
         CAST(count(*) AS BIGINT) AS n_scanned
  FROM cand GROUP BY nprobe
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM scored)
SELECT CAST(per_np.nprobe AS INT) AS nprobe,
       per_np.n_cells_probed,
       per_np.n_scanned,
       CAST((1000000 * per_np.n_scanned) // tot.n_corpus AS BIGINT) AS scanned_ppm,
       CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((1000000 * coalesce(hits.n_hits, 0)) // 5 AS BIGINT) AS recall_ppm
FROM per_np LEFT JOIN hits USING (nprobe), tot
"""


# --- MMR diversified retrieval ---------------------------------------------
# Maximal Marginal Relevance (Carbonell & Goldstein 1998): re-rank a
# candidate pool so each pick balances relevance to the query against
# redundancy with what's already picked — the standard diversity layer on
# top of ANN retrieval (and the dedup-aware selection step of a RAG/
# training-batch sampler). score = λ·rel − (1−λ)·max_sim_to_selected;
# with λ=0.7 and similarities as exact integer ppm the (×10-scaled) score
# 7·rel_ppm − 3·maxsim_ppm is exact integer arithmetic end to end.
MMR_POOL = 12  # candidate pool: the ANN stage's top-k
MMR_K = 5  # diversified picks
# The selection fold iterates F.sequence(2, MMR_K): Spark's sequence()
# auto-steps -1 when start > stop, so MMR_K = 1 would silently produce a
# DESCENDING [2, 1] and two bogus picks where the old unrolled loop
# produced none (ADVICE r14). Guard the constant, not the call site.
if MMR_K < 2:
    raise ValueError("MMR_K must be >= 2: the selection fold iterates sequence(2, MMR_K)")
_MMR_LAM_REL = 7  # λ=0.7 (×10)
_MMR_LAM_DIV = 3  # 1−λ (×10)


def _cos_ppm_expr() -> F.Column:
    """Integer-ppm cosine between columns av and bv (norms na, nb):
    round(cos, 6) → DECIMAL(10,6) → ×1e6 BIGINT. The double→decimal cast
    renders the same 6-dec value in both engines (the proven exactness
    bridge), so ppm scores join/compare exactly."""
    cos = cosine("av", "bv", "na", "nb")
    return (F.round(cos, 6).cast("decimal(10,6)") * 1000000).cast("bigint")


def q_sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-MMR_K for the query vector (vec_id=0) over its
    brute-force top-MMR_POOL candidate pool.

    Plan: the DISTRIBUTED work is the pool construction — one broadcast
    query against the corpus, TakeOrderedAndProject top-12 (identical
    shape to `sim_cosine_topk`; at 100 TB the LSH/IVF entries supply this
    pool instead). Everything after operates on the FIXED-size pool: the
    12×12 pairwise similarity table and the MMR_K−1 argmax-selection
    steps, which since r14 run as ONE higher-order-function fold
    (``aggregate`` over the collected pool/pairs arrays — both
    metadata-sized by construction: |pool| rows and |pool|² pairs). The
    former shape unrolled the selection as MMR_K−1 anti-join +
    bounded-aggregate + top-1 subplans, each pinned to stop geometric
    re-execution — 5 pin-materialization jobs plus a deep compile for
    ~60 rows of data; the fold is a single Project evaluated in one task
    (2 jobs total), with IDENTICAL integer-ppm arithmetic and the same
    (mmr_score DESC, vec_id ASC) argmax per step, encoded as
    ``array_max`` over (mmr_score, −vec_id) structs. No driver-side
    collect either way. Ties break on vec_id everywhere, so the pick
    sequence is unique."""
    e = _emb(spark, sf_dir)
    q = F.broadcast(e.filter(F.col("vec_id") == 0).select(*_side("b")))
    pool = pin(
        e.filter(F.col("vec_id") != 0)
        .select("vec_id", "label", *_side("a"))
        .crossJoin(q)
        .select("vec_id", "label", "av", "na", _cos_ppm_expr().alias("rel_ppm"))
        .orderBy(F.desc("rel_ppm"), F.asc("vec_id"))
        .limit(MMR_POOL)
    )
    pairs = (
        pool.select(F.col("vec_id").alias("a_id"), "av", "na")
        .crossJoin(
            pool.select(
                F.col("vec_id").alias("b_id"),
                F.col("av").alias("bv"),
                F.col("na").alias("nb"),
            )
        )
        .filter(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id", _cos_ppm_expr().alias("sim_ppm"))
    )
    # Collect the metadata-sized pool (12 rows) and pair table (132 rows)
    # into single-row arrays and run the whole selection as one fold —
    # see the docstring for the plan rationale. collect_list order is
    # irrelevant: every step is an argmax with a total (score, vec_id)
    # tie-break.
    poolarr = pool.agg(
        F.collect_list(F.struct("vec_id", "label", "rel_ppm")).alias("ps")
    )
    pairsarr = pairs.agg(
        F.collect_list(F.struct("a_id", "b_id", "sim_ppm")).alias("prs")
    )
    one = poolarr.crossJoin(pairsarr)

    def best_first(ps):
        # argmax by (rel_ppm DESC, vec_id ASC) → array_max of structs
        # keyed (rel_ppm, −vec_id, …): struct ordering compares fields
        # left-to-right and −vec_id is unique, so trailing fields never
        # decide — they just ride along to avoid a second lookup.
        key = F.array_max(
            F.transform(
                ps,
                lambda p: F.struct(
                    p["rel_ppm"].alias("rel_ppm"),
                    (-p["vec_id"]).alias("ni"),
                    p["label"].alias("label"),
                ),
            )
        )
        return F.array(
            F.struct(
                F.lit(1).alias("pick"),
                (-key["ni"]).alias("vec_id"),
                key["label"].alias("label"),
                key["rel_ppm"].alias("rel_ppm"),
                F.lit(0).cast("bigint").alias("maxsim_ppm"),
                (_MMR_LAM_REL * key["rel_ppm"]).cast("bigint").alias("mmr_score"),
            )
        )

    def step(acc, i):
        ps, prs = F.col("ps"), F.col("prs")
        chosen_has = lambda vid: F.exists(acc, lambda c: c["vec_id"] == vid)
        cand = F.filter(ps, lambda p: ~chosen_has(p["vec_id"]))
        # stage 1: per candidate, max sim against the chosen set (every
        # candidate has ≥1 pair row with a chosen b_id, as in the former
        # inner join); stage 2: the MMR score, argmax'd as a struct key
        # (mmr_score DESC, vec_id ASC via −vec_id) with the row's fields
        # trailing.
        withms = F.transform(
            cand,
            lambda p: F.struct(
                p["vec_id"].alias("vec_id"),
                p["label"].alias("label"),
                p["rel_ppm"].alias("rel_ppm"),
                F.array_max(
                    F.transform(
                        F.filter(
                            prs,
                            lambda pr: (pr["a_id"] == p["vec_id"])
                            & chosen_has(pr["b_id"]),
                        ),
                        lambda pr: pr["sim_ppm"],
                    )
                ).alias("ms"),
            ),
        )
        key = F.array_max(
            F.transform(
                withms,
                lambda w: F.struct(
                    (
                        _MMR_LAM_REL * w["rel_ppm"]
                        - _MMR_LAM_DIV * w["ms"]
                    )
                    .cast("bigint")
                    .alias("mmr_score"),
                    (-w["vec_id"]).alias("ni"),
                    w["label"].alias("label"),
                    w["rel_ppm"].alias("rel_ppm"),
                    w["ms"].alias("ms"),
                ),
            )
        )
        return F.concat(
            acc,
            F.array(
                F.struct(
                    i.cast("int").alias("pick"),
                    (-key["ni"]).alias("vec_id"),
                    key["label"].alias("label"),
                    key["rel_ppm"].alias("rel_ppm"),
                    key["ms"].cast("bigint").alias("maxsim_ppm"),
                    key["mmr_score"].alias("mmr_score"),
                )
            ),
        )

    picks = F.aggregate(
        F.sequence(F.lit(2), F.lit(MMR_K)), best_first(F.col("ps")), step
    )
    return (
        one.select(F.explode(picks).alias("s"))
        .select(
            F.col("s.pick").alias("pick"),
            F.col("s.vec_id").alias("vec_id"),
            F.col("s.label").alias("label"),
            F.col("s.rel_ppm").alias("rel_ppm"),
            F.col("s.maxsim_ppm").alias("maxsim_ppm"),
            F.col("s.mmr_score").alias("mmr_score"),
        )
    )


def _sql_cos_ppm() -> str:
    return (
        f"CAST(CAST(ROUND({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')}), 6)"
        " AS DECIMAL(10,6)) * 1000000 AS BIGINT)"
    )


def _oracle_mmr() -> str:
    """Unrolled-CTE twin of the MMR selection: selU_i accumulates picks,
    each step re-derives the candidate argmax exactly as the Spark plan
    does."""
    steps = []
    for i in range(2, MMR_K + 1):
        prev = f"selu{i - 1}"
        steps.append(
            f"""sel{i} AS (
  SELECT vec_id, label, rel_ppm, maxsim_ppm, mmr_score, {i} AS pick FROM (
    SELECT c.vec_id, c.label, c.rel_ppm, m.maxsim_ppm,
           CAST({_MMR_LAM_REL} * c.rel_ppm
                - {_MMR_LAM_DIV} * m.maxsim_ppm AS BIGINT) AS mmr_score
    FROM pool c
    JOIN (SELECT a_id, max(sim_ppm) AS maxsim_ppm FROM pairs
          WHERE b_id IN (SELECT vec_id FROM {prev}) GROUP BY a_id) m
      ON c.vec_id = m.a_id
    WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
    ORDER BY mmr_score DESC, c.vec_id ASC LIMIT 1
  )
),
selu{i} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM sel{i})"""
        )
    steps_sql = ",\n".join(steps)
    return f"""
WITH e AS ({_SQL_EMB}),
qv AS (SELECT v AS bv FROM e WHERE vec_id = 0),
pool AS (
  SELECT vec_id, label, av, rel_ppm FROM (
    SELECT c.vec_id, c.label, c.v AS av, qv.bv,
           {_sql_cos_ppm()} AS rel_ppm
    FROM (SELECT vec_id, label, v FROM e WHERE vec_id <> 0) c, qv
  ) ORDER BY rel_ppm DESC, vec_id ASC LIMIT {MMR_POOL}
),
pairs AS (
  SELECT a_id, b_id, {_sql_cos_ppm()} AS sim_ppm FROM (
    SELECT pa.vec_id AS a_id, pb.vec_id AS b_id, pa.av AS av, pb.av AS bv
    FROM pool pa JOIN pool pb ON pa.vec_id <> pb.vec_id
  )
),
selu1 AS (
  SELECT vec_id, label, rel_ppm, CAST(0 AS BIGINT) AS maxsim_ppm,
         CAST({_MMR_LAM_REL} * rel_ppm AS BIGINT) AS mmr_score, 1 AS pick
  FROM pool ORDER BY rel_ppm DESC, vec_id ASC LIMIT 1
),
{steps_sql}
SELECT pick, vec_id, label, rel_ppm, maxsim_ppm, mmr_score FROM selu{MMR_K}
"""


# --- margin-based bitext mining ---------------------------------------------

BITEXT_K = 4  # NN-average order for the margin normalizer (paper's k)
BITEXT_MARGIN_PPM = 1_100_000  # mine pairs with ratio margin >= 1.10


def q_sim_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, "Margin-based
    Parallel Corpus Mining with Multilingual Sentence Embeddings" — the
    CCMatrix/CCAligned alignment op, public): the corpus splits into two
    "language" sides (here ``vec_id % 7 == 0`` vs the rest — the small
    side plays the low-resource language), every cross-side cosine is
    normalized by the average cosine of each endpoint's k-NN
    (margin(x,y) = cos(x,y) / ((avg_kNN(x) + avg_kNN(y)) / 2), the
    paper's *ratio* margin with k=``BITEXT_K``), and each x keeps its
    best-margin y; pairs above ``BITEXT_MARGIN_PPM`` are the mined
    bitext, flagged ``mutual`` when y's best x is the same pair (the
    paper's max-strategy intersection). The margin normalizer is the
    whole point: a hub y that is everyone's cosine neighbor has a high
    kNN average, so its margins deflate — raw-cosine mining drowns in
    hubs.

    All arithmetic after the cosine is EXACT integer: cosines land as
    rounded micro-units (cos6), the margin is a single BIGINT division
    (2 * cos6 * nx * ny) DIV (sum_x * ny + sum_y * nx) in ppm, and both
    factors are guarded positive so Spark's DIV and DuckDB's // agree.

    Plan shape at 100 TB: the scored pair table is built ONCE (small
    side broadcast against the large side — one corpus scan, no
    shuffle) and pinned; both per-side kNN aggregations and the margin
    join re-read that table, and the per-side stats (one row per
    vector) broadcast back. Brute-force X x Y scoring is the
    pool-builder/verifier at bench SF (family convention, cf.
    `sim_cosine_topk`); at corpus scale the LSH/IVF candidate pruning
    of `sim_lsh_ann`/`sim_ivf_ann` bolts in front so the pair table is
    candidates-only, and the margin/mutual reduction below is unchanged
    — which is exactly the published pipeline (FAISS candidates, then
    margin rescoring)."""
    from pyspark.sql import Window

    e = _emb(spark, sf_dir)
    xs = F.broadcast(
        e.filter(F.col("vec_id") % 7 == 0).select(
            F.col("vec_id").alias("x_id"),
            F.col("label").alias("x_label"),
            *_side("b"),
        )
    )
    ys = e.filter(F.col("vec_id") % 7 != 0).select(
        F.col("vec_id").alias("y_id"),
        F.col("label").alias("y_label"),
        *_side("a"),
    )
    cos6 = F.round(cosine("av", "bv", "na", "nb") * 1000000, 0).cast("bigint")
    pairs = pin(
        ys.crossJoin(xs).select(
            "x_id", "x_label", "y_id", "y_label", cos6.alias("cos6")
        )
    )
    wx = Window.partitionBy("x_id").orderBy(F.desc("cos6"), F.asc("y_id"))
    xstat = (
        pairs.withColumn("rk", F.row_number().over(wx))
        .filter(F.col("rk") <= BITEXT_K)
        .groupBy("x_id")
        .agg(F.sum("cos6").alias("x_nn6"), F.count("*").alias("x_cnt"))
    )
    wy = Window.partitionBy("y_id").orderBy(F.desc("cos6"), F.asc("x_id"))
    ystat = (
        pairs.withColumn("rk", F.row_number().over(wy))
        .filter(F.col("rk") <= BITEXT_K)
        .groupBy("y_id")
        .agg(F.sum("cos6").alias("y_nn6"), F.count("*").alias("y_cnt"))
    )
    margins = (
        pairs.join(F.broadcast(xstat), "x_id")
        .join(F.broadcast(ystat), "y_id")
        .filter(
            (F.col("cos6") > 0)
            & (
                F.col("x_nn6") * F.col("y_cnt")
                + F.col("y_nn6") * F.col("x_cnt")
                > 0
            )
        )
        .select(
            "x_id",
            "x_label",
            "y_id",
            "y_label",
            "cos6",
            F.expr(
                "CAST(2 * cos6 * x_cnt * y_cnt * 1000000"
                " DIV (x_nn6 * y_cnt + y_nn6 * x_cnt) AS BIGINT)"
            ).alias("margin_ppm"),
        )
    )
    wbx = Window.partitionBy("x_id").orderBy(
        F.desc("margin_ppm"), F.asc("y_id")
    )
    fwd = (
        margins.withColumn("rk", F.row_number().over(wbx))
        .filter((F.col("rk") == 1) & (F.col("margin_ppm") >= BITEXT_MARGIN_PPM))
        .drop("rk")
    )
    wby = Window.partitionBy("y_id").orderBy(
        F.desc("margin_ppm"), F.asc("x_id")
    )
    back = (
        margins.withColumn("rk", F.row_number().over(wby))
        .filter(F.col("rk") == 1)
        .select(F.col("x_id").alias("bx_id"), F.col("y_id").alias("by_id"))
    )
    return fwd.join(
        F.broadcast(back),
        (fwd.x_id == back.bx_id) & (fwd.y_id == back.by_id),
        "left",
    ).select(
        "x_id",
        "x_label",
        "y_id",
        "y_label",
        "cos6",
        "margin_ppm",
        F.col("bx_id").isNotNull().alias("mutual"),
    )


_ORACLE_BITEXT = f"""
WITH e AS ({_SQL_EMB}),
xs AS (SELECT vec_id AS x_id, label AS x_label, v AS bv
       FROM e WHERE vec_id % 7 = 0),
ys AS (SELECT vec_id AS y_id, label AS y_label, v AS av
       FROM e WHERE vec_id % 7 <> 0),
pairs AS (
  SELECT x_id, x_label, y_id, y_label,
         CAST(round({sql_dot('av', 'bv')} / ({sql_norm('av')} * {sql_norm('bv')})
                    * 1000000, 0) AS BIGINT) AS cos6
  FROM ys, xs
),
xstat AS (
  SELECT x_id, sum(cos6) AS x_nn6, count(*) AS x_cnt
  FROM (SELECT *, row_number() OVER (PARTITION BY x_id
                                     ORDER BY cos6 DESC, y_id ASC) AS rk
        FROM pairs)
  WHERE rk <= {BITEXT_K} GROUP BY 1
),
ystat AS (
  SELECT y_id, sum(cos6) AS y_nn6, count(*) AS y_cnt
  FROM (SELECT *, row_number() OVER (PARTITION BY y_id
                                     ORDER BY cos6 DESC, x_id ASC) AS rk
        FROM pairs)
  WHERE rk <= {BITEXT_K} GROUP BY 1
),
margins AS (
  SELECT p.x_id, p.x_label, p.y_id, p.y_label, p.cos6,
         CAST(2 * p.cos6 * xs.x_cnt * ys.y_cnt * 1000000
              // (xs.x_nn6 * ys.y_cnt + ys.y_nn6 * xs.x_cnt)
              AS BIGINT) AS margin_ppm
  FROM pairs p
  JOIN xstat xs ON p.x_id = xs.x_id
  JOIN ystat ys ON p.y_id = ys.y_id
  WHERE p.cos6 > 0 AND xs.x_nn6 * ys.y_cnt + ys.y_nn6 * xs.x_cnt > 0
),
fwd AS (
  SELECT x_id, x_label, y_id, y_label, cos6, margin_ppm
  FROM (SELECT *, row_number() OVER (PARTITION BY x_id
                                     ORDER BY margin_ppm DESC, y_id ASC) AS rk
        FROM margins)
  WHERE rk = 1 AND margin_ppm >= {BITEXT_MARGIN_PPM}
),
back AS (
  SELECT x_id AS bx_id, y_id AS by_id
  FROM (SELECT *, row_number() OVER (PARTITION BY y_id
                                     ORDER BY margin_ppm DESC, x_id ASC) AS rk
        FROM margins)
  WHERE rk = 1
)
SELECT f.x_id, f.x_label, f.y_id, f.y_label, f.cos6, f.margin_ppm,
       (b.bx_id IS NOT NULL) AS mutual
FROM fwd f
LEFT JOIN back b ON f.x_id = b.bx_id AND f.y_id = b.by_id
"""


QUERIES = {
    "sim_bitext_margin": q_sim_bitext_margin,
    "sim_mmr_diversify": q_sim_mmr_diversify,
    "sim_ivf_nprobe_sweep": q_sim_ivf_nprobe_sweep,
    "sim_hard_negatives": q_sim_hard_negatives,
    "sim_cosine_topk": q_sim_cosine_topk,
    "sim_ivf_ann": q_sim_ivf_ann,
    "sim_knn_join": q_sim_knn_join,
    "sim_intra_label_stats": q_sim_intra_label_stats,
    "sim_lsh_ann": q_sim_lsh_ann,
    "sim_lsh_bucket_stats": q_sim_lsh_bucket_stats,
    "sim_kmeans_step": q_sim_kmeans_step,
    "sim_cluster_purity": q_sim_cluster_purity,
    "sim_dim_variance_topk": q_sim_dim_variance_topk,
    "sim_quantize_int8": q_sim_quantize_int8,
    "sim_pq_codes": q_sim_pq_codes,
    "sim_recall_eval": q_sim_recall_eval,
    "sim_matryoshka_recall": q_sim_matryoshka_recall,
    "sim_rank_fusion": q_sim_rank_fusion,
    "sim_ndcg_eval": q_sim_ndcg_eval,
    "sim_centroid_drift": q_sim_centroid_drift,
    "sim_pq_adc_search": q_sim_pq_adc_search,
}

ORACLE = {
    "sim_bitext_margin": _ORACLE_BITEXT,
    "sim_mmr_diversify": _oracle_mmr(),
    "sim_ivf_nprobe_sweep": _ORACLE_IVF_SWEEP,
    "sim_hard_negatives": _ORACLE_HARD_NEGATIVES,
    "sim_cosine_topk": _ORACLE_COSINE_TOPK,
    "sim_ivf_ann": _ORACLE_IVF,
    "sim_knn_join": _ORACLE_KNN_JOIN,
    "sim_intra_label_stats": _ORACLE_INTRA_LABEL,
    "sim_lsh_ann": _ORACLE_LSH_ANN,
    "sim_lsh_bucket_stats": _ORACLE_LSH_STATS,
    "sim_kmeans_step": _ORACLE_KMEANS,
    "sim_cluster_purity": _ORACLE_CLUSTER_PURITY,
    "sim_dim_variance_topk": _ORACLE_DIM_VARIANCE,
    "sim_quantize_int8": _ORACLE_QUANTIZE,
    "sim_pq_codes": _ORACLE_PQ,
    "sim_recall_eval": _ORACLE_RECALL,
    "sim_matryoshka_recall": _ORACLE_MATRYOSHKA,
    "sim_rank_fusion": _ORACLE_RANK_FUSION,
    "sim_ndcg_eval": _ORACLE_NDCG,
    "sim_centroid_drift": _ORACLE_DRIFT,
    "sim_pq_adc_search": _ORACLE_PQ_ADC,
}
