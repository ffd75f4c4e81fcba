"""Multimodal query entries — drive ``sources.multimodal`` end-to-end.

The Spark side exercises the REAL Pandas-UDF path (binary column through
``mapInPandas`` with Arrow batches); the DuckDB oracle recomputes the same
features relationally (md5 of the identical utf-8 bytes, octet length,
first/second byte arithmetic), proving the batch plumbing preserves values
row-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.multimodal import binary_documents, extract_features


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → mapInPandas feature extraction → typed columns."""
    feats = extract_features(binary_documents(spark, sf_dir))
    return feats.select(
        "doc_id", "mime", "byte_len", "payload_md5", "fake_width", "fake_height",
        "decode_status",
    )


_ORACLE_FEATURES = """
SELECT doc_id,
       'text/plain' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS payload_md5,
       CASE WHEN octet_length(encode(text)) > 0
            THEN (ascii(substr(text, 1, 1)) % 64) + 1 ELSE 0 END AS fake_width,
       CASE WHEN octet_length(encode(text)) > 1
            THEN (ascii(substr(text, 2, 1)) % 64) + 1 ELSE 0 END AS fake_height,
       'stubbed' AS decode_status
FROM documents
"""


def q_multimodal_size_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over extracted features (UDF output feeding a relational
    agg — the full modality pipeline shape): payload-size histogram."""
    feats = extract_features(binary_documents(spark, sf_dir))
    return feats.groupBy(
        (F.col("byte_len") - (F.col("byte_len") % 100)).alias("size_bucket")
    ).agg(
        F.count("*").alias("n_payloads"),
        F.sum("byte_len").alias("total_bytes"),
        F.countDistinct("payload_md5").alias("n_distinct"),
    )


_ORACLE_SIZE_ROLLUP = """
WITH f AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         md5(text) AS payload_md5
  FROM documents
)
SELECT byte_len - (byte_len % 100) AS size_bucket,
       count(*) AS n_payloads,
       CAST(sum(byte_len) AS BIGINT) AS total_bytes,
       count(DISTINCT payload_md5) AS n_distinct
FROM f
GROUP BY 1
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through mapInPandas: every payload expands to 4
    deterministic byte-segment 'frames' (1→N rows inside Arrow batches —
    the video frame-sampler shape). The oracle recomputes the segments
    relationally (ASCII text ⇒ byte slices == char slices), certifying
    the expansion preserves both row structure and content."""
    from ..sources.multimodal import binary_documents, sample_frames

    return sample_frames(binary_documents(spark, sf_dir))


_ORACLE_FRAME_SAMPLE = """
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       CAST((length(text) * (i + 1)) // 4 - (length(text) * i) // 4 AS BIGINT) AS frame_len,
       md5(substr(text,
                  CAST((length(text) * i) // 4 + 1 AS INT),
                  CAST((length(text) * (i + 1)) // 4 - (length(text) * i) // 4 AS INT))) AS frame_md5
FROM documents, (SELECT unnest(range(0, 4)) AS i) frames
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize through mapInPandas: dimensions rescale to a bounding box
    with integer arithmetic, the payload downsampled by a deterministic
    byte stride (the thumbnailer shape, codec-stubbed). The oracle
    recomputes dims and the strided subsample relationally — ASCII text
    makes byte stride == char stride — so the Arrow round-trip is
    certified value-exact end-to-end."""
    from ..sources.multimodal import resize_images

    return resize_images(binary_documents(spark, sf_dir))


_ORACLE_RESIZE = """
WITH base AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         CASE WHEN octet_length(encode(text)) > 0
              THEN (ascii(substr(text, 1, 1)) % 64) + 1 ELSE 0 END AS w,
         CASE WHEN octet_length(encode(text)) > 1
              THEN (ascii(substr(text, 2, 1)) % 64) + 1 ELSE 0 END AS h
  FROM documents
),
dims AS (
  SELECT *, greatest(w, h) AS m,
         greatest(1, (n + 255) // 256) AS k
  FROM base
),
ds AS (
  SELECT doc_id, w, h, m, k,
         array_to_string(list_transform(range(1, n + 1, CAST(k AS BIGINT)),
                                        i -> substr(text, CAST(i AS INT), 1)),
                         '') AS sampled
  FROM dims
)
SELECT doc_id,
       CAST(w AS INT) AS in_width,
       CAST(h AS INT) AS in_height,
       CAST(CASE WHEN m = 0 THEN 0 ELSE greatest(w * 32 // m, 1) END AS INT) AS out_width,
       CAST(CASE WHEN m = 0 THEN 0 ELSE greatest(h * 32 // m, 1) END AS INT) AS out_height,
       CAST(length(sampled) AS BIGINT) AS ds_len,
       md5(sampled) AS ds_md5,
       'stubbed' AS decode_status
FROM ds
"""


PHASH_BUCKET_CAP = 50  # web-scale boilerplate guard; lossless here (tested)


def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection over binary payloads — the image/
    video dedup pipeline: mapInPandas 'decodes' each payload into
    PHASH_SEGMENTS per-frame fingerprints (codec-stubbed, see
    sources.multimodal._phash_frames), candidate pairs are an equi-join on
    (frame_idx, fingerprint) — LSH-style banding, never all-pairs — and a
    pair survives when ≥2 of its frames match (similarity = shared/4).
    keep/drop follows the min-doc_id convention of the other dedup entries.

    Scale: identical shape to dedup_minhash_lsh — the fingerprint table is
    4 rows per payload; the self-join cost is Σ bucket², bounded by the
    PHASH_BUCKET_CAP filter that drops degenerate boilerplate buckets
    (at this corpus the largest bucket is far below the cap, asserted in
    tests, so the guard is lossless). The frames table is pinned so the
    Python extractor runs ONCE, not once per self-join side."""
    from ..sources.multimodal import phash_frames
    from . import pin

    frames = pin(phash_frames(binary_documents(spark, sf_dir)))
    live = frames.join(
        frames.groupBy("frame_idx", "frame_hash")
        .agg(F.count("*").alias("bsz"))
        .filter(F.col("bsz") <= PHASH_BUCKET_CAP)
        .select("frame_idx", "frame_hash"),
        ["frame_idx", "frame_hash"],
    )
    a, b = live.alias("a"), live.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.frame_idx") == F.col("b.frame_idx"))
            & (F.col("a.frame_hash") == F.col("b.frame_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("bigint").alias("shared_frames"))
    )
    return pairs.filter(F.col("shared_frames") >= 2).select(
        "doc_a",
        "doc_b",
        "shared_frames",
        (F.col("shared_frames") * 25).cast("int").alias("sim_pct"),
        F.col("doc_a").alias("keep_doc"),
        F.col("doc_b").alias("drop_doc"),
    )


_ORACLE_PHASH_DEDUP = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> length(x) > 0) AS tk
  FROM documents
),
f0 AS (
  SELECT doc_id, CAST(i AS INT) AS frame_idx,
         (len(tk) * (i + 1)) // 4 - (len(tk) * i) // 4 AS seglen,
         md5(array_to_string(tk[(len(tk) * i) // 4 + 1 : (len(tk) * (i + 1)) // 4], ' ')) AS frame_hash
  FROM t, (SELECT unnest(range(0, 4)) AS i) fr
),
f AS (SELECT doc_id, frame_idx, frame_hash FROM f0 WHERE seglen > 0),
live AS (
  SELECT f.* FROM f
  JOIN (SELECT frame_idx, frame_hash FROM f GROUP BY 1, 2
        HAVING count(*) <= {PHASH_BUCKET_CAP}) ok USING (frame_idx, frame_hash)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS shared_frames
  FROM live a
  JOIN live b ON a.frame_idx = b.frame_idx
             AND a.frame_hash = b.frame_hash
             AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared_frames,
       CAST(shared_frames * 25 AS INT) AS sim_pct,
       doc_a AS keep_doc, doc_b AS drop_doc
FROM pairs WHERE shared_frames >= 2
"""


def q_multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing through mapInPandas: every payload expands into
    overlapping [start, start+256) byte windows at hop 192 (the STFT /
    wav2vec chunking shape), then rolls up per document — window count,
    coverage bytes (sum of window lengths counts overlap, deliberately:
    that's the featurizer's actual compute volume), and an order-sensitive
    fingerprint (md5 of the concatenated per-window md5s in win_idx order)
    so any dropped, duplicated, or reordered window breaks the hash.

    The oracle regenerates the same windows relationally (range() over the
    hop grid + substr slices). PARITY INVARIANT: the Spark side windows
    the utf-8 BYTE payload while DuckDB's substr slices CHARACTERS (no
    BLOB substring exists in DuckDB), so parity requires documents.text to
    be pure ASCII — enforced by
    tests/test_round9_ops.py::test_documents_text_is_ascii_all_sfs
    against every generated SF, not just assumed (ADVICE r8).
    Scale: the expansion is per-row inside Arrow batches, zero shuffle;
    the rollup keys on doc_id. Real audio swaps the byte slice for PCM
    decode behind the same schema (sources/multimodal.py::decode_image
    documents the codec gate)."""
    from ..sources.multimodal import audio_windows

    wins = audio_windows(
        binary_documents(spark, sf_dir).select("doc_id", "payload")
    )
    return wins.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_windows"),
        F.max("win_idx").cast("int").alias("last_win_idx"),
        F.sum("n_bytes").cast("bigint").alias("compute_bytes"),
        F.md5(
            F.concat_ws(
                "|", F.array_sort(F.collect_list(F.struct("win_idx", "window_md5")))
                .getField("window_md5")
            ).cast("binary")
        ).alias("sequence_md5"),
    )


_ORACLE_AUDIO_WINDOWS = """
WITH d AS (
  SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS L
  FROM documents
),
w AS (
  SELECT doc_id,
         CAST(g AS BIGINT) AS start_byte,
         CAST(least(256, L - g) AS BIGINT) AS n_bytes,
         md5(substr(text, CAST(g + 1 AS INT), CAST(least(256, L - g) AS INT)))
           AS window_md5
  FROM d, unnest(range(0, L, 192)) AS t(g)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(count(*) - 1 AS INT) AS last_win_idx,
       CAST(sum(n_bytes) AS BIGINT) AS compute_bytes,
       md5(string_agg(window_md5, '|' ORDER BY start_byte)) AS sequence_md5
FROM w
GROUP BY doc_id
"""


QUERIES = {
    "multimodal_audio_windows": q_multimodal_audio_windows,
    "multimodal_features": q_multimodal_features,
    "multimodal_size_rollup": q_multimodal_size_rollup,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_phash_dedup": q_multimodal_phash_dedup,
}

ORACLE = {
    "multimodal_audio_windows": _ORACLE_AUDIO_WINDOWS,
    "multimodal_features": _ORACLE_FEATURES,
    "multimodal_size_rollup": _ORACLE_SIZE_ROLLUP,
    "multimodal_frame_sample": _ORACLE_FRAME_SAMPLE,
    "multimodal_resize": _ORACLE_RESIZE,
    "multimodal_phash_dedup": _ORACLE_PHASH_DEDUP,
}
