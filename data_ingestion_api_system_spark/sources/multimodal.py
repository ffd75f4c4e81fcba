"""Multimodal column support (BASELINE.json north star): image/audio/video
as opaque ``binary`` columns with typed metadata, processed by Arrow-batched
``mapInPandas`` — the Spark-side plumbing (schema, partitioning, UDF
signature, batch shape) is real and oracle-tested; the actual media decode
is stubbed because codec libraries are not in this container.

Scale design:
- Binary payloads ride normal parquet columns; Spark never interprets them
  JVM-side, so scans stream them straight into Arrow batches.
- ``mapInPandas`` processes whole Arrow batches per partition (no per-row
  pickling); this is the pattern for decode / resize / frame-sample at
  100 TB — CPU-bound per-row work that parallelizes per-partition with
  zero shuffle.
- Feature extraction emits small typed columns; downstream joins/aggs are
  ordinary relational ops on those.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table

FEATURE_SCHEMA = (
    "doc_id bigint, mime string, byte_len bigint, payload_md5 string, "
    "fake_width int, fake_height int, decode_status string"
)


def decode_image(payload: bytes) -> "object":
    """Real image decode (PIL/opencv) — NOT AVAILABLE in this container.

    STUB: the deterministic fake below (first/second byte → dimensions)
    stands in for decoded metadata so the Spark plumbing is testable.
    Swap this for ``PIL.Image.open(io.BytesIO(payload))`` when the codec
    libraries exist.
    """
    raise NotImplementedError("image codecs not available in this environment")


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched feature extractor: len + md5 + stubbed 'decode'."""
    import hashlib

    for pdf in batches:
        payloads = pdf["payload"]
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "mime": pdf["mime"],
                "byte_len": payloads.map(len).astype("int64"),
                "payload_md5": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                # deterministic stand-in for decoded image dimensions
                "fake_width": payloads.map(lambda b: (b[0] % 64) + 1 if len(b) else 0).astype("int32"),
                "fake_height": payloads.map(lambda b: (b[1] % 64) + 1 if len(b) > 1 else 0).astype("int32"),
                "decode_status": "stubbed",
            }
        )
        yield out


N_FRAMES = 4

FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_len bigint, frame_md5 string"


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame sampling: each payload yields N_FRAMES rows (contiguous byte
    segments) — the 1→N expansion shape a video/audio frame sampler has.
    The 'decode' is a deterministic byte slice standing in for real codec
    output (see decode_image); the row-expansion plumbing is real."""
    import hashlib

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            for i in range(N_FRAMES):
                seg = payload[i * n // N_FRAMES : (i + 1) * n // N_FRAMES]
                rows.append(
                    (int(doc_id), i, len(seg), hashlib.md5(seg).hexdigest())
                )
        yield pd.DataFrame(
            rows, columns=["doc_id", "frame_idx", "frame_len", "frame_md5"]
        ).astype({"doc_id": "int64", "frame_idx": "int32", "frame_len": "int64"})


def sample_frames(df: DataFrame) -> DataFrame:
    """Run the frame sampler over a (doc_id, payload) DataFrame — each
    input row expands to N_FRAMES output rows inside the Arrow batches."""
    return df.mapInPandas(_sample_frames, schema=FRAME_SCHEMA)


RESIZE_MAX_SIDE = 32  # target bounding box for the dimension rescale
RESIZE_BUDGET = 256  # byte budget for the payload downsample

RESIZE_SCHEMA = (
    "doc_id bigint, in_width int, in_height int, out_width int, "
    "out_height int, ds_len bigint, ds_md5 string, decode_status string"
)


def _resize_images(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Resize stub: rescales the (stubbed) decoded dimensions to fit a
    {RESIZE_MAX_SIDE}px bounding box with exact integer arithmetic
    (w·MAX // max(w,h), floor ≥ 1), and 'resamples' the payload by taking
    every k-th byte with k = ceil(n/{RESIZE_BUDGET}) — the strided-subsample
    shape a real thumbnailer has, deterministic so the oracle can recompute
    it. Swap the body for PIL's ``Image.resize`` when codecs exist (see
    decode_image)."""
    import hashlib

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            w = (payload[0] % 64) + 1 if n else 0
            h = (payload[1] % 64) + 1 if n > 1 else 0
            m = max(w, h)
            out_w = max(w * RESIZE_MAX_SIDE // m, 1) if m else 0
            out_h = max(h * RESIZE_MAX_SIDE // m, 1) if m else 0
            k = max(1, -(-n // RESIZE_BUDGET))  # ceil without floats
            ds = payload[::k]
            rows.append(
                (
                    int(doc_id),
                    w,
                    h,
                    out_w,
                    out_h,
                    len(ds),
                    hashlib.md5(ds).hexdigest(),
                    "stubbed",
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "in_width",
                "in_height",
                "out_width",
                "out_height",
                "ds_len",
                "ds_md5",
                "decode_status",
            ],
        ).astype(
            {
                "doc_id": "int64",
                "in_width": "int32",
                "in_height": "int32",
                "out_width": "int32",
                "out_height": "int32",
                "ds_len": "int64",
            }
        )


def resize_images(df: DataFrame) -> DataFrame:
    """Run the Arrow-batched resize stub over a (doc_id, payload) frame."""
    return df.mapInPandas(_resize_images, schema=RESIZE_SCHEMA)


# STFT-style audio framing: fixed window with 25% hop overlap, in bytes
# (1 byte standing in for 1 PCM sample — see decode_image for the codec
# gate; a real pipeline frames int16 samples the same way, just ×2 bytes).
AUDIO_WIN_BYTES = 256
AUDIO_HOP_BYTES = 192

AUDIO_WINDOW_SCHEMA = (
    "doc_id bigint, win_idx int, start_byte bigint, n_bytes bigint, "
    "window_md5 string"
)


def _audio_windows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Overlapping-window segmentation: each payload expands to
    ceil(len/HOP) rows of [start, start+WIN) byte windows (last windows
    are short) — the framing every audio featurizer (STFT, wav2vec chunk,
    Whisper 30 s segment) performs before the model. The 'decode' is an
    identity byte slice standing in for real PCM (see decode_image); the
    1→N Arrow expansion, offsets, and content hashes are real."""
    import hashlib

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = len(payload)
            idx = 0
            start = 0
            while start < n:
                seg = payload[start : start + AUDIO_WIN_BYTES]
                rows.append(
                    (
                        int(doc_id),
                        idx,
                        start,
                        len(seg),
                        hashlib.md5(seg).hexdigest(),
                    )
                )
                idx += 1
                start += AUDIO_HOP_BYTES
        yield pd.DataFrame(
            rows,
            columns=["doc_id", "win_idx", "start_byte", "n_bytes", "window_md5"],
        ).astype(
            {
                "doc_id": "int64",
                "win_idx": "int32",
                "start_byte": "int64",
                "n_bytes": "int64",
            }
        )


def audio_windows(df: DataFrame) -> DataFrame:
    """Run the overlapping-window segmenter over a (doc_id, payload)
    DataFrame — each input row expands to ceil(len/hop) output rows inside
    the Arrow batches."""
    return df.mapInPandas(_audio_windows, schema=AUDIO_WINDOW_SCHEMA)


def binary_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stand-in multimodal table: utf-8 text bytes as the opaque payload
    plus typed metadata — the exact column layout an image/audio table
    would use (payload BINARY, mime STRING, byte_len BIGINT)."""
    from ..operators import spread

    # spread: one parquet file = one partition = ONE Arrow batch stream;
    # mapInPandas would run the whole extractor serially in a single task
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Run the Arrow-batched extractor over a (doc_id, payload, mime)
    DataFrame."""
    return df.mapInPandas(_extract_features, schema=FEATURE_SCHEMA)


PHASH_SEGMENTS = 4

PHASH_SCHEMA = "doc_id bigint, frame_idx int, frame_hash string"


def _phash_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Perceptual-hash stand-in: each payload 'decodes' (codec-stubbed —
    see decode_image) into a token stream, split into PHASH_SEGMENTS
    contiguous segments whose md5s act as per-frame fingerprints. A real
    image/video pipeline produces the same row shape from pHash/dHash over
    decoded frames; everything downstream (banded self-join, verify) is
    codec-agnostic. Empty segments (fewer tokens than segments) emit no
    row: a universal empty-hash would put every short payload in one
    boilerplate bucket.

    Tokenization is RE2's ASCII \\s class ([ \\t\\n\\f\\r]) on raw bytes so
    the DuckDB oracle (string_split_regex, RE2) re-derives identical
    segments."""
    import hashlib
    import re

    ws = re.compile(rb"[ \t\n\f\r]+")
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            toks = [t for t in ws.split(bytes(payload)) if t]
            n = len(toks)
            for i in range(PHASH_SEGMENTS):
                seg = toks[n * i // PHASH_SEGMENTS : n * (i + 1) // PHASH_SEGMENTS]
                if seg:
                    rows.append(
                        (int(doc_id), i, hashlib.md5(b" ".join(seg)).hexdigest())
                    )
        yield pd.DataFrame(
            rows, columns=["doc_id", "frame_idx", "frame_hash"]
        ).astype({"doc_id": "int64", "frame_idx": "int32", "frame_hash": "object"})


def phash_frames(df: DataFrame) -> DataFrame:
    """Per-frame fingerprints over a (doc_id, payload) DataFrame — the
    index-build half of perceptual-hash near-dup detection."""
    return df.mapInPandas(_phash_frames, schema=PHASH_SCHEMA)
