"""Length-banded LSH vs the boilerplate hot-bucket adversary.

SCALE.md names the one 100 TB risk of banded MinHash-LSH: a corpus where a
shared boilerplate block dominates every document's minhash signature, so
every doc lands in the same band bucket and the candidate join degenerates
to all-pairs. The fix (dedup.LEN_BAND_BASE) folds floor(log4 n_shingles)
into the band key with a two-offset emission.

The adversary here is DETERMINISTIC, not statistical: filler text is mined
character by character so that every non-boilerplate 4-gram's eight salted
md5 hashes all exceed the boilerplate's minima (the same lexicographic
16-hex-char comparison Spark's min() performs). Every document therefore
provably carries the boilerplate's exact minhash signature — the un-banded
band key collides ALL docs into one bucket — while distinct-shingle counts
span five base-4 length bands. Asserts

1. the structural bucket bound: a banded bucket only ever holds docs whose
   emitted length band matches, i.e. docs from two adjacent true bands —
   here <=18 of 36 docs, vs the un-banded key's full 36; and
2. losslessness: the verified pair set is identical with and without the
   length suffix (machine-checking the proof that J >= 0.35 > 1/4 implies
   adjacent bands).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from data_ingestion_api_system_spark.operators.dedup import (
    N_BANDS,
    ROWS_PER_BAND,
    SHINGLE_LEN,
    _verify_pairs,
    lsh_candidates,
    lsh_front,
)

N_HASHES = N_BANDS * ROWS_PER_BAND

BOILERPLATE = (
    "terms of service apply to all content herein reproduced with permission "
    "all rights reserved contact webmaster for takedown requests copyright "
)

_ALPHA = "abcdefghijklmnopqrstuvwxyz0123456789"


def _h(i: int, s: str) -> str:
    """The engine's i-th minhash primitive: 16-hex-char prefix of the
    salted md5 (dedup._sql_minhash / lsh_band_table use the same)."""
    return hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:16]


def _shingles(text: str) -> set[str]:
    return {text[i : i + SHINGLE_LEN] for i in range(len(text) - SHINGLE_LEN + 1)}


_BOILER_MINS = [
    min(_h(i, s) for s in _shingles(BOILERPLATE)) for i in range(N_HASHES)
]


def _mine_doc(seed: str, filler_chars: int) -> str:
    """BOILERPLATE + filler_chars mined characters: each appended char's
    new trailing 4-gram hashes ABOVE the boilerplate minima under all eight
    salted hashes, so the document's minhash signature is exactly the
    boilerplate's. The per-position candidate order is md5-derived, hence
    APERIODIC — a linear-congruential order here was near-periodic mod 36,
    so distinct 4-grams saturated at ~170 for every tier and all docs fell
    into one length band, voiding the adversary."""
    text = list(BOILERPLATE)
    for k in range(filler_chars):
        order = sorted(
            _ALPHA,
            key=lambda ch: hashlib.md5(f"{seed}:{k}:{ch}".encode()).digest(),
        )
        for c in order:
            gram = "".join(text[-(SHINGLE_LEN - 1) :]) + c
            if all(_h(i, gram) > _BOILER_MINS[i] for i in range(N_HASHES)):
                text.append(c)
                break
        else:  # pragma: no cover - 36-char alphabet always yields a winner
            raise AssertionError("mining dead-end")
    return "".join(text)


def _adversarial_docs(spark):
    """6 filler tiers x 6 docs, filler growing 4x per tier (16..16384
    chars): identical minhash signatures across all 36 docs, distinct-
    shingle counts spanning five base-4 length bands."""
    rows = []
    doc_id = 0
    for tier in range(6):
        for j in range(6):
            rows.append((doc_id, _mine_doc(f"t{tier}d{j}", 4 ** (tier + 2))))
            doc_id += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bucket_bounded_to_adjacent_length_bands(spark):
    docs = _adversarial_docs(spark)
    sh, banded, _cand = lsh_front(docs)
    try:
        # un-banded key (length suffix stripped): the mined signatures make
        # ALL 36 docs collide — the hot bucket the length band exists to split
        worst_unbanded = (
            banded.withColumn("base_key", F.substring_index("band_key", "#", 1))
            .select("doc_id", "band_idx", "base_key")
            .distinct()
            .groupBy("band_idx", "base_key")
            .count()
            .agg(F.max("count").alias("m"))
            .collect()[0]["m"]
        )
        assert worst_unbanded == 36, (
            f"mined adversary must collide all docs, got {worst_unbanded}"
        )

        # premise guard: the 6 tiers must actually span ~5 base-4 bands
        # (mined counts: 147/195/387/~1155/~4220/~16430 → bands 3,3,4,5,6,7);
        # a periodic filler regression would collapse them into one band and
        # make the bucket bound below vacuous-false
        spanned = (
            banded.withColumn(
                "lb", F.substring_index("band_key", "#", -1).cast("int")
            )
            .groupBy("doc_id")
            .agg(F.min("lb").alias("lb"))
            .select("lb")
            .distinct()
            .count()
        )
        assert spanned == 5, f"adversary spans {spanned} length bands, want 5"

        # with the length suffix a bucket holds docs of two adjacent true
        # bands; tiers 0-1 share a band here, so the cap is 3 tiers = 18
        worst = (
            banded.groupBy("band_idx", "band_key")
            .count()
            .agg(F.max("count").alias("m"))
            .collect()[0]["m"]
        )
        assert worst <= 18, f"bucket of {worst} docs exceeds two length bands"
    finally:
        sh.unpersist()
        banded.unpersist()


def test_length_band_is_lossless_for_verified_pairs(spark):
    docs = _adversarial_docs(spark)
    sh, banded, cand = lsh_front(docs)
    try:
        with_band = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in _verify_pairs(sh, cand).collect()
        }
        unbanded = banded.withColumn(
            "band_key", F.substring_index("band_key", "#", 1)
        )
        without_band = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in _verify_pairs(sh, lsh_candidates(unbanded)).collect()
        }
        assert with_band == without_band
    finally:
        sh.unpersist()
        banded.unpersist()
