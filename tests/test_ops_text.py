"""Tests of the text entries (operators/text.py): vocabulary transfer
against a pure-Python re-derivation, and its monotonicity in K.

The oracle gate (tools/check_oracle.py) certifies Spark == DuckDB. These
tests check both against a third computation over the same parquet (pure
Python, pandas or numpy, with no SQL engine in the loop where the entry
allows it), so a misunderstanding shared by the two SQL dialects cannot
pass, and they pin the edges the generated tables may not exercise.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from tests.conftest import SF_DIR, _docs, _toks

from data_ingestion_api_system_spark.operators.text import (
    _BPE_CHARS_PER_PIECE,
    VOCAB_TRANSFER_KS,
    q_text_vocab_transfer,
)


def _vocab_transfer_python():
    docs = [( _toks(t), lang) for _d, t, lang, _src, _n in _docs()]
    lw: Counter = Counter()
    for t, lang in docs:
        for w in t:
            lw[(lang, w.lower())] += 1
    wc: Counter = Counter()
    for (_lang, w), c in lw.items():
        wc[w] += c
    ranked = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    rank = {w: i + 1 for i, (w, _c) in enumerate(ranked[: max(VOCAB_TRANSFER_KS)])}
    out = {}
    for k in VOCAB_TRANSFER_KS:
        agg: defaultdict = defaultdict(lambda: [0, 0, 0, 0, 0])
        for (lang, w), cnt in lw.items():
            iv = 1 if rank.get(w, 10**9) <= k else 0
            pieces = (
                1
                if iv
                else (len(w) + _BPE_CHARS_PER_PIECE - 1) // _BPE_CHARS_PER_PIECE
            )
            a = agg[lang]
            a[0] += cnt
            a[1] += 1
            a[2] += (1 - iv) * cnt
            a[3] += 1 - iv
            a[4] += pieces * cnt
        for lang, (nt, ty, oovt, oovy, pieces) in agg.items():
            out[(k, lang)] = (
                nt,
                ty,
                oovt,
                oovy,
                oovt * 1_000_000 // nt,
                pieces * 1_000_000 // nt,
            )
    return out


def test_vocab_transfer_matches_pure_python(spark):
    got = {
        (r.k, r.lang): (
            r.n_tokens,
            r.n_types,
            r.n_oov_tokens,
            r.n_oov_types,
            r.oov_ppm,
            r.fertility_ppm,
        )
        for r in q_text_vocab_transfer(spark, SF_DIR).collect()
    }
    assert got == _vocab_transfer_python()


def test_vocab_transfer_monotone_in_k(spark):
    """A larger vocabulary can never increase OOV or fertility: for each
    lang, both ppm columns are non-increasing as K grows — the sanity
    property the ablation table is read by."""
    rows = q_text_vocab_transfer(spark, SF_DIR).collect()
    per_lang: defaultdict = defaultdict(dict)
    for r in rows:
        per_lang[r.lang][r.k] = (r.oov_ppm, r.fertility_ppm)
    ks = sorted(VOCAB_TRANSFER_KS)
    for lang, by_k in per_lang.items():
        assert set(by_k) == set(VOCAB_TRANSFER_KS), lang
        for a, b in zip(ks, ks[1:]):
            assert by_k[b][0] <= by_k[a][0], (lang, "oov")
            assert by_k[b][1] <= by_k[a][1], (lang, "fertility")
