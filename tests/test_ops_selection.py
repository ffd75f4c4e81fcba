"""Tests of the data-selection entries (operators/selection.py): the
contamination matrix against a pure-Python n-gram scan.

The oracle gate (tools/check_oracle.py) certifies Spark == DuckDB. These
tests check both against a third computation over the same parquet (pure
Python, pandas or numpy, with no SQL engine in the loop where the entry
allows it), so a misunderstanding shared by the two SQL dialects cannot
pass, and they pin the edges the generated tables may not exercise.

The contamination matrix is dense: a zero cell is the result the audit
exists to show, so every (benchmark language, source) pair has a row, with
explicit zeros where nothing overlaps.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from tests.conftest import SF_DIR, _docs, _toks

from data_ingestion_api_system_spark.operators.selection import (
    DECON_NGRAM,
    DECON_PROBE_MOD,
    q_prep_contamination_matrix,
)


def _grams(t: list[str]) -> set:
    return {
        " ".join(t[i : i + DECON_NGRAM])
        for i in range(len(t) - DECON_NGRAM + 1)
    }


def _contam_python():
    docs = [(d, _grams(_toks(t)), lang, src) for d, t, lang, src, _n in _docs()]
    bench: defaultdict = defaultdict(set)
    for d, gs, lang, _src in docs:
        if d % DECON_PROBE_MOD == 0:
            bench[lang] |= gs
    corpus = [(d, gs, src) for d, gs, _lang, src in docs if d % DECON_PROBE_MOD]
    src_docs: Counter = Counter(src for _, _, src in corpus)
    out = {}
    for bl, bgs in bench.items():
        for src in src_docs:
            hit_grams: set = set()
            contaminated: set = set()
            instances = 0
            for d, gs, s in corpus:
                if s != src:
                    continue
                inter = gs & bgs
                if inter:
                    hit_grams |= inter
                    contaminated.add(d)
                    instances += len(inter)
            out[(bl, src)] = (
                len(bgs),
                src_docs[src],
                len(hit_grams),
                len(contaminated),
                instances,
                len(hit_grams) * 1_000_000 // len(bgs),
                len(contaminated) * 1_000_000 // src_docs[src],
            )
    return out


def test_contamination_matrix_matches_pure_python(spark):
    got = {
        (r.bench_lang, r.source): (
            r.bench_grams,
            r.n_docs_source,
            r.hit_grams,
            r.contaminated_docs,
            r.overlap_instances,
            r.gram_hit_ppm,
            r.doc_contam_ppm,
        )
        for r in q_prep_contamination_matrix(spark, SF_DIR).collect()
    }
    assert got == _contam_python()


def test_contamination_matrix_is_dense(spark):
    """Every (benchmark, source) pair has a row — zero-overlap cells emit
    explicit zeros instead of vanishing from the report."""
    rows = q_prep_contamination_matrix(spark, SF_DIR).collect()
    langs = {r.bench_lang for r in rows}
    sources = {r.source for r in rows}
    assert len(rows) == len(langs) * len(sources)
    for r in rows:
        if r.hit_grams == 0:
            assert r.contaminated_docs == 0 == r.overlap_instances
            assert r.gram_hit_ppm == 0 == r.doc_contam_ppm
