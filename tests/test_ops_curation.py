"""Tests of the data-curation entries (operators/curation.py): exact-substring
and boilerplate passage removal, domain caps, quality calibration, the hashed
classifier, DoReMi and epoch allocation, k-anonymity, CCNet buckets and the
repetition filters.

The oracle gate (tools/check_oracle.py) certifies Spark == DuckDB. These
tests check both against a third computation over the same parquet (pure
Python, pandas or numpy, with no SQL engine in the loop where the entry
allows it), so a misunderstanding shared by the two SQL dialects cannot
pass, and they pin the edges the generated tables may not exercise.

Curation edges pinned here on synthetic corpora: exact passage-width
cutoffs and keep-first ownership across and within docs (while boilerplate
removal drops EVERY copy, the owner included); URL noise variants collapse
to one canonical form; the domain cap at exactly-cap and over-cap group
sizes; the calibration sweep under a single-class corpus and its monotone
precision/recall; a zero-token slice in the epoch allocator; the k-anonymity
histogram partitions the table and flags only sub-K classes; the CCNet
terciles partition every language's passages with floor-boundary sizes.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

import duckdb
import pytest

from tests.conftest import SF_DIR, _docs, _toks

from data_ingestion_api_system_spark.operators.curation import (
    BOILER_DF,
    DOMAIN_CAP,
    DOREMI_BUDGET,
    DOREMI_ETA,
    DOREMI_SMOOTH,
    EPOCH_BUDGET_MULT,
    K_ANON,
    N_BINS,
    N_BUCKETS,
    PASSAGE_W,
    REP_NS,
    q_dedup_exact_substr,
    q_dq_k_anonymity,
    q_prep_domain_caps,
    q_prep_doremi_step,
    q_prep_epoch_allocator,
    q_text_boilerplate_passages,
    q_text_ccnet_buckets,
    q_text_hashed_classifier,
    q_text_quality_calibration,
    q_text_repetition_filters,
)


def test_exact_substr_matches_pure_python(spark):
    got = {
        r.doc_id: (r.n_passages, r.n_removable, r.removable_chars, r.removable_ratio)
        for r in q_dedup_exact_substr(spark, SF_DIR).collect()
    }
    # python re-derivation: enumerate passages, keep-first by (doc_id, pos)
    inst: list[tuple[int, int, str, int]] = []  # (doc_id, pos, fp, chars)
    for doc_id, text, *_ in _docs():
        t = _toks(text)
        for i in range(len(t) // PASSAGE_W):
            p = " ".join(t[i * PASSAGE_W : (i + 1) * PASSAGE_W])
            inst.append(
                (doc_id, i, hashlib.md5(p.lower().encode()).hexdigest(), len(p))
            )
    owner: dict[str, int] = {}
    for doc_id, pos, fp, _ in inst:
        key = doc_id * (1 << 20) + pos
        owner[fp] = min(owner.get(fp, key), key)
    expected: dict[int, list[int]] = {}
    for doc_id, pos, fp, chars in inst:
        n, dup, dchars = expected.setdefault(doc_id, [0, 0, 0])
        is_dup = owner[fp] != doc_id * (1 << 20) + pos
        expected[doc_id] = [n + 1, dup + is_dup, dchars + chars * is_dup]
    assert set(got) == set(expected)
    n_docs_with_dups = 0
    for doc_id, (n, dup, dchars) in expected.items():
        gn, gdup, gchars, gratio = got[doc_id]
        assert (gn, gdup, gchars) == (n, dup, dchars), doc_id
        assert gratio == pytest.approx(round(dup / n, 6), abs=1e-9)
        n_docs_with_dups += dup > 0
    # vacuity pin: the synthetic corpus's small vocabulary repeats real
    # passages, so the dup flag fires on some-but-not-all docs
    assert 0 < n_docs_with_dups < len(expected)


def _canonical_url(doc_id: int, source: str, lang: str) -> str:
    sub = "www." if doc_id % 2 == 0 else ("m." if doc_id % 11 == 0 else "")
    host = (source.upper() if doc_id % 3 == 0 else source) + "-" + lang + ".COM"
    q = (
        f"?utm_source=feed&id={doc_id}"
        if doc_id % 3 == 0
        else (f"?id={doc_id}&utm_campaign=x" if doc_id % 5 == 0 else "")
    )
    frag = "#frag" if doc_id % 7 == 0 else ""
    url = f"HTTPS://{sub}{host}:443/page-{doc_id}{q}{frag}"
    # the same rule stack as the operator, in python's re
    m = re.match(r"^([^/]+//[^/]+)(.*)$", url)
    u = m.group(1).lower() + m.group(2)
    u = re.sub(r"^(https?://)www\.", r"\1", u)
    u = re.sub(r"^(https?://[^/:]+):(443|80)(/|$)", r"\1\3", u)
    u = re.sub(r"#.*$", "", u)
    u = re.sub(r"utm_[a-z]+=[^&#]*&?", "", u)
    u = re.sub(r"[?&]$", "", u)
    u = re.sub(r"\?&", "?", u)
    return u


def test_domain_caps_matches_pure_python(spark):
    got = {r.domain: r for r in q_prep_domain_caps(spark, SF_DIR).collect()}
    by_domain: dict[str, list[tuple[int, int]]] = {}
    for doc_id, _text, lang, source, n_chars in _docs():
        url = _canonical_url(doc_id, source, lang)
        host = re.match(r"^https?://([^/]+)", url).group(1)
        domain = re.search(r"([^.]+\.[^.]+)$", host).group(1)
        # canonical form is fully noise-free: lowercase, no www, no :443,
        # no utm params, no fragment
        assert "www." not in url and ":443" not in url
        assert "utm_" not in url and "#" not in url and "HTTPS" not in url
        by_domain.setdefault(domain, []).append((n_chars, doc_id))
    assert set(got) == set(by_domain)
    saw_drop = False
    for domain, rows in by_domain.items():
        rows.sort(key=lambda t: (-t[0], t[1]))
        kept = rows[:DOMAIN_CAP]
        r = got[domain]
        assert r.n_docs == len(rows)
        assert r.n_kept == len(kept)
        assert r.n_dropped == len(rows) - len(kept)
        assert r.kept_chars == sum(c for c, _ in kept)
        assert r.total_chars == sum(c for c, _ in rows)
        assert r.first_kept_doc == min(d for _, d in kept)
        saw_drop = saw_drop or r.n_dropped > 0
    assert saw_drop  # the cap must actually fire at the smallest SF


STOPWORDS = {"the", "a", "and", "of", "to", "in", "is", "it"}


def test_quality_calibration_matches_pure_python(spark):
    got = {r.threshold: r for r in q_text_quality_calibration(spark, SF_DIR).collect()}
    assert len(got) == N_BINS
    hist: dict[tuple[int, int], int] = {}
    for _doc_id, text, lang, *_ in _docs():
        t = _toks(text)
        n_tokens = len(t)
        n_nonspace = len(re.sub(r"\s+", "", text))
        n_stop = sum(tok.lower() in STOPWORDS for tok in t)
        length_ok = 300 if 20 <= n_tokens <= 1000 else 0
        tok_len_ok = 300 if 4.0 <= n_nonspace / n_tokens <= 12.0 else 0
        stop_part = min(int(n_stop / n_tokens * 4000), 400)
        milli = length_ok + tok_len_ok + stop_part
        b = min(milli * N_BINS // 1000, N_BINS - 1)
        label = 1 if lang == "en" else 0
        hist[(b, label)] = hist.get((b, label), 0) + 1
    n_pos = sum(n for (_, lab), n in hist.items() if lab == 1)
    prev_flagged = None
    for thr_bin in range(N_BINS):
        tp = sum(n for (b, lab), n in hist.items() if lab == 1 and b >= thr_bin)
        fp = sum(n for (b, lab), n in hist.items() if lab == 0 and b >= thr_bin)
        r = got[round(thr_bin / N_BINS, 6)]
        assert (r.tp, r.fp, r.fn, r.n_flagged) == (tp, fp, n_pos - tp, tp + fp)
        if tp + fp:
            assert r.precision == pytest.approx(tp / (tp + fp), abs=6e-7)
        assert r.recall == pytest.approx(tp / n_pos, abs=6e-7)
        assert r.f1 == pytest.approx(2 * tp / (tp + fp + n_pos), abs=6e-7)
        # sweep sanity: flagged count is non-increasing in the threshold
        if prev_flagged is not None:
            assert tp + fp <= prev_flagged
        prev_flagged = tp + fp
    # vacuity pin: the sweep must actually sweep — recall varies
    recalls = {r.recall for r in got.values()}
    assert len(recalls) > 1


def test_hashed_classifier_matches_pure_python(spark):
    got = {r.doc_id: r for r in q_text_hashed_classifier(spark, SF_DIR).collect()}
    from decimal import Decimal
    import math

    inst: list[tuple[int, int, int]] = []  # (doc_id, label, bucket)
    for doc_id, text, lang, *_ in _docs():
        label = 1 if lang == "en" else 0
        for tok in _toks(text):
            b = int(hashlib.md5(tok.lower().encode()).hexdigest()[:6], 16) % N_BUCKETS
            inst.append((doc_id, label, b))
    pos = [0] * N_BUCKETS
    neg = [0] * N_BUCKETS
    for _, label, b in inst:
        (pos if label else neg)[b] += 1
    pos_t, neg_t = sum(pos), sum(neg)
    w = [
        Decimal(
            f"{round(math.log((pos[b] + 1) * (neg_t + N_BUCKETS) / ((neg[b] + 1) * (pos_t + N_BUCKETS))), 6):.6f}"
        )
        for b in range(N_BUCKETS)
    ]
    per_doc: dict[int, list] = {}
    for doc_id, label, b in inst:
        n, s = per_doc.setdefault(doc_id, [0, Decimal(0)])
        per_doc[doc_id] = [n + 1, s + w[b]]
    assert set(got) == set(per_doc)
    n_correct = 0
    for doc_id, (n, s) in per_doc.items():
        a = int(abs(s) * 1_000_000)
        mean = (1 if s >= 0 else -1) * ((2 * a + n) // (2 * n)) / 1_000_000
        r = got[doc_id]
        assert r.n_tokens == n
        assert r.mean_log_odds == pytest.approx(mean, abs=1e-12), doc_id
        assert r.predicted == (1 if mean > 0 else 0)
        n_correct += r.correct
    # the classifier must actually separate: better than majority-class
    labels = [1 if lang == "en" else 0 for _, _, lang, *_ in _docs()]
    majority = max(sum(labels), len(labels) - sum(labels))
    assert n_correct > majority


def test_doremi_step_matches_pure_python(spark):
    rows = {r.source: r for r in q_prep_doremi_step(spark, SF_DIR).collect()}
    from decimal import Decimal
    import math

    csw: dict[tuple[str, str], int] = {}
    for _doc_id, text, _lang, source, _n in _docs():
        for tok in _toks(text):
            k = (source, tok.lower())
            csw[k] = csw.get(k, 0) + 1
    cw: dict[str, int] = {}
    ns: dict[str, int] = {}
    for (s, wd), c in csw.items():
        cw[wd] = cw.get(wd, 0) + c
        ns[s] = ns.get(s, 0) + c
    n_corpus = sum(csw.values())
    kl = {}
    for s in ns:
        total = Decimal(0)
        for (s2, wd), c in csw.items():
            if s2 != s:
                continue
            lr = round(math.log(c * n_corpus / (ns[s] * cw[wd])), 6)
            total += Decimal(f"{lr:.6f}") * c
        kl[s] = round(float(total) / ns[s], 6)
    e = {s: Decimal(f"{round(math.exp(DOREMI_ETA * kl[s]), 4):.4f}") for s in ns}
    esum = sum(e.values())
    n_dom = len(ns)
    assert set(rows) == set(ns)
    budget_total = 0
    for s in ns:
        alpha = float(e[s]) / float(esum)
        wf = round((1.0 - DOREMI_SMOOTH) * alpha + DOREMI_SMOOTH / n_dom, 6)
        r = rows[s]
        assert r.n_tokens == ns[s]
        assert r.weight_natural == pytest.approx(ns[s] / n_corpus, abs=6e-7)
        assert r.excess_loss == pytest.approx(kl[s], abs=1e-9)
        assert r.weight_updated == pytest.approx(wf, abs=2e-6)
        assert r.token_budget == math.floor(wf * DOREMI_BUDGET + 0.5)
        assert r.excess_loss >= 0  # KL is non-negative
        budget_total += r.token_budget
    # weights sum to ~1 so the budget allocates ~everything
    assert abs(budget_total - DOREMI_BUDGET) <= n_dom
    # the update must actually reweight: not all weights equal uniform
    assert len({r.weight_updated for r in rows.values()}) > 1


def _sf_dir(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def _words(n, offset=0):
    return " ".join(f"w{i + offset}" for i in range(n))


def test_exact_substr_width_cutoff_and_ownership(spark, tmp_path):
    """Docs under the passage width vanish from the report; an exact-width
    doc yields one owned (non-removable) passage; a doc duplicated at a
    higher doc_id is 100% removable while the first owner keeps all of it;
    a within-doc repeat is removable at its second position."""
    dup_text = _words(PASSAGE_W * 2)
    rows = [
        (1, _words(PASSAGE_W - 1), "en", "s", 0),  # below width: excluded
        (2, _words(PASSAGE_W, offset=100), "en", "s", 0),  # exactly one passage
        (5, dup_text, "en", "s", 0),  # first owner
        (9, dup_text, "en", "s", 0),  # exact duplicate, higher id
        # same W-token passage twice inside ONE doc: pos 0 owns, pos 1 dup
        (11, _words(PASSAGE_W, offset=500) + " " + _words(PASSAGE_W, offset=500),
         "en", "s", 0),
    ]
    sf = _sf_dir(spark, tmp_path, rows)
    got = {r.doc_id: r for r in q_dedup_exact_substr(spark, sf).collect()}
    assert 1 not in got  # below-width doc contributes no passages
    assert (got[2].n_passages, got[2].n_removable) == (1, 0)
    assert (got[5].n_passages, got[5].n_removable) == (2, 0)
    assert (got[9].n_passages, got[9].n_removable) == (2, 2)
    assert got[9].removable_ratio == pytest.approx(1.0)
    assert got[9].removable_chars == len(dup_text) - 1  # join drops 1 space
    assert (got[11].n_passages, got[11].n_removable) == (2, 1)


def test_domain_caps_exact_and_over_cap(spark, tmp_path):
    """A domain with exactly DOMAIN_CAP docs drops nothing; one over-cap
    domain keeps the CAP longest docs (doc_id tiebreak) and reports the
    dropped mass; all noise variants collapse into the same domain."""
    rows = []
    # domain a-en.com: exactly at cap (ids chosen to hit www/m./utm arms)
    for i in range(DOMAIN_CAP):
        rows.append((i, "t", "en", "a", 100 + i))
    # domain b-en.com: cap + 3, two docs tie on n_chars (tiebreak: doc_id)
    for j in range(DOMAIN_CAP + 3):
        rows.append((100 + j, "t", "en", "b", 200 if j < 2 else 300 - j))
    sf = _sf_dir(spark, tmp_path, rows)
    got = {r.domain: r for r in q_prep_domain_caps(spark, sf).collect()}
    assert set(got) == {"a-en.com", "b-en.com"}
    a = got["a-en.com"]
    assert (a.n_docs, a.n_kept, a.n_dropped) == (DOMAIN_CAP, DOMAIN_CAP, 0)
    b = got["b-en.com"]
    assert (b.n_docs, b.n_kept, b.n_dropped) == (DOMAIN_CAP + 3, DOMAIN_CAP, 3)
    # expected keep-set: sort by n_chars DESC, doc_id ASC, take cap
    sized = sorted(
        ((200 if j < 2 else 300 - j, 100 + j) for j in range(DOMAIN_CAP + 3)),
        key=lambda t: (-t[0], t[1]),
    )[:DOMAIN_CAP]
    assert b.kept_chars == sum(c for c, _ in sized)
    assert b.first_kept_doc == min(d for _, d in sized)


def test_calibration_single_class_corpus(spark, tmp_path):
    """All-English corpus: fp = 0 at every threshold, recall degrades as
    the threshold rises past the docs' scores, precision is 1.0 wherever
    anything is flagged and NULL (not a crash, not 0) where nothing is."""
    # 30 tokens, avg token length 3 (< 4.0 band), zero stopwords →
    # score_milli = 300 (length_ok only) → bin 6, so thresholds above
    # 0.3 flag nothing
    text = " ".join(f"x{i % 9}0" for i in range(30))
    rows = [(i, text, "en", "s", 0) for i in range(6)]
    sf = _sf_dir(spark, tmp_path, rows)
    out = q_text_quality_calibration(spark, sf).collect()
    assert all(r.fp == 0 for r in out)
    assert all(r.tp + r.fn == 6 for r in out)
    for r in out:
        if r.n_flagged > 0:
            assert r.precision == pytest.approx(1.0)
        else:
            assert r.precision is None
    recalls = [r.recall for r in sorted(out, key=lambda r: r.threshold)]
    assert recalls[0] == pytest.approx(1.0)
    assert recalls[-1] == pytest.approx(0.0)  # no doc scores in the top bin
    assert all(a >= b for a, b in zip(recalls, recalls[1:]))  # monotone


def test_epoch_allocator_zero_token_slice(spark, tmp_path):
    """A slice whose docs all tokenize to zero tokens must yield NULL
    epoch columns (DuckDB x/0 semantics), not Spark ANSI's
    DIVIDE_BY_ZERO — and must not disturb the arithmetic of the other
    slices."""
    from data_ingestion_api_system_spark.operators.curation import (
        EPOCH_BUDGET_MULT,
        q_prep_epoch_allocator,
    )

    rows = [
        (1, _words(10), "en", "s0", 0),
        (2, _words(30), "en", "s0", 0),
        (3, "", "xx", "s1", 0),  # zero-token slice (empty text)
        (4, "   ", "xx", "s1", 0),  # whitespace-only also tokenizes to []
    ]
    sf = _sf_dir(spark, tmp_path, rows)
    got = {(r.lang, r.source): r for r in q_prep_epoch_allocator(spark, sf).collect()}
    assert set(got) == {("en", "s0"), ("xx", "s1")}
    dead = got[("xx", "s1")]
    assert (dead.n_docs, dead.n_tokens) == (2, 0)
    assert dead.full_epochs is None
    assert dead.epochs is None
    assert dead.effective_tokens is None
    assert dead.utilization is None
    live = got[("en", "s0")]
    # t_corpus = 40, n_slices = 2 -> alloc = MULT*40 // 2 per slice
    alloc = (EPOCH_BUDGET_MULT * 40) // 2
    assert (live.n_tokens, live.alloc_tokens, live.full_epochs) == (
        40,
        alloc,
        alloc // 40,
    )


def _passage_instances():
    """(doc_id, fp, chars) for every full non-overlapping passage."""
    inst: list[tuple[int, str, int]] = []
    for doc_id, text, *_ in _docs():
        t = _toks(text)
        for i in range(len(t) // PASSAGE_W):
            p = " ".join(t[i * PASSAGE_W : (i + 1) * PASSAGE_W])
            inst.append((doc_id, hashlib.md5(p.lower().encode()).hexdigest(), len(p)))
    return inst


def test_boilerplate_passages_matches_pure_python(spark):
    got = {
        r.doc_id: (r.n_passages, r.n_boiler, r.boiler_chars, r.boiler_share)
        for r in q_text_boilerplate_passages(spark, SF_DIR).collect()
    }
    inst = _passage_instances()
    docs_per_fp: dict[str, set[int]] = defaultdict(set)
    for doc_id, fp, _ in inst:
        docs_per_fp[fp].add(doc_id)
    expected: dict[int, list[int]] = {}
    for doc_id, fp, chars in inst:
        n, nb, bc = expected.setdefault(doc_id, [0, 0, 0])
        is_boiler = len(docs_per_fp[fp]) >= BOILER_DF
        expected[doc_id] = [n + 1, nb + is_boiler, bc + chars * is_boiler]
    assert set(got) == set(expected)
    n_docs_with_boiler = 0
    for doc_id, (n, nb, bc) in expected.items():
        gn, gnb, gbc, gshare = got[doc_id]
        assert (gn, gnb, gbc) == (n, nb, bc), doc_id
        assert gshare == pytest.approx(round(nb / n, 6), abs=1e-9)
        n_docs_with_boiler += nb > 0
    # vacuity pin: the flag fires on some-but-not-all docs at this SF
    assert 0 < n_docs_with_boiler < len(expected)


def test_boilerplate_drops_every_copy_not_keep_first():
    """The semantic line between this entry and ``dedup_exact_substr``:
    frequency-threshold removal counts the fp's FIRST owner too, so the
    corpus-wide boiler-instance total strictly exceeds what keep-first
    ownership would remove from the same fps."""
    inst = _passage_instances()
    docs_per_fp: dict[str, set[int]] = defaultdict(set)
    n_inst_per_fp: dict[str, int] = defaultdict(int)
    for doc_id, fp, _ in inst:
        docs_per_fp[fp].add(doc_id)
        n_inst_per_fp[fp] += 1
    boiler_fps = {fp for fp, d in docs_per_fp.items() if len(d) >= BOILER_DF}
    assert boiler_fps, "threshold must fire at sf0.001 (probed: 9 passages)"
    total_boiler = sum(n_inst_per_fp[fp] for fp in boiler_fps)
    keep_first_removable = sum(n_inst_per_fp[fp] - 1 for fp in boiler_fps)
    assert total_boiler == keep_first_removable + len(boiler_fps)
    assert total_boiler > keep_first_removable


def test_k_anonymity_matches_pure_python(spark):
    got = {
        r.class_size: (r.n_classes, r.n_rows, r.row_share, r.at_risk)
        for r in q_dq_k_anonymity(spark, SF_DIR).collect()
    }
    rows = duckdb.sql(
        f"SELECT c_nationkey, c_mktsegment, c_acctbal "
        f"FROM read_parquet('{SF_DIR}/customer.parquet')"
    ).fetchall()
    classes: dict[tuple, int] = defaultdict(int)
    for nat, seg, bal in rows:
        classes[(nat, seg, math.floor(bal / 1000))] += 1
    hist: dict[int, list[int]] = {}
    for size in classes.values():
        n, r = hist.setdefault(size, [0, 0])
        hist[size] = [n + 1, r + size]
    assert set(got) == set(hist)
    for size, (n_classes, n_rows) in hist.items():
        gn, gr, gshare, grisk = got[size]
        assert (gn, gr) == (n_classes, n_rows), size
        assert gshare == pytest.approx(round(n_rows / len(rows), 6), abs=1e-9)
        assert grisk == (size < K_ANON)
    # partition pin: the histogram covers the table exactly — every row is
    # in exactly one equivalence class
    assert sum(r for _, r in hist.values()) == len(rows)


def test_epoch_allocator_matches_pure_python(spark):
    got = {
        (r.lang, r.source): r for r in q_prep_epoch_allocator(spark, SF_DIR).collect()
    }
    slices: dict[tuple, list[int]] = {}
    for _doc_id, text, lang, source, _n in _docs():
        n, t = slices.setdefault((lang, source), [0, 0])
        slices[(lang, source)] = [n + 1, t + len(_toks(text))]
    t_corpus = sum(t for _, t in slices.values())
    n_slices = len(slices)
    alloc = (EPOCH_BUDGET_MULT * t_corpus) // n_slices
    assert set(got) == set(slices)
    n_repeating = 0
    for key, (n_docs, u) in slices.items():
        r = got[key]
        e = alloc // u
        frac = (alloc - e * u) / u
        decay = 0.5**e
        effective = 2 * u * (1 - decay) + frac * u * decay
        assert (r.n_docs, r.n_tokens, r.alloc_tokens, r.full_epochs) == (
            n_docs,
            u,
            alloc,
            e,
        ), key
        assert r.epochs == pytest.approx(round(alloc / u, 6), abs=1e-9)
        assert r.effective_tokens == pytest.approx(round(effective, 6), abs=1e-6)
        assert r.utilization == pytest.approx(round(effective / alloc, 6), abs=1e-9)
        n_repeating += e >= 1
    # the data-constrained regime must actually bite: some slices repeat,
    # and (unless every slice is identical) some stay under one epoch
    assert n_repeating > 0
    assert any(e >= 1 for e in (alloc // t for _, t in slices.values()))


def _ccnet_python():
    docs = [(d, _toks(t), lang) for d, t, lang, *_ in _docs()]
    c2: Counter = Counter()
    for _, t, _lang in docs:
        lt = [w.lower() for w in t]
        for a, b in zip(lt, lt[1:]):
            c2[(a, b)] += 1
    c1: Counter = Counter()
    for (a, _b), c in c2.items():
        c1[a] += c
    scored = []  # (lang, score, doc_id, pos)
    for doc_id, t, lang in docs:
        lt = [w.lower() for w in t]
        for p in range(len(lt) // PASSAGE_W):
            seg = lt[p * PASSAGE_W : (p + 1) * PASSAGE_W]
            ppms = [
                (1_000_000 * c2[(a, b)]) // c1[a] for a, b in zip(seg, seg[1:])
            ]
            scored.append((lang, sum(ppms) // len(ppms), doc_id, p))
    out: dict = {}
    by_lang: defaultdict = defaultdict(list)
    for lang, s, d, p in scored:
        by_lang[lang].append((s, d, p))
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: (-r[0], r[1], r[2]))
        n = len(rows)
        for rk0, (s, d, p) in enumerate(rows):
            rk = rk0 + 1
            bucket = (
                "head" if rk * 3 <= n else ("middle" if rk * 3 <= 2 * n else "tail")
            )
            key = (lang, bucket)
            acc = out.setdefault(key, [0, set(), 0, None, None])
            acc[0] += 1
            acc[1].add(d)
            acc[2] += s
            acc[3] = s if acc[3] is None else min(acc[3], s)
            acc[4] = s if acc[4] is None else max(acc[4], s)
    return {
        k: (v[0], len(v[1]), v[2] // v[0], v[3], v[4]) for k, v in out.items()
    }


def test_ccnet_buckets_match_pure_python(spark):
    got = {
        (r.lang, r.bucket): (
            r.n_passages,
            r.n_docs,
            r.mean_score_ppm,
            r.min_score_ppm,
            r.max_score_ppm,
        )
        for r in q_text_ccnet_buckets(spark, SF_DIR).collect()
    }
    assert got == _ccnet_python()


def test_ccnet_tercile_sizes_are_floor_boundaries(spark):
    """Per language: head = floor(n/3), head+middle = floor(2n/3) — the
    integer-boundary contract the rk*3 <= n comparison encodes."""
    rows = q_text_ccnet_buckets(spark, SF_DIR).collect()
    per_lang: defaultdict = defaultdict(dict)
    for r in rows:
        per_lang[r.lang][r.bucket] = r.n_passages
    assert per_lang  # corpus always yields passages
    for lang, b in per_lang.items():
        n = sum(b.values())
        assert b.get("head", 0) == n // 3, lang
        assert b.get("head", 0) + b.get("middle", 0) == (2 * n) // 3, lang
        # head scores >= tail scores: min of head's bucket >= max of tail's
    by_key = {(r.lang, r.bucket): r for r in rows}
    for (lang, bucket), r in by_key.items():
        if bucket == "head" and (lang, "tail") in by_key:
            assert r.min_score_ppm >= by_key[(lang, "tail")].max_score_ppm


def _repetition_python():
    out = {}
    for doc_id, text, lang, *_ in _docs():
        lt = [w.lower() for w in _toks(text)]
        if len(lt) < 2:
            continue
        row = [len(text)]
        for n in REP_NS:
            grams = [" ".join(lt[i : i + n]) for i in range(len(lt) - n + 1)]
            if not grams:
                row += [0, 0, 0]
                continue
            counts = Counter(grams)
            top_cnt = max(counts.values())
            top_g = min(g for g, c in counts.items() if c == top_cnt)
            row += [
                (len(grams) - len(counts)) * 1_000_000 // len(grams),
                top_cnt,
                top_cnt * len(top_g) * 1_000_000 // len(text),
            ]
        out[(doc_id, lang)] = tuple(row)
    return out


def test_repetition_filters_match_pure_python(spark):
    got = {
        (r.doc_id, r.lang): (
            r.txt_chars,
            r.dup2_ppm,
            r.top2_cnt,
            r.top2_char_ppm,
            r.dup3_ppm,
            r.top3_cnt,
            r.top3_char_ppm,
        )
        for r in q_text_repetition_filters(spark, SF_DIR).collect()
    }
    assert got == _repetition_python()


def test_repetition_filters_flag_synthetic_loop(spark):
    """The behavioral edge the filter exists for: a document that is one
    phrase looped has dup2_ppm near 1e6 and its top 2-gram covering most
    chars — strictly above every organic doc's. Built via lsh_front-style
    direct invocation on a synthetic frame."""
    from data_ingestion_api_system_spark.operators import tune

    tune(spark)
    looped = ("spam ham " * 50).strip()
    organic = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, looped, "en"), (2, organic, "en")], "doc_id long, text string, lang string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        # the query reads documents.parquet from an sf dir — synthesize one
        df.write.parquet(f"{tmp}/documents.parquet")
        rows = {r.doc_id: r for r in q_text_repetition_filters(spark, tmp).collect()}
    assert rows[1].dup2_ppm > 900_000 > rows[2].dup2_ppm
    assert rows[1].top2_char_ppm > rows[2].top2_char_ppm
