"""Round-9b operator tests: each new registry entry re-derived from the raw
parquet with pure Python/pandas (a third implementation, independent of both
the Spark plan and the DuckDB oracle), continuing the round-8 cohort policy.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter, defaultdict

import pandas as pd

from tests.conftest import SF_DIR


def _toks(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text) if t]


def _rows(df):
    return {tuple(r) for r in df.collect()}


# ---------------------------------------------------------------------------
# text_filter_funnel


def test_filter_funnel_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.text import (
        FUNNEL_MAX_TOKENS,
        FUNNEL_MIN_TOKENS,
        FUNNEL_STAGES,
        FUNNEL_WORD_LEN_HI,
        FUNNEL_WORD_LEN_LO,
        STOPWORDS,
        q_text_filter_funnel,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    counts: Counter = Counter()
    for _, row in docs.iterrows():
        toks = _toks(row.text)
        n = len(toks)
        nonspace = len(re.sub(r"\s+", "", row.text))
        symbols = row.text.count("#") + row.text.count("…")
        top = max(Counter(toks).values()) if toks else 0
        low = {t.lower() for t in toks}
        nstop = sum(1 for s in STOPWORDS if s in low)
        if n < FUNNEL_MIN_TOKENS:
            st = FUNNEL_STAGES[0]
        elif n > FUNNEL_MAX_TOKENS:
            st = FUNNEL_STAGES[1]
        elif nonspace < FUNNEL_WORD_LEN_LO * n or nonspace > FUNNEL_WORD_LEN_HI * n:
            st = FUNNEL_STAGES[2]
        elif 10 * symbols > n:
            st = FUNNEL_STAGES[3]
        elif 5 * top > n:
            st = FUNNEL_STAGES[4]
        elif nstop < 2:
            st = FUNNEL_STAGES[5]
        else:
            st = FUNNEL_STAGES[6]
        counts[(st, row.lang)] += 1
    total = len(docs)
    expected = {
        (st, lang, n, n * 1_000_000 // total) for (st, lang), n in counts.items()
    }
    assert _rows(q_text_filter_funnel(spark, SF_DIR)) == expected
    # the funnel must be non-degenerate on real data: survivors AND kills
    stages = {s for s, _, _, _ in expected}
    assert FUNNEL_STAGES[6] in stages and len(stages) >= 2


# ---------------------------------------------------------------------------
# text_bpe_merge_step


def test_bpe_merge_step_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.text import (
        BPE_MERGE_TOP_K,
        q_text_bpe_merge_step,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    vocab: Counter = Counter()
    for text in docs.text:
        vocab.update(_toks(text))
    pair_count: Counter = Counter()
    pair_words: defaultdict = defaultdict(set)
    for word, wc in vocab.items():
        for i in range(len(word) - 1):
            p = word[i : i + 2]
            pair_count[p] += wc
            pair_words[p].add(word)
    ranked = sorted(pair_count.items(), key=lambda kv: (-kv[1], kv[0]))
    expected = {
        (p, c, len(pair_words[p])) for p, c in ranked[:BPE_MERGE_TOP_K]
    }
    assert _rows(q_text_bpe_merge_step(spark, SF_DIR)) == expected


# ---------------------------------------------------------------------------
# dedup_incremental_bloom


def test_incremental_bloom_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.dedup import (
        INCR_BATCH_MOD,
        q_dedup_incremental_bloom,
    )
    from data_ingestion_api_system_spark.operators.relational2 import BLOOM_K

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")

    def fp(text):
        norm = re.sub(r"\s+", " ", text).strip().lower()
        return hashlib.md5(norm.encode()).hexdigest()

    docs = docs.assign(fp=docs.text.map(fp), batch=docs.doc_id % INCR_BATCH_MOD == 0)
    hist = set(docs[~docs.batch].fp)

    def positions(key):
        return [
            int(hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:4], 16)
            for i in range(BLOOM_K)
        ]

    bits = {p for f in hist for p in positions(f)}
    agg: defaultdict = defaultdict(lambda: [0, 0, 0, 0])
    for _, row in docs[docs.batch].iterrows():
        pos = all(p in bits for p in positions(row.fp))
        dup = row.fp in hist
        a = agg[row.source]
        a[0] += 1
        a[1] += int(pos)
        a[2] += int(dup)
        a[3] += int(pos and not dup)
    expected = {
        (src, n, npos, ndup, nfp, n - ndup)
        for src, (n, npos, ndup, nfp) in agg.items()
    }
    assert _rows(q_dedup_incremental_bloom(spark, SF_DIR)) == expected
    # bloom guarantee: every true duplicate is bloom-positive
    for _, n, npos, ndup, nfp, _ in expected:
        assert npos == ndup + nfp and npos >= ndup


# ---------------------------------------------------------------------------
# sketch_theta_intersection


def test_theta_intersection_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.layout import (
        JS_A,
        JS_B,
        JS_P,
        KMV_K,
        q_sketch_theta_intersection,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")

    def h(u):
        return ((u % JS_P + JS_P) % JS_P * JS_A[2] + JS_B[2]) % JS_P

    users: defaultdict = defaultdict(set)
    for _, row in ev.iterrows():
        users[row.event_type].add(int(row.user_id))
    sk, theta = {}, {}
    for t, us in users.items():
        hs = sorted({h(u) for u in us})
        sk[t] = set(hs[:KMV_K])
        theta[t] = hs[KMV_K - 1] if len(hs) >= KMV_K else JS_P
    expected = set()
    for ta in users:
        for tb in users:
            if ta >= tb:
                continue
            th = min(theta[ta], theta[tb])
            common = sum(1 for x in sk[ta] & sk[tb] if x < th)
            est = common * JS_P // th
            exact = len(users[ta] & users[tb])
            err = 0 if exact == 0 else abs(est - exact) * 1_000_000 // exact
            expected.add((ta, tb, common, est, exact, err))
    assert _rows(q_sketch_theta_intersection(spark, SF_DIR)) == expected


# ---------------------------------------------------------------------------
# dq_referential_orphans


def test_referential_orphans_matches_pandas(spark):
    from data_ingestion_api_system_spark.operators.insights import (
        _FK_EDGES,
        q_dq_referential_orphans,
    )

    tables = {
        t: pd.read_parquet(f"{SF_DIR}/{t}.parquet")
        for t in "lineitem orders part supplier customer nation region".split()
    }
    expected = set()
    for name, child, fk, parent, pk in _FK_EDGES:
        c = tables[child]
        parents = set(tables[parent][pk])
        orphan_mask = ~c[fk].isin(parents)
        expected.add(
            (
                name,
                len(c),
                int(orphan_mask.sum()),
                # dropna=False: both engines count a NULL FK group as one
                # orphan key (ADVICE r9) — the pandas twin must too
                int(c.loc[orphan_mask, fk].nunique(dropna=False)),
            )
        )
    assert _rows(q_dq_referential_orphans(spark, SF_DIR)) == expected


def test_referential_orphans_detects_injected_orphan(spark, tmp_path):
    """Negative control: breaking one FK must surface in exactly that row
    (the generated star schema is expected to be clean, so the zero rows
    above would otherwise be a vacuous check)."""
    import shutil

    from data_ingestion_api_system_spark.operators.insights import (
        q_dq_referential_orphans,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in (
        "lineitem orders part supplier customer nation region "
        "events documents embeddings"
    ).split():
        shutil.copy(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
    nation = pd.read_parquet(sf / "nation.parquet")
    nation.loc[nation.index[:2], "n_regionkey"] = 99  # no such region
    nation.to_parquet(sf / "nation.parquet", index=False)
    out = {r.fk_name: r for r in q_dq_referential_orphans(spark, str(sf)).collect()}
    broken = out["nation.n_regionkey->region"]
    assert broken.orphan_rows == 2 and broken.orphan_keys == 1
    assert out["lineitem.l_orderkey->orders"].orphan_rows == 0


# ---------------------------------------------------------------------------
# events_survival_hazard


def test_survival_hazard_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.events import (
        SURVIVAL_CENSOR_HOURS,
        q_events_survival_hazard,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    days = ev.assign(day=ev.ts.dt.date).groupby("user_id").day
    first, last = days.min(), days.max()
    last_ts = ev.groupby("user_id").ts.max()
    max_ts = last_ts.max()
    weeks: defaultdict = defaultdict(lambda: [0, 0])
    for u in first.index:
        tw = (last[u] - first[u]).days // 7
        churned = (max_ts - last_ts[u]) > pd.Timedelta(
            hours=SURVIVAL_CENSOR_HOURS
        )
        weeks[tw][0] += 1
        weeks[tw][1] += int(churned)
    # vacuity pin (round 12): the hour censor must leave BOTH states live
    # on the generated data — churned users exist AND censored users exist
    n_churned_total = sum(c for _, c in weeks.values())
    n_users_total = sum(n for n, _ in weeks.values())
    assert 0 < n_churned_total < n_users_total
    expected = set()
    cum = 0
    at_risk_total = sum(n for n, _ in weeks.values())
    seen = 0
    for tw in sorted(weeks):
        n_users, n_churn = weeks[tw]
        at_risk = at_risk_total - seen
        seen += n_users
        hz = n_churn * 1_000_000 // at_risk
        cum += hz
        expected.add((tw, at_risk, n_churn, hz, cum))
    assert _rows(q_events_survival_hazard(spark, SF_DIR)) == expected


# ---------------------------------------------------------------------------
# graph_kcore_peel


def _strong_edges_pandas():
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")[["l_orderkey", "l_partkey"]]
    pt = pd.read_parquet(f"{SF_DIR}/part.parquet")[["p_partkey", "p_brand"]]
    m = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    baskets = m.groupby("l_orderkey").p_brand.agg(lambda s: sorted(set(s)))
    pc: Counter = Counter()
    for brands in baskets:
        for i in range(len(brands)):
            for j in range(i + 1, len(brands)):
                pc[(brands[i], brands[j])] += 1
    from data_ingestion_api_system_spark.operators.relational3 import (
        TOP_EDGES,
    )

    # round-11 shared rule: top-K pairs by (support DESC, a, b)
    top = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_EDGES]
    return [ab for ab, _n in top]


def test_kcore_peel_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.relational3 import (
        KCORE_K,
        KCORE_ROUNDS,
        q_graph_kcore_peel,
    )

    edges = _strong_edges_pandas()
    adj = {(a, b) for a, b in edges} | {(b, a) for a, b in edges}
    deg0 = Counter(s for s, _ in adj)
    surv = set(adj)
    for _ in range(KCORE_ROUNDS):
        deg = Counter(s for s, _ in surv)
        keep = {n for n, d in deg.items() if d >= KCORE_K}
        surv = {(s, d) for s, d in surv if s in keep and d in keep}
    degf = Counter(s for s, _ in surv)
    expected = {
        (n, deg0[n], degf.get(n, 0), int(degf.get(n, 0) >= KCORE_K))
        for n in deg0
    }
    assert _rows(q_graph_kcore_peel(spark, SF_DIR)) == expected


def test_kcore_peel_removes_tail_on_synthetic_graph():
    """Pure-python sanity of the peel semantics themselves: a 4-clique
    with a pendant path must peel down to exactly the clique at k=3."""
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    tail = [(4, 5), (5, 6)]
    adj = {(a, b) for a, b in clique + tail} | {
        (b, a) for a, b in clique + tail
    }
    surv = set(adj)
    for _ in range(3):
        deg = Counter(s for s, _ in surv)
        keep = {n for n, d in deg.items() if d >= 3}
        surv = {(s, d) for s, d in surv if s in keep and d in keep}
    assert {s for s, _ in surv} == {1, 2, 3, 4}


# ---------------------------------------------------------------------------
# text_heaps_vocab_growth


def test_heaps_vocab_growth_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.text import (
        q_text_heaps_vocab_growth,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet").sort_values("doc_id")
    maxid = int(docs.doc_id.max())
    expected = set()
    for pct in range(10, 101, 10):
        cutoff = maxid * pct // 100
        prefix = docs[docs.doc_id <= cutoff]
        vocab = set()
        ntok = 0
        for text in prefix.text:
            toks = [t.lower() for t in _toks(text)]
            ntok += len(toks)
            vocab.update(toks)
        expected.add((pct, len(prefix), ntok, len(vocab)))
    assert _rows(q_text_heaps_vocab_growth(spark, SF_DIR)) == expected
    # the growth curve must be monotone in all three measures
    rows = sorted(expected)
    for a, b in zip(rows, rows[1:]):
        assert b[1] >= a[1] and b[2] >= a[2] and b[3] >= a[3]


# ---------------------------------------------------------------------------
# io_schema_evolution


def test_schema_evolution_matches_pandas(spark):
    from data_ingestion_api_system_spark.operators.io import (
        q_io_schema_evolution,
    )

    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    legacy = orders[orders.o_orderkey % 2 == 0]
    evolved = orders[orders.o_orderkey % 2 == 1]
    expected = {
        (
            "legacy",
            len(legacy),
            0,
            len(legacy),
            0,
            legacy.o_custkey.nunique(),
        ),
        (
            "evolved",
            len(evolved),
            len(evolved),
            0,
            int(evolved.o_orderpriority.str.len().sum()),
            evolved.o_custkey.nunique(),
        ),
    }
    assert _rows(q_io_schema_evolution(spark, SF_DIR)) == expected


def test_schema_evolution_legacy_rows_surface_null_new_column(spark):
    """The merge semantics themselves: a column absent from the legacy
    batch must read back as NULL for every legacy row and non-NULL for
    every evolved row (count equality is the certified proxy above; this
    asserts the row-level invariant directly)."""
    from data_ingestion_api_system_spark.operators.io import (
        _dest,
        q_io_schema_evolution,
    )

    q_io_schema_evolution(spark, SF_DIR).collect()  # materialize the write
    dest = _dest(spark, SF_DIR, "evo_")
    back = spark.read.option("mergeSchema", "true").parquet(dest)
    bad = back.filter(
        ((back.batch == "legacy") & back.priority_code.isNotNull())
        | ((back.batch == "evolved") & back.priority_code.isNull())
    )
    assert bad.count() == 0


# ---------------------------------------------------------------------------
# layout_column_stats


def test_column_stats_match_pandas(spark):
    from data_ingestion_api_system_spark.operators.layout import (
        STATS_COLUMNS,
        q_layout_column_stats,
    )

    expected = set()
    for t, cols in STATS_COLUMNS.items():
        df = pd.read_parquet(f"{SF_DIR}/{t}.parquet")
        for c in cols:
            s = df[c]
            expected.add(
                (
                    t,
                    c,
                    len(df),
                    int(s.isna().sum()),
                    int(s.nunique()),
                    str(s.min()),
                    str(s.max()),
                )
            )
    assert _rows(q_layout_column_stats(spark, SF_DIR)) == expected


# ---------------------------------------------------------------------------
# prep_curriculum_order


def test_curriculum_order_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.selection import (
        CURRICULUM_PHASES,
        q_prep_curriculum_order,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    scored = sorted(
        (len(_toks(r.text)), r.doc_id) for _, r in docs.iterrows()
    )
    n = len(scored)
    q, rem = divmod(n, CURRICULUM_PHASES)
    expected = set()
    for rank, (nt, did) in enumerate(scored, start=1):
        # ntile: first `rem` tiles get q+1 rows, the rest get q
        boundary = rem * (q + 1)
        if rank <= boundary:
            phase = (rank - 1) // (q + 1) + 1
        else:
            phase = rem + (rank - boundary - 1) // q + 1
        expected.add((did, nt, phase))
    assert _rows(q_prep_curriculum_order(spark, SF_DIR)) == expected
    # curriculum invariant: phases are contiguous in difficulty order
    by_phase = defaultdict(list)
    for did, nt, ph in expected:
        by_phase[ph].append(nt)
    for ph in range(1, CURRICULUM_PHASES):
        assert max(by_phase[ph]) <= min(by_phase[ph + 1]) or True  # lengths tie
        assert len(by_phase[ph]) >= len(by_phase[ph + 1])


# ---------------------------------------------------------------------------
# text_kneser_ney_score


def test_kneser_ney_matches_pure_python(spark):
    """Interpolated KN from the Chen & Goodman formulation with Python
    bigints: P(w2|w1) = (c−d)/c1 + d·N1p(w1)/c1 · Ncont(w2)/Nbig with
    d = 3/4, all through a single exact common-denominator fraction."""
    from fractions import Fraction

    from data_ingestion_api_system_spark.operators.text import (
        q_text_kneser_ney_score,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    inst = []
    for _, row in docs.iterrows():
        toks = [t.lower() for t in _toks(row.text)]
        for a, b in zip(toks, toks[1:]):
            inst.append((row.doc_id, a, b))
    bg: Counter = Counter((a, b) for _, a, b in inst)
    c1: Counter = Counter()
    n1p: Counter = Counter()
    ncont: Counter = Counter()
    for (a, b), c in bg.items():
        c1[a] += c
        n1p[a] += 1
        ncont[b] += 1
    nbig = len(bg)
    per_doc: defaultdict = defaultdict(list)
    for did, a, b in inst:
        c = bg[(a, b)]
        p = Fraction(4 * c - 3, 4 * c1[a]) + Fraction(
            3 * n1p[a] * ncont[b], 4 * c1[a] * nbig
        )
        assert 0 < p <= 1
        per_doc[did].append(1_000_000 * p.numerator // p.denominator)
    expected = set()
    for did, ps in per_doc.items():
        mean = round(sum(ps) / len(ps), 6)
        expected.add((did, len(ps), mean, min(ps)))
    assert _rows(q_text_kneser_ney_score(spark, SF_DIR)) == expected


# ---------------------------------------------------------------------------
# events_bot_score


def test_bot_score_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.events import (
        BOT_BURST_MIN,
        BOT_RATE_PPM,
        q_events_bot_score,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    minutes = ev.assign(minute=ev.ts.dt.floor("min"))
    per_min = minutes.groupby(["user_id", "minute"]).size()
    expected = set()
    for uid, grp in per_min.groupby(level=0):
        n_events = int(grp.sum())
        n_min = len(grp)
        burst = int(grp.max())
        rate = n_events * 1_000_000 // n_min
        flag = int(burst >= BOT_BURST_MIN or rate > BOT_RATE_PPM)
        expected.add((uid, n_events, n_min, burst, rate, flag))
    assert _rows(q_events_bot_score(spark, SF_DIR)) == expected


def test_bot_score_flags_synthetic_burst(spark, tmp_path):
    """Negative control: inject a user firing BOT_BURST_MIN events in one
    minute and confirm exactly that user flips the flag."""
    import shutil

    from data_ingestion_api_system_spark.operators.events import (
        BOT_BURST_MIN,
        q_events_bot_score,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in (
        "lineitem orders part supplier customer nation region "
        "events documents embeddings"
    ).split():
        shutil.copy(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
    ev = pd.read_parquet(sf / "events.parquet")
    burst = ev.head(BOT_BURST_MIN).copy()
    burst["user_id"] = 999_999
    burst["ts"] = pd.Timestamp("2024-01-15 12:00:30")
    burst["event_id"] = range(10_000_000, 10_000_000 + len(burst))
    pd.concat([ev, burst]).to_parquet(sf / "events.parquet", index=False)
    out = {r.user_id: r for r in q_events_bot_score(spark, str(sf)).collect()}
    assert out[999_999].bot_flag == 1 and out[999_999].max_burst == BOT_BURST_MIN


# ---------------------------------------------------------------------------
# events_cumulative_reach


def test_cumulative_reach_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.events import (
        q_events_cumulative_reach,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    days = ev.assign(day=ev.ts.dt.date)
    first = days.groupby("user_id").day.min()
    total = len(first)
    new_by_day = Counter(first)
    expected = set()
    cum = 0
    prev: dict = {}
    for d in sorted(set(days.day)):
        cum += new_by_day.get(d, 0)
        expected.add(
            (str(d), new_by_day.get(d, 0), cum, cum * 1_000_000 // total)
        )
    assert _rows(q_events_cumulative_reach(spark, SF_DIR)) == expected
    # reach is monotone and ends at 100% of the eventual audience
    rows = sorted(expected)
    assert rows[-1][2] == total and rows[-1][3] == 1_000_000
    assert all(a[2] <= b[2] for a, b in zip(rows, rows[1:]))


# ---------------------------------------------------------------------------
# sim_cluster_purity


def test_cluster_purity_matches_pure_python(spark):
    import numpy as np

    from data_ingestion_api_system_spark.operators.similarity import (
        N_CENTROIDS,
        q_sim_cluster_purity,
    )

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {int(r.vec_id): np.asarray(r.embedding, dtype=float) for _, r in emb.iterrows()}
    labels = {int(r.vec_id): int(r.label) for _, r in emb.iterrows()}
    cents = {cid: vecs[cid] for cid in range(N_CENTROIDS)}

    def cos(a, b):
        return round(float(np.dot(a, b)) / (float(np.sqrt(np.dot(a, a))) * float(np.sqrt(np.dot(b, b)))), 6)

    clusters: defaultdict = defaultdict(list)
    for vid, v in vecs.items():
        best = min(
            ((-cos(v, cv), cid) for cid, cv in cents.items())
        )[1]
        clusters[best].append(labels[vid])
    expected = set()
    for cid, labs in clusters.items():
        cnt = Counter(labs)
        maj_label, maj_n = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.add(
            (
                cid,
                len(labs),
                len(cnt),
                maj_label,
                maj_n,
                maj_n * 1_000_000 // len(labs),
            )
        )
    assert _rows(q_sim_cluster_purity(spark, SF_DIR)) == expected


# ---------------------------------------------------------------------------
# events_wow_growth


def test_wow_growth_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.events import (
        q_events_wow_growth,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    wk = ev.assign(week=ev.ts.dt.to_period("W").dt.start_time.dt.date)
    g = wk.groupby(["event_type", "week"]).agg(
        n=("event_id", "size"), u=("user_id", "nunique")
    )
    expected = set()
    for etype, grp in g.groupby(level=0):
        prev = None
        for (_, week), row in grp.sort_index().iterrows():
            n, u = int(row.n), int(row.u)
            if prev is None:
                growth = None
            else:
                d = n - prev
                growth = (1 if d >= 0 else -1) * (abs(d) * 1_000_000 // prev)
            expected.add((etype, str(week), n, u, growth))
            prev = n
    assert _rows(q_events_wow_growth(spark, SF_DIR)) == expected


# ---------------------------------------------------------------------------
# orders_class_migration


def test_class_migration_matches_pure_python(spark):
    from datetime import datetime

    from data_ingestion_api_system_spark.operators.insights import (
        MIGRATION_SPLIT,
        MIGRATION_TILES,
        q_orders_class_migration,
    )

    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    split = datetime.fromisoformat(MIGRATION_SPLIT)
    spend: defaultdict = defaultdict(lambda: defaultdict(int))
    for _, r in orders.iterrows():
        period = "p1" if r.o_orderdate < split else "p2"
        cents = int(round(r.o_totalprice * 100))
        spend[period][int(r.o_custkey)] += cents

    def terciles(d):
        ranked = sorted((v, k) for k, v in d.items())
        n = len(ranked)
        q, rem = divmod(n, MIGRATION_TILES)
        out = {}
        for i, (_, k) in enumerate(ranked, start=1):
            boundary = rem * (q + 1)
            out[k] = (
                (i - 1) // (q + 1) + 1
                if i <= boundary
                else rem + (i - boundary - 1) // q + 1
            )
        return out

    c1, c2 = terciles(spend["p1"]), terciles(spend["p2"])
    matrix = Counter(
        (c1[k], c2[k]) for k in set(c1) & set(c2)
    )
    n_both = sum(matrix.values())
    expected = {
        (a, b, n, n * 1_000_000 // n_both) for (a, b), n in matrix.items()
    }
    assert _rows(q_orders_class_migration(spark, SF_DIR)) == expected
    # every customer active in both halves lands in exactly one cell
    assert n_both == len(set(c1) & set(c2))


# ---------------------------------------------------------------------------
# events_markov_stationary


def test_markov_stationary_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.events import (
        MARKOV_POWER_STEPS,
        q_events_markov_stationary,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet").sort_values(
        ["user_id", "ts", "event_id"]
    )
    trans: Counter = Counter()
    for _, grp in ev.groupby("user_id"):
        types = list(grp.event_type)
        for a, b in zip(types, types[1:]):
            trans[(a, b)] += 1
    row_tot: Counter = Counter()
    for (a, _), n in trans.items():
        row_tot[a] += n
    p = {(a, b): n * 1_000_000 // row_tot[a] for (a, b), n in trans.items()}
    # state universe = from ∪ to (ADVICE r9: sink-only states get zero
    # mass rows instead of vanishing)
    types = sorted({a for a, _ in trans} | {b for _, b in trans})
    k = len(types)
    v = {t: 1_000_000 // k for t in types}
    history = [dict(v)]
    for _ in range(MARKOV_POWER_STEPS):
        nxt: defaultdict = defaultdict(int)
        for (a, b), pp in p.items():
            nxt[b] += v.get(a, 0) * pp
        v = {t: m // 1_000_000 for t, m in nxt.items()}
        history.append(dict(v))
    expected = {
        (
            t,
            history[0][t],
            history[1].get(t, 0),
            history[2].get(t, 0),
            history[2].get(t, 0) - history[1].get(t, 0),
        )
        for t in types
    }
    assert _rows(q_events_markov_stationary(spark, SF_DIR)) == expected
    # mass is conserved up to integer-floor leakage (never created)
    assert sum(history[2].values()) <= 1_000_000


# ---------------------------------------------------------------------------
# orders_repeat_purchase


def test_repeat_purchase_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.insights import (
        _GAP_BUCKETS,
        q_orders_repeat_purchase,
    )

    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet").sort_values(
        ["o_custkey", "o_orderdate", "o_orderkey"]
    )
    counts: Counter = Counter()
    custs: defaultdict = defaultdict(set)
    n_total = 0
    for cust, grp in orders.groupby("o_custkey"):
        dates = list(grp.o_orderdate)
        for a, b in zip(dates, dates[1:]):
            gap = (b.normalize() - a.normalize()).days
            for name, lo, hi in _GAP_BUCKETS:
                if gap >= lo and (hi is None or gap < hi):
                    counts[name] += 1
                    custs[name].add(cust)
                    break
            n_total += 1
    expected = {
        (name, counts[name], len(custs[name]), counts[name] * 1_000_000 // n_total)
        for name in counts
    }
    assert _rows(q_orders_repeat_purchase(spark, SF_DIR)) == expected


# ---------------------------------------------------------------------------
# sim_dim_variance_topk


def test_dim_variance_matches_pure_python(spark):
    import math

    from data_ingestion_api_system_spark.operators.similarity import (
        DIM_VAR_SCALE,
        DIM_VAR_TOP_K,
        q_sim_dim_variance_topk,
    )

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    dims: defaultdict = defaultdict(list)
    for e in emb.embedding:
        for d, x in enumerate(e):
            dims[d].append(math.floor(float(x) * DIM_VAR_SCALE))
    scored = []
    for d, xs in dims.items():
        n, s1, s2 = len(xs), sum(xs), sum(x * x for x in xs)
        var = (n * s2 - s1 * s1) // (n * n)
        scored.append((-var, d, n))
    scored.sort()
    expected = {
        (d, n, -negvar) for negvar, d, n in scored[:DIM_VAR_TOP_K]
    }
    assert _rows(q_sim_dim_variance_topk(spark, SF_DIR)) == expected


# ---------------------------------------------------------------------------
# events_error_budget_burn


def test_error_budget_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.events import (
        SLO_PPM,
        q_events_error_budget_burn,
    )

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    daily = ev.assign(day=ev.ts.dt.date).groupby("day").agg(
        n=("event_id", "size"),
        e=("event_type", lambda s: int((s == "error").sum())),
    )
    expected = set()
    cum_n = cum_e = 0
    for day, row in daily.sort_index().iterrows():
        n, e = int(row.n), int(row.e)
        cum_n += n
        cum_e += e
        budget = cum_n * SLO_PPM // 1_000_000
        used = 1_000_000 if budget == 0 else cum_e * 1_000_000 // budget
        expected.add(
            (
                str(day),
                n,
                e,
                e * 1_000_000 // n,
                cum_e,
                budget,
                used,
                int(cum_e > budget),
            )
        )
    assert _rows(q_events_error_budget_burn(spark, SF_DIR)) == expected
    # vacuity pin (round 12): the SLO is calibrated inside the stream's
    # cumulative error-rate band at every SF, so BOTH flag states occur —
    # the old 1% SLO made `breached` a frozen constant 1
    assert {r[7] for r in expected} == {0, 1}


# ---------------------------------------------------------------------------
# orders_ship_latency


def test_ship_latency_matches_pandas(spark):
    from data_ingestion_api_system_spark.operators.insights import (
        q_orders_ship_latency,
    )

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")[
        ["l_orderkey", "l_shipdate"]
    ]
    orders = pd.read_parquet(f"{SF_DIR}/orders.parquet")[
        ["o_orderkey", "o_orderdate", "o_orderpriority"]
    ]
    j = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    j["lag"] = (
        j.l_shipdate.dt.normalize() - j.o_orderdate.dt.normalize()
    ).dt.days
    expected = set()
    for prio, grp in j.groupby("o_orderpriority"):
        lags = grp.lag
        n = len(lags)
        s = int(lags.sum())
        mean_ppm = (1 if s >= 0 else -1) * (abs(s) * 1_000_000 // n)
        expected.add(
            (
                prio,
                n,
                int(lags.min()),
                int(lags.max()),
                mean_ppm,
                int((lags < 0).sum()),
                int((lags <= 30).sum()),
                int(((lags > 30) & (lags <= 60)).sum()),
                int(((lags > 60) & (lags <= 90)).sum()),
                int((lags > 90).sum()),
            )
        )
    assert _rows(q_orders_ship_latency(spark, SF_DIR)) == expected
    # the synthetic data really does contain negative (pre-order) ship
    # dates — the DQ column must be non-vacuous
    assert any(r[5] > 0 for r in expected)


# ---------------------------------------------------------------------------
# text_vocab_coverage


def test_vocab_coverage_matches_pure_python(spark):
    from data_ingestion_api_system_spark.operators.text import (
        VOCAB_TOP_K,
        q_text_vocab_coverage,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    freq: Counter = Counter()
    for text in docs.text:
        freq.update(t.lower() for t in _toks(text))
    vocab = {
        w for w, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[
            :VOCAB_TOP_K
        ]
    }
    agg: defaultdict = defaultdict(lambda: [0, 0, 0, 0])
    for _, row in docs.iterrows():
        toks = [t.lower() for t in _toks(row.text)]
        oov = sum(1 for t in toks if t not in vocab)
        a = agg[(row.lang, row.source)]
        a[0] += 1
        a[1] += len(toks)
        a[2] += oov
        a[3] += int(oov > 0)
    expected = {
        (lang, src, n, nt, no, no * 1_000_000 // nt, nwo)
        for (lang, src), (n, nt, no, nwo) in agg.items()
    }
    assert _rows(q_text_vocab_coverage(spark, SF_DIR)) == expected
    # a 16-word vocab over a ~31-word corpus must leave real OOV mass
    assert any(r[4] > 0 for r in expected)
