"""Round-9 hardening tests: the hub-degree cap on the common-neighbors
wedge join (VERDICT r8 #4) and the bench-record overwrite guard's
load-comparison rule (VERDICT r8 #2).
"""

from __future__ import annotations

from collections import Counter

from data_ingestion_api_system_spark.operators.relational3 import (
    CN_DEGREE_CAP,
    _capped_adj,
)


def _symmetrize(edges):
    out = []
    for a, b in edges:
        out.append((a, b))
        out.append((b, a))
    return out


def test_capped_adj_bounds_wedge_count(spark):
    """Adversarial hub: node 0 adjacent to 1..200. Uncapped, the wedge
    join through center 0 produces C(200,2) = 19900 pairs; with the cap
    at K it must produce exactly C(K,2), and the kept neighbors must be
    the deterministic smallest-src rule regardless of input order."""
    from pyspark.sql import functions as F

    hub_deg = 200
    cap = 16
    edges = [(0, i) for i in range(1, hub_deg + 1)]
    # shuffled input order must not change which rows survive the cap
    rows = _symmetrize(edges)
    rows = rows[1::2] + rows[0::2]
    adj = spark.createDataFrame(rows, "src int, dst int")

    capped = _capped_adj(adj, cap)
    per_dst = Counter(r.dst for r in capped.collect())
    assert max(per_dst.values()) <= cap
    # deterministic rule: the cap smallest src values per dst survive
    kept_for_hub = sorted(
        r.src for r in capped.filter(F.col("dst") == 0).collect()
    )
    assert kept_for_hub == list(range(1, cap + 1))

    x = capped.select(F.col("src").alias("wa"), F.col("dst").alias("c"))
    y = capped.select(F.col("src").alias("wb"), F.col("dst").alias("c"))
    wedges = x.join(y, "c").filter(F.col("wa") < F.col("wb"))
    n_wedges = wedges.count()
    assert n_wedges == cap * (cap - 1) // 2  # vs 19900 uncapped
    # every wedge is through the hub and within the capped neighborhood
    assert wedges.filter(F.col("c") != 0).count() == 0


def test_registry_cap_is_above_brand_graph_max_degree(spark):
    """The registry entry must stay hash-exact: CN_DEGREE_CAP has to
    exceed the brand graph's maximum possible degree (|brands| − 1), so
    the cap filter is a no-op on real data."""
    from tests.conftest import SF_DIR

    import duckdb

    (n_brands,) = duckdb.sql(
        f"SELECT count(DISTINCT p_brand) FROM read_parquet('{SF_DIR}/part.parquet')"
    ).fetchone()
    assert CN_DEGREE_CAP > n_brands - 1


def test_capped_adj_noop_below_cap(spark):
    """A graph whose max degree is under the cap passes through
    unchanged (row-set equality)."""
    edges = [(1, 2), (1, 3), (2, 3), (4, 1)]
    adj = spark.createDataFrame(_symmetrize(edges), "src int, dst int")
    before = sorted((r.src, r.dst) for r in adj.collect())
    after = sorted((r.src, r.dst) for r in _capped_adj(adj, 8).collect())
    assert before == after


def test_length_buckets_overflow_clamped(spark, tmp_path):
    """ADVICE r8: a doc longer than the top ladder rung (2*8192 tokens)
    must land in the explicit overflow bucket 0 with pad 0 / waste 0 —
    previously it fell into the 16384 rung with NEGATIVE pad_tokens, and
    both engines agreed so the oracle gate couldn't see it. Runs the real
    Spark query AND the real oracle SQL on a synthetic long-doc table and
    checks both against hand-computed expectations."""
    import duckdb
    import pandas as pd

    from data_ingestion_api_system_spark.operators.text import (
        _ORACLE_LENGTH_BUCKETS,
        q_text_length_buckets,
    )

    lengths = [10, 16, 8193, 16384, 16385, 50000]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(lengths)),
            "text": ["w " * n for n in lengths],
            "lang": ["en"] * len(lengths),
            "source": ["synthetic"] * len(lengths),
            "n_chars": [2 * n for n in lengths],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")

    rows = {
        r.bucket_tokens: r
        for r in q_text_length_buckets(spark, str(tmp_path)).collect()
    }
    # expectations: 10,16 -> 16; 8193,16384 -> 16384; 16385,50000 -> overflow 0
    assert set(rows) == {16, 16384, 0}
    assert rows[16].n_docs == 2 and rows[16].pad_tokens == (16 - 10) + 0
    assert rows[16384].n_docs == 2
    assert rows[16384].pad_tokens == (16384 - 8193) + 0
    over = rows[0]
    assert over.n_docs == 2
    assert over.sum_tokens == 16385 + 50000
    assert over.pad_tokens == 0 and over.waste_ppm == 0
    assert all(r.pad_tokens >= 0 and r.waste_ppm >= 0 for r in rows.values())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    oracle = {
        int(b): (int(nd), int(st), int(pt), int(w))
        for b, nd, st, pt, w, _ in con.execute(_ORACLE_LENGTH_BUCKETS).fetchall()
    }
    spark_side = {
        int(b): (
            int(r.n_docs),
            int(r.sum_tokens),
            int(r.pad_tokens),
            int(r.waste_ppm),
        )
        for b, r in rows.items()
    }
    assert oracle == spark_side


def test_documents_text_is_ascii_all_sfs():
    """multimodal_audio_windows' Spark side hashes BYTE windows of the
    utf-8 payload while its DuckDB oracle slices CHARACTERS (DuckDB has no
    BLOB substring) — parity therefore requires documents.text to be pure
    ASCII. ADVICE r8: that invariant was only a comment; pin it against
    every generated scale factor so a testdata regeneration with
    multi-byte codepoints fails HERE with a clear message instead of as an
    opaque sequence_md5 mismatch."""
    import glob

    import duckdb

    sf_dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert sf_dirs, "no testdata directories found"
    for sf in sf_dirs:
        (n_non_ascii,) = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{sf}/documents.parquet') "
            f"WHERE octet_length(encode(text)) != length(text)"
        ).fetchone()
        assert n_non_ascii == 0, (
            f"{sf}/documents.parquet has {n_non_ascii} non-ASCII docs — "
            "multimodal_audio_windows byte-vs-char window boundaries will "
            "diverge from the DuckDB oracle"
        )


# ---------------------------------------------------------------------------
# Round-9 newborn re-derivations: every operator gets a third, independent
# pure-Python implementation (first-principles, not a transcription of the
# Spark/SQL formulas) checked against the registry entry's actual output.
# ---------------------------------------------------------------------------


def _kmv_est(hashes, k, p):
    """KMV from first principles: k-th smallest DISTINCT hash on [0, p)."""
    ds = sorted(set(hashes))
    if len(ds) < k:
        return len(ds)
    return (k - 1) * p // ds[k - 1]


def test_kmv_merge_identity_synthetic():
    """The merge identity the operator certifies, on synthetic data: the k
    smallest of the union of per-day k-min lists equal the k smallest of
    the union, for an adversarial split (all small hashes on one day)."""
    k = 8
    days = [
        list(range(100, 200)),          # the 8 global smallest live here
        list(range(5000, 5300, 7)),
        list(range(103, 400, 3)),       # overlaps day 0
    ]
    union = [h for d in days for h in d]
    daily_kmin = [sorted(set(d))[:k] for d in days]
    merged = [h for d in daily_kmin for h in d]
    assert sorted(set(merged))[:k] == sorted(set(union))[:k]
    assert _kmv_est(merged, k, 2**31 - 1) == _kmv_est(union, k, 2**31 - 1)


def test_kmv_matches_pure_python(spark):
    """Registry entry vs an independent per-type KMV built straight from
    the raw parquet with Python ints (hash recomputed from its published
    Carter-Wegman constants, estimate from the order statistic)."""
    import pandas as pd

    from data_ingestion_api_system_spark.operators.layout import (
        JS_A,
        JS_B,
        JS_P,
        KMV_K,
        q_sketch_kmv_distinct,
    )
    from tests.conftest import SF_DIR

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    out = {r.event_type: r for r in q_sketch_kmv_distinct(spark, SF_DIR).collect()}
    for etype, grp in ev.groupby("event_type"):
        users = grp["user_id"].astype(int)
        hashes = [((u % JS_P + JS_P) % JS_P * JS_A[2] + JS_B[2]) % JS_P for u in users]
        exact = users.nunique()
        est = _kmv_est(hashes, KMV_K, JS_P)
        r = out[etype]
        assert r.exact_users == exact
        assert r.kmv_direct == est
        assert r.kmv_merged == est  # merge identity on real data
        assert r.merged_equals_direct == 1
        assert r.err_ppm == abs(est - exact) * 1_000_000 // exact


def test_pmi_matches_pure_python(spark):
    """Collocation mining re-derived with collections.Counter and Python
    bigints: whitespace-lowercase tokens, pair/unigram counts, exact
    integer lift, same (lift, w1, w2) ordering."""
    from collections import Counter

    import pandas as pd

    from data_ingestion_api_system_spark.operators.text import (
        PMI_MIN_PAIR,
        PMI_TOP_K,
        q_text_pmi_collocations,
    )
    from tests.conftest import SF_DIR

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    uni: Counter = Counter()
    pairs: Counter = Counter()
    for text in docs["text"]:
        toks = [t.lower() for t in text.split()]
        uni.update(toks)
        pairs.update(zip(toks, toks[1:]))
    n_total = sum(uni.values())
    scored = [
        (1_000_000 * n_total * c // (uni[w1] * uni[w2]), w1, w2, c)
        for (w1, w2), c in pairs.items()
        if c >= PMI_MIN_PAIR
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    expect = scored[:PMI_TOP_K]
    got = q_text_pmi_collocations(spark, SF_DIR).collect()
    assert len(got) == len(expect)
    for r, (lift, w1, w2, c) in zip(got, expect):
        assert (r.w1, r.w2) == (w1, w2)
        assert r.pair_n == c
        assert r.c1a == uni[w1] and r.c1b == uni[w2]
        assert r.lift_ppm == lift


def _brand_graph_adj(sf_dir):
    """Brand co-occurrence adjacency from first principles: distinct
    brands per order (lineitem x part), undirected edge for the
    TOP_EDGES strongest pairs by (support DESC, a, b) — the round-11
    scale-stable rule shared by every graph entry."""
    from collections import Counter, defaultdict
    from itertools import combinations

    import pandas as pd

    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    pt = pd.read_parquet(f"{sf_dir}/part.parquet", columns=["p_partkey", "p_brand"])
    m = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    pair_counts: Counter = Counter()
    for _, brands in m.groupby("l_orderkey")["p_brand"]:
        for a, b in combinations(sorted(set(brands)), 2):
            pair_counts[(a, b)] += 1
    from data_ingestion_api_system_spark.operators.relational3 import (
        TOP_EDGES,
    )

    top = sorted(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_EDGES]
    adj = defaultdict(set)
    for (a, b), _n in top:
        adj[a].add(b)
        adj[b].add(a)
    return adj


def test_katz_matches_pure_python(spark):
    """Walk counts by direct enumeration: w1 = degree, w_{l+1}(v) =
    sum of w_l over neighbors; katz_x64 = 16*w1 + 4*w2 + w3."""
    from data_ingestion_api_system_spark.operators.relational3 import (
        q_graph_katz_centrality,
    )
    from tests.conftest import SF_DIR

    adj = _brand_graph_adj(SF_DIR)
    w1 = {v: len(ns) for v, ns in adj.items()}
    w2 = {v: sum(w1[u] for u in adj[v]) for v in adj}
    w3 = {v: sum(w2[u] for u in adj[v]) for v in adj}
    got = {r.brand: r for r in q_graph_katz_centrality(spark, SF_DIR).collect()}
    assert set(got) == set(adj)
    for v in adj:
        r = got[v]
        assert (r.walks1, r.walks2, r.walks3) == (w1[v], w2[v], w3[v])
        assert r.katz_x64 == 16 * w1[v] + 4 * w2[v] + w3[v]


def test_orc_roundtrip_preserves_types(spark):
    """The ORC cycle must preserve DECIMAL(18,4) and DATE through the
    file format: check the written files' schema (read back WITHOUT a
    declared schema) and the aggregate against a pandas recomputation."""
    from decimal import Decimal

    import pandas as pd

    from data_ingestion_api_system_spark.operators.io import (
        _dest,
        q_io_orc_roundtrip,
    )
    from tests.conftest import SF_DIR

    out = {r.event_type: r for r in q_io_orc_roundtrip(spark, SF_DIR).collect()}

    dest = _dest(spark, SF_DIR, "orc_")
    inferred = dict(spark.read.orc(dest).dtypes)
    assert inferred["value_dec"] == "decimal(18,4)"
    assert inferred["day"] == "date"

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    for etype, grp in ev.groupby("event_type"):
        r = out[etype]
        assert r.n_events == len(grp)
        assert r.n_distinct_ids == grp["event_id"].nunique()
        dec_sum = sum(
            Decimal(repr(v)).quantize(Decimal("0.0001")) for v in grp["value"]
        )
        assert Decimal(repr(r.sum_value)) == dec_sum.quantize(Decimal("0.01"))
        assert r.min_day == str(grp["ts"].dt.date.min())
        assert r.max_day == str(grp["ts"].dt.date.max())


def _cos_ppm_py(a, b):
    """Sequential-fold cosine -> half-up 6dp -> ppm int, mirroring the
    engines' fold order (left-to-right, no pairwise summation)."""
    from decimal import ROUND_HALF_UP, Decimal

    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
    for x in a:
        na += x * x
    for y in b:
        nb += y * y
    cos = dot / ((na ** 0.5) * (nb ** 0.5))
    q = Decimal(cos).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    return int(q * 1_000_000)


def test_mmr_matches_pure_python(spark):
    """MMR re-derived from the paper's definition: greedy argmax of
    lam*rel - (1-lam)*max-sim-to-selected over the top-12 pool, ties to
    the smaller vec_id."""
    import pandas as pd

    from data_ingestion_api_system_spark.operators.similarity import (
        MMR_K,
        MMR_POOL,
        q_sim_mmr_diversify,
    )
    from tests.conftest import SF_DIR

    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    vecs = {int(r.vec_id): [float(x) for x in r.embedding] for r in emb.itertuples()}
    q = vecs[0]
    rel = {v: _cos_ppm_py(vec, q) for v, vec in vecs.items() if v != 0}
    pool = sorted(rel, key=lambda v: (-rel[v], v))[:MMR_POOL]
    sim = {
        (a, b): _cos_ppm_py(vecs[a], vecs[b])
        for a in pool
        for b in pool
        if a != b
    }
    selected = []
    expect = []
    for _ in range(MMR_K):
        best = None
        for v in pool:
            if v in selected:
                continue
            maxsim = max((sim[(v, s)] for s in selected), default=0)
            score = 7 * rel[v] - 3 * maxsim
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, maxsim, score)
        _, v, maxsim, score = best
        selected.append(v)
        expect.append((len(selected), v, rel[v], maxsim, score))
    got = sorted(
        q_sim_mmr_diversify(spark, SF_DIR).collect(), key=lambda r: r.pick
    )
    assert [
        (r.pick, r.vec_id, r.rel_ppm, r.maxsim_ppm, r.mmr_score) for r in got
    ] == expect
    # structural invariants: distinct picks, first pick is pure argmax-rel
    assert len({r.vec_id for r in got}) == MMR_K
    assert got[0].vec_id == min(rel, key=lambda v: (-rel[v], v))
