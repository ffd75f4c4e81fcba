"""Round-11 pins: the exact_avg_halfup scale guard and the
arithmetic-union Jaccard identity.

Round 11 replaced ``size(array_union(A, B))`` with ``n_a + n_b −
size(array_intersect(A, B))`` in both blocked n-gram Jaccard and the LSH
verifier (one array op per pair instead of two). The identity
|A∪B| = |A| + |B| − |A∩B| is exact ONLY for duplicate-free arrays — the
shingle builders guarantee that via array_distinct — so this suite pins
(a) the rewritten queries still hash-match their DuckDB oracles on a
corpus slice, and (b) the guard that limits exact_avg_halfup to the input
scales 0–8 its boundary tests pin on both engines.
"""

from __future__ import annotations

import pytest

import duckdb
from pyspark.sql import functions as F

from data_ingestion_api_system_spark.functions import (
    exact_avg_halfup,
    sql_exact_avg_halfup,
)
from data_ingestion_api_system_spark.operators.dedup import (
    q_dedup_minhash_lsh,
    q_dedup_ngram_jaccard,
)

SF_DIR = "/root/testdata/sf0.001"


def test_exact_avg_halfup_rejects_scale_over_8():
    for scale in (9, -1):
        with pytest.raises(ValueError, match="scale <= 8"):
            exact_avg_halfup("x", scale=scale)
        with pytest.raises(ValueError, match="scale <= 8"):
            sql_exact_avg_halfup("x", scale=scale)


def test_exact_avg_halfup_scale_6_still_integral(spark):
    # boundary case: scale=6 is the largest admissible — sum·10^6 stays
    # integral and both engines agree on the half-up QUOTIENT rounding.
    # Inputs carry exactly ≤6 decimals (the function's precondition); the
    # average 0.0000015 lands on the half boundary → half-up to 0.000002.
    df = spark.createDataFrame([(0.000001,), (0.000002,)], ["x"])
    got = df.agg(exact_avg_halfup("x", scale=6).alias("m")).collect()[0]["m"]
    want = duckdb.sql(
        f"SELECT {sql_exact_avg_halfup('x', scale=6)} AS m"
        " FROM (VALUES (0.000001), (0.000002)) t(x)"
    ).fetchone()[0]
    assert got == want == 2e-06


def _jaccard_by_union(spark, pairs_df, sh_df):
    """Reference computation: the literal array_union form the round-11
    rewrite replaced — recomputed here so the identity stays pinned."""
    sha = sh_df.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("ua"))
    shb = sh_df.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("ub"))
    return (
        pairs_df.join(sha, "doc_a")
        .join(shb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("ua", "ub"))
                / F.size(F.array_union("ua", "ub")),
                6,
            ).alias("jaccard_union"),
        )
    )


def test_count_min_overestimate_is_live_and_one_sided(spark):
    """Non-vacuity pin (round-11 all-zero sweep): at the original width 64
    the 4×64 grid exceeded the generator's 31-word vocabulary and every
    probe returned overestimate = 0 — the sketch's defining error bound was
    never exercised. At width 8 collisions are structural: assert the
    one-sided guarantee (estimate ≥ exact, always) AND that at least one
    probed word actually overestimates (the non-vacuous half)."""
    from data_ingestion_api_system_spark.operators.text import (
        CM_WIDTH,
        q_sketch_count_min,
    )

    assert CM_WIDTH < 31  # narrower than the vocab, or the test is moot
    rows = q_sketch_count_min(spark, SF_DIR).collect()
    assert len(rows) == 10
    assert all(r.cm_estimate >= r.exact_count for r in rows)
    assert all(r.overestimate == r.cm_estimate - r.exact_count for r in rows)
    assert any(r.overestimate > 0 for r in rows)


def test_dq_constraint_report_detects_injected_violations(spark, tmp_path):
    """Negative control for the DQ report (found by the round-11 all-zero
    column sweep): the generated data is clean at every SF, so
    ``test_dq_report_clean_on_testdata`` alone never exercises the
    violation-counting paths. Inject one violation per constraint family
    and assert each fires with exactly the expected count."""
    import shutil

    import pandas as pd

    from data_ingestion_api_system_spark.operators.prep import (
        q_dq_constraint_report,
    )

    sf = tmp_path / "sf"
    sf.mkdir()
    for t in (
        "lineitem orders part supplier customer nation region "
        "events documents embeddings"
    ).split():
        shutil.copy(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
    orders = pd.read_parquet(sf / "orders.parquet")
    # duplicate one orderkey (uniqueness) and orphan one custkey (ref int)
    dup = orders.iloc[[0]].copy()
    orders = pd.concat([orders, dup], ignore_index=True)
    orders.loc[orders.index[-1], "o_custkey"] = 10**9
    orders.to_parquet(sf / "orders.parquet", index=False)
    docs = pd.read_parquet(sf / "documents.parquet")
    docs.loc[docs.index[:3], "text"] = None  # nullability
    docs.to_parquet(sf / "documents.parquet", index=False)
    li = pd.read_parquet(sf / "lineitem.parquet")
    li.loc[li.index[:2], "l_quantity"] = 999.0  # domain range
    li.to_parquet(sf / "lineitem.parquet", index=False)

    rows = {
        r.constraint_name: r.n_violations
        for r in q_dq_constraint_report(spark, str(sf)).collect()
    }
    assert rows["orders.o_orderkey unique"] == 1
    assert rows["documents.text not null"] == 3
    assert rows["orders.o_custkey in customer"] == 1
    assert rows["lineitem.l_quantity in [1,50]"] == 2
    # the untouched constraint stays clean
    assert [v for k, v in rows.items() if k.startswith("part ids")] == [0]


# ---------------------------------------------------------------------------
# Derived-partsupp TPC-H cohort (q2/q11/q16/q20): pure-Python re-derivation
# of the deterministic generation rule + one end-to-end value check per
# query shape, per the cohort policy (every newborn lands with a
# non-oracle third derivation).
# ---------------------------------------------------------------------------


def _pandas_partsupp(sf_dir: str):
    import pandas as pd

    part = pd.read_parquet(f"{sf_dir}/part.parquet")
    supp = pd.read_parquet(f"{sf_dir}/supplier.parquet")
    S = len(supp)
    rows = []
    for pk in part.p_partkey:
        for i in range(4):
            sk = (pk + i * (S // 4)) % S
            rows.append(
                (
                    pk,
                    sk,
                    (pk * 37 + sk * 17) % 9999 + 1,
                    (pk * 13 + sk * 7) % 99900 + 100,
                )
            )
    return pd.DataFrame(
        rows,
        columns=[
            "ps_partkey",
            "ps_suppkey",
            "ps_availqty",
            "ps_supplycost_cents",
        ],
    )


def test_derived_partsupp_matches_pure_python(spark):
    """The Spark derivation equals the literal per-row Python rule, every
    part gets exactly 4 DISTINCT suppliers, and all suppkeys are valid."""
    from data_ingestion_api_system_spark.operators.tpch_ps import (
        derived_partsupp,
    )

    got = (
        derived_partsupp(spark, SF_DIR)
        .toPandas()
        .sort_values(["ps_partkey", "ps_suppkey"])
        .reset_index(drop=True)
    )
    want = (
        _pandas_partsupp(SF_DIR)
        .sort_values(["ps_partkey", "ps_suppkey"])
        .reset_index(drop=True)
    )
    assert got.astype("int64").equals(want.astype("int64"))
    per_part = got.groupby("ps_partkey").ps_suppkey.nunique()
    assert (per_part == 4).all()


def test_tpch_q11_threshold_matches_pure_python(spark):
    """q11's mean-relative HAVING re-derived with exact Python ints."""
    import pandas as pd

    from data_ingestion_api_system_spark.operators.tpch_ps import (
        Q11_DEN,
        Q11_NUM,
        Q11_REGION,
        q_tpch_q11,
    )

    ps = _pandas_partsupp(SF_DIR)
    supp = pd.read_parquet(f"{SF_DIR}/supplier.parquet")
    nation = pd.read_parquet(f"{SF_DIR}/nation.parquet")
    region = pd.read_parquet(f"{SF_DIR}/region.parquet")
    rk = region.loc[region.r_name == Q11_REGION, "r_regionkey"].iloc[0]
    nk = set(nation.loc[nation.n_regionkey == rk, "n_nationkey"])
    sk = set(supp.loc[supp.s_nationkey.isin(nk), "s_suppkey"])
    inreg = ps[ps.ps_suppkey.isin(sk)]
    value = (
        (inreg.ps_supplycost_cents * inreg.ps_availqty)
        .groupby(inreg.ps_partkey)
        .sum()
    )
    total, n = int(value.sum()), len(value)
    want = {
        (int(k), int(v) / 100.0)
        for k, v in value.items()
        if int(v) * n * Q11_DEN > total * Q11_NUM
    }
    got = {
        (r.ps_partkey, r.stock_value)
        for r in q_tpch_q11(spark, SF_DIR).collect()
    }
    assert got == want and len(got) > 0


def test_tpch_q2_is_regional_minimum(spark):
    """Every q2 row's supplycost equals the true min over that part's
    in-region suppliers (recomputed in Python), and no eligible part with
    an in-region supplier is missing."""
    import pandas as pd

    from data_ingestion_api_system_spark.operators.tpch_ps import (
        Q2_MAX_SIZE,
        Q2_REGION,
        Q2_TYPE,
        q_tpch_q2,
    )

    ps = _pandas_partsupp(SF_DIR)
    part = pd.read_parquet(f"{SF_DIR}/part.parquet")
    supp = pd.read_parquet(f"{SF_DIR}/supplier.parquet")
    nation = pd.read_parquet(f"{SF_DIR}/nation.parquet")
    region = pd.read_parquet(f"{SF_DIR}/region.parquet")
    rk = region.loc[region.r_name == Q2_REGION, "r_regionkey"].iloc[0]
    nk = set(nation.loc[nation.n_regionkey == rk, "n_nationkey"])
    sk = set(supp.loc[supp.s_nationkey.isin(nk), "s_suppkey"])
    elig = set(
        part.loc[
            (part.p_type == Q2_TYPE) & (part.p_size <= Q2_MAX_SIZE),
            "p_partkey",
        ]
    )
    inreg = ps[ps.ps_suppkey.isin(sk) & ps.ps_partkey.isin(elig)]
    mins = inreg.groupby("ps_partkey").ps_supplycost_cents.min()
    rows = q_tpch_q2(spark, SF_DIR).collect()
    assert {r.p_partkey for r in rows} == set(mins.index)
    for r in rows:
        assert r.supplycost == round(int(mins[r.p_partkey]) / 100.0, 2)


def test_tpch_q16_variety_matches_pure_python(spark):
    """q16's grouped COUNT(DISTINCT) after brand/size filter + supplier
    anti-join, re-derived per-group in Python sets."""
    import pandas as pd

    from data_ingestion_api_system_spark.operators.tpch_ps import (
        Q16_EXCL_BRAND,
        Q16_SIZES,
        q_tpch_q16,
    )

    ps = _pandas_partsupp(SF_DIR)
    part = pd.read_parquet(f"{SF_DIR}/part.parquet")
    supp = pd.read_parquet(f"{SF_DIR}/supplier.parquet")
    bad = set(supp.loc[supp.s_acctbal < 0, "s_suppkey"])
    keep = part[
        (part.p_brand != Q16_EXCL_BRAND) & part.p_size.isin(Q16_SIZES)
    ]
    merged = ps[~ps.ps_suppkey.isin(bad)].merge(
        keep, left_on="ps_partkey", right_on="p_partkey"
    )
    want = {
        (b, t, int(s), int(n))
        for (b, t, s), n in merged.groupby(
            ["p_brand", "p_type", "p_size"]
        ).ps_suppkey.nunique().items()
    }
    got = {
        (r.p_brand, r.p_type, r.p_size, r.supplier_cnt)
        for r in q_tpch_q16(spark, SF_DIR).collect()
    }
    assert got == want and len(got) > 0


def test_tpch_q20_excess_stock_semantics(spark):
    """q20 membership re-derived: a supplier appears iff it holds some
    'small…' part with 2*availqty > its 1996 shipped quantity, and is in
    the target region; never-shipped pairs are excluded (NULL-scalar
    semantics of the spec's correlated subquery)."""
    import pandas as pd

    from data_ingestion_api_system_spark.operators.tpch_ps import (
        Q20_NAME_PREFIX,
        Q20_REGION,
        Q20_YEAR,
        q_tpch_q20,
    )

    ps = _pandas_partsupp(SF_DIR)
    part = pd.read_parquet(f"{SF_DIR}/part.parquet")
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    supp = pd.read_parquet(f"{SF_DIR}/supplier.parquet")
    nation = pd.read_parquet(f"{SF_DIR}/nation.parquet")
    region = pd.read_parquet(f"{SF_DIR}/region.parquet")
    small = set(
        part.loc[part.p_name.str.startswith(Q20_NAME_PREFIX), "p_partkey"]
    )
    li = li[
        li.l_partkey.isin(small)
        & (li.l_shipdate >= Q20_YEAR[0])
        & (li.l_shipdate < Q20_YEAR[1])
    ].copy()
    # exact third derivation: both engines sum CAST(l_quantity AS
    # DECIMAL(18,2)), so the Python twin must sum exact integer
    # centi-units, not float64 — a float sum can land a hair under an
    # exact 2*availqty tie and flip the strict-> verdict
    li["qty_c"] = (li.l_quantity * 100).round().astype("int64")
    shipped = li.groupby(["l_partkey", "l_suppkey"]).qty_c.sum()
    rk = region.loc[region.r_name == Q20_REGION, "r_regionkey"].iloc[0]
    nk = set(nation.loc[nation.n_regionkey == rk, "n_nationkey"])
    sk = set(supp.loc[supp.s_nationkey.isin(nk), "s_suppkey"])
    want = set()
    for (pk, skey), qty_c in shipped.items():
        if skey in sk:
            avail = ps.loc[
                (ps.ps_partkey == pk) & (ps.ps_suppkey == skey),
                "ps_availqty",
            ]
            # compare in centi-units: 2*avail > qty  <=>  200*avail > qty_c
            if len(avail) and 200 * int(avail.iloc[0]) > int(qty_c):
                want.add(skey)
    got = {r.s_suppkey for r in q_tpch_q20(spark, SF_DIR).collect()}
    assert got == want


@pytest.mark.parametrize("qfn", [q_dedup_ngram_jaccard, q_dedup_minhash_lsh])
def test_arith_union_identical_to_array_union(spark, qfn):
    """Every emitted pair's jaccard equals the array_union recomputation —
    the |A∪B| = |A|+|B|−|A∩B| identity holds on the real shingle arrays."""
    from data_ingestion_api_system_spark.operators.dedup import _SPARK_SHINGLES
    from data_ingestion_api_system_spark.tables import load_table

    out = qfn(spark, SF_DIR).select("doc_a", "doc_b", "jaccard")
    sh = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.expr(_SPARK_SHINGLES).alias("shingles"))
    )
    ref = _jaccard_by_union(spark, out.select("doc_a", "doc_b"), sh)
    joined = out.join(ref, ["doc_a", "doc_b"]).collect()
    assert len(joined) == out.count() > 0
    for r in joined:
        assert r["jaccard"] == r["jaccard_union"], (r["doc_a"], r["doc_b"])
