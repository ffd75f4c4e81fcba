"""Round-7 additions: the scale-safe distributed ntile (global_ntile) that
replaced the last un-partitioned WindowExec in the registry
(events_rfm_segmentation), and the registry-wide window-shape guard."""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

from data_ingestion_api_system_spark.operators import (
    global_ntile,
    release_pins,
)
from data_ingestion_api_system_spark.operators.events import (
    q_events_rfm_segmentation,
)
from data_ingestion_api_system_spark.plans import (
    formatted_plan,
    unpartitioned_windows,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release_pins_after():
    yield
    release_pins()


def _reference_ntile(spark, df, order_cols, n):
    w = Window.orderBy(*[F.asc(c) for c in order_cols])
    return df.select("*", F.ntile(n).over(w).alias("t"))


@pytest.mark.parametrize("n", [2, 3, 5, 8])
def test_global_ntile_matches_window_ntile(spark, n):
    # heavy ties on v (0 repeated 17×) force rank-tiebreak assignment —
    # the case a value-boundary bucketing could NOT reproduce
    rows = [(i, i % 7 if i < 40 else 0) for i in range(57)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = sorted(
        (r.id, r.t)
        for r in global_ntile(df, ["v", "id"], n, "t").collect()
    )
    exp = sorted(
        (r.id, r.t) for r in _reference_ntile(spark, df, ["v", "id"], n).collect()
    )
    assert got == exp


def test_global_ntile_fewer_rows_than_buckets(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    got = {r.id: r.t for r in global_ntile(df, ["id"], 5, "t").collect()}
    # SQL ntile with N < n: one row per bucket, buckets 1..N
    assert got == {1: 1, 2: 2, 3: 3}


def test_global_ntile_deterministic_across_materializations(spark):
    rows = [(i, (i * 37) % 11) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = global_ntile(df, ["v", "id"], 5, "t")
    first = sorted((r.id, r.t) for r in out.collect())
    second = sorted((r.id, r.t) for r in out.collect())
    assert first == second


def test_global_ntile_plan_has_no_window(spark):
    df = spark.createDataFrame([(i, i) for i in range(10)], "id long, v long")
    plan = formatted_plan(global_ntile(df, ["v", "id"], 5, "t"))
    assert unpartitioned_windows(plan) == []
    # stronger: the rank comes from the range layout + broadcast offsets,
    # not from any WindowExec at all
    assert " Window " not in plan


def test_rfm_segmentation_plan_is_scale_safe(spark):
    plan = formatted_plan(q_events_rfm_segmentation(spark, SF_DIR))
    assert unpartitioned_windows(plan) == []
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_rfm_segmentation_matches_exact_ntile_semantics(spark):
    """The operator's tile assignment must equal plain exact ntile over the
    same per-user rollup — re-derived here with the window form the
    production plan deliberately avoids."""
    out = q_events_rfm_segmentation(spark, SF_DIR)
    base = out.select("user_id", "recency_days", "n_events", "total_value")
    w_r = Window.orderBy(F.asc("recency_days"), F.asc("user_id"))
    w_f = Window.orderBy(F.asc("n_events"), F.asc("user_id"))
    w_m = Window.orderBy(F.asc("total_value"), F.asc("user_id"))
    exp = {
        r.user_id: (r.r, r.f, r.m)
        for r in base.select(
            "user_id",
            (6 - F.ntile(5).over(w_r)).alias("r"),
            F.ntile(5).over(w_f).alias("f"),
            F.ntile(5).over(w_m).alias("m"),
        ).collect()
    }
    got = {
        r.user_id: (r.r_score, r.f_score, r.m_score) for r in out.collect()
    }
    assert got == exp


def test_full_outer_reconcile_covers_both_sides(spark):
    from pyspark.sql import functions as F

    from data_ingestion_api_system_spark.operators.relational import (
        q_join_full_outer,
    )
    from data_ingestion_api_system_spark.tables import load_table

    out = q_join_full_outer(spark, SF_DIR)
    rich_n = load_table(spark, SF_DIR, "customer").filter("c_acctbal > 5000").count()
    active_n = (
        load_table(spark, SF_DIR, "orders")
        .filter("o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'")
        .select("o_custkey")
        .distinct()
        .count()
    )
    agg = out.agg(
        F.sum("in_rich").alias("r"),
        F.sum("in_active").alias("a"),
        F.sum((F.col("in_rich") == 0).cast("int") * (F.col("in_active") == 0).cast("int")).alias("neither"),
        F.count("*").alias("n"),
        F.countDistinct("custkey").alias("nk"),
    ).collect()[0]
    # full outer: every row of each input survives, no phantom rows
    assert agg.r == rich_n and agg.a == active_n
    assert agg.neither == 0
    assert agg.n == agg.nk  # custkey unique after coalesce
    # the test is only meaningful if BOTH unmatched sides are non-empty
    only_rich = out.filter("in_rich = 1 AND in_active = 0").count()
    only_active = out.filter("in_rich = 0 AND in_active = 1").count()
    assert only_rich > 0 and only_active > 0


def test_matryoshka_recall_invariants(spark):
    from data_ingestion_api_system_spark.operators.similarity import (
        RECALL_K,
        RECALL_QUERIES,
        q_sim_matryoshka_recall,
    )

    rows = q_sim_matryoshka_recall(spark, SF_DIR).collect()
    assert len(rows) == RECALL_QUERIES
    for r in rows:
        # both rankings always fill their k slots (corpus >> k)
        assert r.n_full == RECALL_K and r.n_trunc == RECALL_K
        assert 0 <= r.n_hits <= RECALL_K
        assert abs(r.recall_at_5 - r.n_hits / RECALL_K) < 1e-9
