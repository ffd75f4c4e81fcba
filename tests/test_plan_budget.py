"""The plan gate (tools/plan_gate.py) counts physical nodes from
explain("formatted") detail headers — these tests pin the parser against
both a synthetic plan string and a real plan built by the session, so a
Spark upgrade that reshapes explain output breaks loudly here instead of
silently zeroing the committed budget."""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from plan_gate import (  # noqa: E402
    CHECKS,
    CONTEXT_KEYS,
    COST_KEYS,
    UNPARTITIONED_WINDOW_ALLOWLIST,
    count_plan,
    mask_run_ids,
)

SF_DIR = "/root/testdata/sf0.001"

SYNTHETIC = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- HashAggregate (8)

(1) Scan parquet
Output [2]: [a#1L, b#2]
ReadSchema: struct<a:bigint,b:double>

(2) Exchange
Input [2]: [a#1L, b#2]
Arguments: hashpartitioning(a#1L, 32), ENSURE_REQUIREMENTS, [plan_id=1]

(3) Sort [codegen id : 2]
Arguments: [a#1L ASC NULLS FIRST], false, 0

(4) SortMergeJoin
Left keys [1]: [a#1L]

(5) Exchange
Arguments: rangepartitioning(a#1L ASC NULLS FIRST, 32), ENSURE_REQUIREMENTS

(6) Exchange
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]

(7) BroadcastExchange
Arguments: HashedRelationBroadcastMode(List(input[0, bigint, true]),false)

(8) BroadcastHashJoin
Left keys [1]: [a#1L]

(9) ArrowEvalPython
Arguments: [f(b#2)], [out#9], 200

(10) Window
Arguments: [rank(b#2) windowspecdefinition(a#1L, b#2 ASC NULLS FIRST, ...)]

(11) WindowGroupLimit
Arguments: [a#1L], [b#2 ASC NULLS FIRST], row_number(), 20, Partial
"""


def test_count_plan_synthetic():
    c = count_plan(SYNTHETIC)
    assert c["shuffle_hash"] == 1
    assert c["shuffle_range"] == 1
    assert c["shuffle_single"] == 1
    assert c["smj"] == 1
    assert c["bhj"] == 1
    assert c["broadcast_exchange"] == 1
    assert c["python_eval"] == 1
    assert c["sort"] == 1
    assert c["window"] == 1
    assert c["wgl"] == 1  # WindowGroupLimit is context (an optimization)
    assert c["scan"] == 1
    assert c["cartesian"] == 0


def test_count_plan_real_join(spark):
    """A real broadcast-join + groupBy plan must count >=1 shuffle_hash
    (the aggregation exchange), >=1 bhj, and 0 cartesian/python."""
    from pyspark.sql import functions as F

    from data_ingestion_api_system_spark.plans import formatted_plan

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    df = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    c = count_plan(formatted_plan(df))
    assert c["bhj"] == 2
    assert c["shuffle_hash"] >= 1
    assert c["cartesian"] == 0 and c["python_eval"] == 0
    assert c["scan"] == 3


def test_committed_budget_covers_registry():
    """PLAN_BUDGET.json must name exactly the registry's entries — a new
    operator landing without a --record leaves it unguarded, and a stale
    name means the record predates a rename. (Counter VALUES are checked
    by the round-end `plan_gate.py` compare, which builds real plans;
    this pin is the cheap structural half that runs in every suite.)"""
    import json

    from data_ingestion_api_system_spark.operators import collect_queries

    budget = json.loads(
        (Path(__file__).resolve().parent.parent / "PLAN_BUDGET.json").read_text()
    )
    meta = budget.pop("_meta")
    registry = set(collect_queries()[0])
    assert set(budget) == registry
    assert meta["n"] == len(registry)
    for counters in budget.values():
        assert set(counters) == set(COST_KEYS) | set(CONTEXT_KEYS)


def test_checks_and_allowlist_name_registry_entries():
    """Every curated check and every window-guard exception names a registry
    entry: a renamed entry would leave its check silently unrun, and a
    stale exception would skew the guard's "plans checked" count."""
    from data_ingestion_api_system_spark.operators import collect_queries

    registry = set(collect_queries()[0])
    assert set(CHECKS) <= registry, set(CHECKS) - registry
    assert UNPARTITIONED_WINDOW_ALLOWLIST <= registry, (
        UNPARTITIONED_WINDOW_ALLOWLIST - registry
    )


def test_budget_recorded_only_by_full_registry_run(
    spark, monkeypatch, tmp_path, capsys
):
    """--record with entry names exits 2 and writes nothing; a run over the
    whole registry (here a one-entry registry) records the budget, and a
    named run then prints only that entry's verdicts."""
    import json

    import __spark_entry__
    import plan_gate

    budget = tmp_path / "PLAN_BUDGET.json"
    monkeypatch.setattr(plan_gate, "BUDGET_PATH", budget)
    name = "sim_cosine_topk"
    monkeypatch.setattr("sys.argv", ["plan_gate.py", "--record", SF_DIR, name])
    assert plan_gate.main() == 2
    assert not budget.exists()

    one = {name: __spark_entry__.queries()[name]}
    monkeypatch.setattr(__spark_entry__, "queries", lambda: one)
    monkeypatch.setattr(plan_gate, "get_spark", lambda app_name: spark)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)  # shared session
    monkeypatch.setattr("sys.argv", ["plan_gate.py", "--record", SF_DIR])
    assert plan_gate.main() == 0
    assert json.loads(budget.read_text())["_meta"]["n"] == 1

    capsys.readouterr()
    monkeypatch.setattr("sys.argv", ["plan_gate.py", SF_DIR, name])
    assert plan_gate.main() == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0].startswith("plan-budget: 1 plans, 0 regressions")
    assert out[1:] == [
        f"OK   {name}",
        "window-guard: 1 plans checked, 0 un-partitioned windows, "
        "0 documented exceptions",
    ]


def test_mask_run_ids():
    """Plan dumps mask the ids that differ between two builds of one plan:
    exchange plan ids and localCheckpoint RDD numbers become N, and
    expression ids are renumbered by first appearance, so the same plan
    built after other work (every id shifted) masks to the same text."""
    plan = (
        "(1) Scan ExistingRDD\n"
        "Arguments: [src#1339L, dst#1340L], MapPartitionsRDD[131] at "
        "localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD\n"
        "(2) Exchange\n"
        "Arguments: hashpartitioning(dst#1340L, 32), ENSURE_REQUIREMENTS, "
        "[plan_id=5043]\n"
        "Results [2]: [src#1339L, count(1)#1338L AS n#1341L]\n"
        "Arguments: [a#1339L], ParallelCollectionRDD[7] at readRDDFromFile\n"
    )
    masked = (
        "(1) Scan ExistingRDD\n"
        "Arguments: [src#1L, dst#2L], MapPartitionsRDD[N] at "
        "localCheckpoint at NativeMethodAccessorImpl.java:0, ExistingRDD\n"
        "(2) Exchange\n"
        "Arguments: hashpartitioning(dst#2L, 32), ENSURE_REQUIREMENTS, "
        "[plan_id=N]\n"
        "Results [2]: [src#1L, count(1)#3L AS n#4L]\n"
        "Arguments: [a#1L], ParallelCollectionRDD[7] at readRDDFromFile\n"
    )
    assert mask_run_ids(plan) == masked
    shifted = re.sub(r"(?<=#)\d+", lambda m: str(int(m.group(0)) + 4), plan)
    assert mask_run_ids(shifted.replace("5043", "5051")) == masked


def test_count_entry_isolated_from_prior_cache_state(spark):
    """VERDICT r13 #1: the ledger's counts must not depend on which entries
    were planned earlier in the same session. Without the fresh_build
    isolation, a pin()-heavy earlier entry left persisted subtrees in the
    session cache; the cache manager substituted them into later plans and
    their InMemoryRelation build sections inflated the later entry's node
    counts (dedup_lsh_tuning_sweep counted 2 RoundRobin exchanges in the
    shared session vs 1 fresh). Pin it: count the sweep, deliberately plan
    the pin-heavy sibling in between, count the sweep again — identical."""
    import __spark_entry__ as entrymod
    from data_ingestion_api_system_spark.operators import fresh_build
    from data_ingestion_api_system_spark.plans import formatted_plan

    q = entrymod.queries()

    def count(name):
        return count_plan(formatted_plan(fresh_build(spark, q[name], SF_DIR)))

    first = count("dedup_lsh_tuning_sweep")
    count("dedup_lsh_verified")  # contamination source
    second = count("dedup_lsh_tuning_sweep")
    assert second == first


def test_cost_keys_cover_all_join_shuffle_kinds():
    # the gate's contract: every scale-negative operator class is a cost key
    for k in ("cartesian", "bnlj", "smj", "shj", "python_eval",
              "shuffle_hash", "shuffle_range", "shuffle_single",
              "shuffle_rr", "sort", "window"):
        assert k in COST_KEYS
