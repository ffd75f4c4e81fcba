#!/usr/bin/env python3
"""Registry-wide quantitative plan-shape budget — the shuffle ledger.

``audit_plans.py`` asserts hand-curated regex properties for the plans where
a specific shape is the point (pushdown reached THIS scan, THIS join
broadcasts). This tool is its quantitative complement: for EVERY registry
entry it counts the physical operators that decide 100 TB behavior —
shuffles by partitioning kind, join strategies, Python evals, sorts,
windows, cartesians — and diffs them against the committed budget
(``PLAN_BUDGET.json``). Any increase in a cost counter is a plan
regression and fails the gate, so a broadcast join silently flipping to
sort-merge, an extra Exchange sneaking into a rewrite, or a Python eval
landing in a hot path is caught on the whole registry without anyone
having written a regex for that entry.

Counters and gating:

- **cost counters** (increase = FAIL): ``shuffle_hash``, ``shuffle_range``,
  ``shuffle_single``, ``shuffle_rr``, ``cartesian``, ``bnlj``, ``smj``,
  ``shj``, ``python_eval``, ``sort``, ``window``. A decrease is an
  improvement — reported, exit 0, with a prompt to re-record.
- **context counters** (recorded, not gated): ``bhj``,
  ``broadcast_exchange``, ``reused_exchange``, ``generate``,
  ``takeordered``, ``scan``, ``wgl``. These move legitimately when a cost
  counter improves (SMJ → BHJ adds a BroadcastExchange; a rank filter
  becoming conjunctive adds WindowGroupLimit nodes — map-side top-k
  pruning, strictly beneficial, so WGL is context, not cost).
- **unbaselined entries** (in the registry but not the committed budget)
  also FAIL compare mode (ADVICE r12): a new operator must enter the
  ledger via ``--record`` the round it is born.

Counts come from the *detail section* of ``explain("formatted")`` (one
``(N) NodeName`` header per physical node, subquery sections included), so
they are exact node counts, not substring frequencies. Exchange kind is
classified from the node's ``Arguments:`` line. Plans are built at a pinned
sf_dir (default sf0.01) with the standard session factory, and each entry
is ISOLATED: before an entry's plan is built, all pins are released and
the session cache is cleared (``count_entry``). Without that, the cache
manager substitutes EARLIER entries' persisted subtrees into later plans,
so a later entry's count includes InMemoryRelation build-plan sections it
never asked for — the counter then measures accumulated session cache
state, not the entry's plan (VERDICT r13 #1: ``dedup_lsh_tuning_sweep``
showed 1 RoundRobin exchange in a fresh session but 2 in the shared
session). With per-entry isolation every count equals the fresh-session
count: an entry's OWN pins still render their cached build plan (that work
runs exactly once at execution, so it is real cost), but no foreign cache
state leaks in. AQE may later collapse some exchanges at runtime, which
only makes the recorded budget an upper bound.

Usage:
    python tools/plan_budget.py --record [sf_dir]   # write PLAN_BUDGET.json
    python tools/plan_budget.py [sf_dir]            # diff against committed
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

BUDGET_PATH = REPO / "PLAN_BUDGET.json"

# Detail-section node header: "(12) BroadcastHashJoin" (name may carry a
# trailing space, e.g. "Scan parquet "; AQE wrapper nodes count too —
# they are constant per plan and diff out).
_NODE = re.compile(r"^\((\d+)\) ([A-Za-z][A-Za-z0-9 ]*?)\s*(?:\[codegen.*)?$", re.M)

COST_KEYS = (
    "shuffle_hash shuffle_range shuffle_single shuffle_rr cartesian "
    "bnlj smj shj python_eval sort window"
).split()
CONTEXT_KEYS = (
    "bhj broadcast_exchange reused_exchange generate takeordered scan wgl"
).split()

_PY_NODES = {
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
    "AggregateInPandas",
    "MapInArrow",
}


def count_plan(plan: str) -> dict[str, int]:
    """Exact physical-node counts for one formatted plan string."""
    c = dict.fromkeys(COST_KEYS + CONTEXT_KEYS, 0)
    headers = list(_NODE.finditer(plan))
    for i, m in enumerate(headers):
        name = m.group(2).strip()
        if name == "Exchange":
            # classify from this node's detail block (up to the next header)
            end = headers[i + 1].start() if i + 1 < len(headers) else len(plan)
            block = plan[m.start() : end]
            if "hashpartitioning" in block:
                c["shuffle_hash"] += 1
            elif "rangepartitioning" in block:
                c["shuffle_range"] += 1
            elif "SinglePartition" in block:
                c["shuffle_single"] += 1
            elif "RoundRobinPartitioning" in block:
                c["shuffle_rr"] += 1
            else:  # unknown partitioning: count as hash (the costly default)
                c["shuffle_hash"] += 1
        elif name == "BroadcastExchange":
            c["broadcast_exchange"] += 1
        elif name == "ReusedExchange":
            c["reused_exchange"] += 1
        elif name == "CartesianProduct":
            c["cartesian"] += 1
        elif name == "BroadcastNestedLoopJoin":
            c["bnlj"] += 1
        elif name == "SortMergeJoin":
            c["smj"] += 1
        elif name == "ShuffledHashJoin":
            c["shj"] += 1
        elif name == "BroadcastHashJoin":
            c["bhj"] += 1
        elif name == "Sort":
            c["sort"] += 1
        elif name == "Window":
            c["window"] += 1
        elif name == "WindowGroupLimit":
            c["wgl"] += 1
        elif name == "Generate":
            c["generate"] += 1
        elif name == "TakeOrderedAndProject":
            c["takeordered"] += 1
        elif name in _PY_NODES:
            c["python_eval"] += 1
        elif name.startswith("Scan "):
            c["scan"] += 1
    return c


def count_entry(spark, fn, sf_dir: str) -> dict[str, int]:
    """Count ONE entry's plan, built with ``operators.fresh_build`` so it
    plans against a virgin cache — the isolation that makes counts equal
    fresh-session counts (see module docstring)."""
    from data_ingestion_api_system_spark.operators import fresh_build
    from data_ingestion_api_system_spark.plans import formatted_plan

    return count_plan(formatted_plan(fresh_build(spark, fn, sf_dir)))


def collect(sf_dir: str) -> dict[str, dict[str, int]]:
    import __spark_entry__ as entrymod
    from data_ingestion_api_system_spark.session import get_spark

    spark = get_spark("plan-budget")
    budgets: dict[str, dict[str, int]] = {}
    for name, fn in entrymod.queries().items():
        budgets[name] = count_entry(spark, fn, sf_dir)
    spark.stop()
    return budgets


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--record"]
    record = "--record" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"

    budgets = collect(sf_dir)
    totals = {k: sum(b[k] for b in budgets.values()) for k in COST_KEYS}
    heavy = sorted(
        budgets.items(),
        key=lambda kv: -(kv[1]["shuffle_hash"] + kv[1]["shuffle_range"]),
    )[:10]

    if record:
        BUDGET_PATH.write_text(
            json.dumps(
                {"_meta": {"sf_dir": sf_dir, "n": len(budgets), "totals": totals}}
                | budgets,
                indent=0,
                sort_keys=True,
            )
            + "\n"
        )
        print(f"recorded {len(budgets)} plan budgets -> {BUDGET_PATH.name}")
        print("registry totals:", json.dumps(totals))
        print("top shuffle-heavy:", ", ".join(f"{n}={b['shuffle_hash'] + b['shuffle_range']}" for n, b in heavy))
        return 0

    if not BUDGET_PATH.exists():
        print("no committed PLAN_BUDGET.json — run with --record first")
        return 1
    committed = json.loads(BUDGET_PATH.read_text())
    committed.pop("_meta", None)

    regressions: list[str] = []
    improvements: list[str] = []
    new_entries = [n for n in budgets if n not in committed]
    gone_entries = [n for n in committed if n not in budgets]
    for name, cur in budgets.items():
        base = committed.get(name)
        if base is None:
            continue
        for k in COST_KEYS:
            if cur[k] > base.get(k, 0):
                regressions.append(f"{name}.{k}: {base.get(k, 0)} -> {cur[k]}")
            elif cur[k] < base.get(k, 0):
                improvements.append(f"{name}.{k}: {base.get(k, 0)} -> {cur[k]}")

    for r in regressions:
        print(f"REGRESSION {r}")
    for i in improvements:
        print(f"improved   {i}")
    if new_entries:
        # Unbaselined entries FAIL the gate (ADVICE r12): a brand-new
        # expensive operator must enter the ledger the round it is born,
        # not ride ungated until someone remembers --record.
        print(f"UNBASELINED new entries (run --record to adopt): {new_entries}")
    if gone_entries:
        print(f"removed entries still in budget: {gone_entries}")
    print(
        f"plan-budget: {len(budgets)} plans, {len(regressions)} regressions, "
        f"{len(improvements)} improvements, {len(new_entries)} new; "
        f"totals={json.dumps(totals)}"
    )
    if improvements and not regressions:
        print("improvements only — re-record the budget to lock them in")
    return 1 if (regressions or new_entries) else 0


if __name__ == "__main__":
    raise SystemExit(main())
