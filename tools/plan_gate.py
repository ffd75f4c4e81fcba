#!/usr/bin/env python3
"""The registry's physical-plan gate: each entry's plan is built once and
read three ways.

Plan text is the ground truth for every scale claim this repo makes, so
each entry is built with ``operators.fresh_build`` and formatted once with
``plans.formatted_plan``; from that one string the tool computes:

- **The shuffle ledger** (``PLAN_BUDGET.json``). For EVERY registry entry
  it counts the physical operators that decide 100 TB behavior —
  shuffles by partitioning kind, join strategies, Python evals, sorts,
  windows, cartesians — and diffs them against the committed budget. Any
  increase in a cost counter is a plan regression and fails the gate, so
  a broadcast join silently flipping to sort-merge, an extra Exchange
  sneaking into a rewrite, or a Python eval landing in a hot path is
  caught on the whole registry without anyone having written a regex for
  that entry.
- **The curated checks** (``CHECKS``): hand-written must/must-not regexes
  for the plans where a specific shape is the point — filter pushdown
  reached the parquet scan (PushedFilters non-empty), column pruning
  happened (ReadSchema narrower than the table), a dimension side
  broadcasts, no unintended CartesianProduct/BroadcastNestedLoopJoin (the
  deliberate 1-row query-vector cross joins are allowlisted).
- **The window guard**: no entry outside
  ``UNPARTITIONED_WINDOW_ALLOWLIST`` may plan an un-partitioned window.

Ledger counters and gating:

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
the session cache is cleared (``fresh_build``). Without that, the cache
manager substitutes EARLIER entries' persisted subtrees into later plans,
so a later entry's plan includes InMemoryRelation build-plan sections it
never asked for — the counter then measures accumulated session cache
state, not the entry's plan (VERDICT r13 #1: ``dedup_lsh_tuning_sweep``
showed 1 RoundRobin exchange in a fresh session but 2 in the shared
session). With per-entry isolation every plan equals the fresh-session
plan: an entry's OWN pins still render their cached build plan (that work
runs exactly once at execution, so it is real cost), but no foreign cache
state leaks in. AQE may later collapse some exchanges at runtime, which
only makes the recorded budget an upper bound.

A run over named entries prints only those entries' verdicts; only a run
over the whole registry may ``--record`` the budget. ``--dump`` writes each
built plan to ``OUT_DIR/<name>_<SUFFIX>.txt`` (the per-round before/after
plan evidence under ``plans/r<N>/``), with the ids that change from run to
run masked (``mask_run_ids``) so two dumps of one commit are identical.

Usage:
    python tools/plan_gate.py [sf_dir] [name ...]       # gate (exit 1 on any FAIL)
    python tools/plan_gate.py --record [sf_dir]         # write PLAN_BUDGET.json
    python tools/plan_gate.py --dump OUT_DIR SUFFIX [sf_dir] [name ...]
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tool_args import split_sf_dir  # noqa: E402  (tools/ sibling)
from data_ingestion_api_system_spark.operators import (  # noqa: E402
    fresh_build,
    release_pins,
)
from data_ingestion_api_system_spark.plans import (  # noqa: E402
    check_plan,
    formatted_plan,
    unpartitioned_windows,
)
from data_ingestion_api_system_spark.session import get_spark  # noqa: E402

BUDGET_PATH = REPO / "PLAN_BUDGET.json"
DEFAULT_SF_DIR = "/root/testdata/sf0.01"

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

# node name -> counter, for every node but Exchange and Scan
_NODE_KEYS = {
    "BroadcastExchange": "broadcast_exchange",
    "ReusedExchange": "reused_exchange",
    "CartesianProduct": "cartesian",
    "BroadcastNestedLoopJoin": "bnlj",
    "SortMergeJoin": "smj",
    "ShuffledHashJoin": "shj",
    "BroadcastHashJoin": "bhj",
    "Sort": "sort",
    "Window": "window",
    "WindowGroupLimit": "wgl",
    "Generate": "generate",
    "TakeOrderedAndProject": "takeordered",
} | dict.fromkeys(
    (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInPandasWithState",
        "AggregateInPandas",
        "MapInArrow",
    ),
    "python_eval",
)

# Exchange kind: the first of these partitionings found in its block
_EXCHANGE_KEYS = (
    ("hashpartitioning", "shuffle_hash"),
    ("rangepartitioning", "shuffle_range"),
    ("SinglePartition", "shuffle_single"),
    ("RoundRobinPartitioning", "shuffle_rr"),
)

# Ids that differ between two builds of the same plan: exchange plan ids,
# and the RDD number of a localCheckpoint scan (connected_components
# checkpoints while the plan is built). Expression ids (``#123``) come from
# a JVM-wide counter, so they also shift with whatever ran earlier; they
# are renumbered in order of first appearance, which keeps which attribute
# is which.
_RUN_IDS = re.compile(r"(?<=plan_id=)\d+|(?<=RDD\[)\d+(?=\] at localCheckpoint)")
_EXPR_ID = re.compile(r"(?<=#)\d+")


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
            # unknown partitioning: count as hash (the costly default)
            key = next((k for s, k in _EXCHANGE_KEYS if s in block), "shuffle_hash")
        elif name.startswith("Scan "):
            key = "scan"
        else:
            key = _NODE_KEYS.get(name)
        if key:
            c[key] += 1
    return c


def mask_run_ids(plan: str) -> str:
    """``plan`` with the run-to-run ids (``_RUN_IDS``) replaced by ``N`` and
    the expression ids renumbered from 1."""
    ids: dict[str, int] = {}
    return _EXPR_ID.sub(
        lambda m: str(ids.setdefault(m.group(0), len(ids) + 1)),
        _RUN_IDS.sub("N", plan),
    )


# query → (must_match regexes, must_not_match regexes) over the formatted plan
CHECKS: dict[str, tuple[list[str], list[str]]] = {
    "tpch_q1_pricing_summary": (
        [r"PushedFilters: \[.*l_shipdate", r"partial_sum"],
        [r"CartesianProduct"],
    ),
    "tpch_q3_shipping_priority": (
        [r"BroadcastHashJoin", r"PushedFilters: \[.*c_mktsegment", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "tpch_q5_local_supplier": (
        [r"BroadcastHashJoin", r"PushedFilters: \[.*o_orderdate"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "tpch_q6_forecast_revenue": (
        [
            r"PushedFilters: \[.*l_shipdate.*l_discount.*l_quantity",
            r"ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate",
        ],
        [r"Exchange hashpartitioning"],  # scalar agg needs only SinglePartition
    ),
    "tpch_q10_returned_items": (
        [r"BroadcastHashJoin", r"PushedFilters: \[.*l_returnflag", r"TakeOrderedAndProject"],
        [r"CartesianProduct"],
    ),
    "window_topk_per_group": (
        [r"WindowGroupLimit"],  # rank filter pushed into the window sort
        [r"CartesianProduct"],
    ),
    "pipeline_status_rollup": (
        # bool_and/bool_or are rewritten to min/max over booleans — the
        # partial (map-side) aggregation is what we assert
        [r"partial_min", r"partial_max", r"PushedFilters"],
        [r"CartesianProduct"],
    ),
    "dedup_minhash_lsh": (
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    # query-vector cross joins are 1-row broadcasts — BNLJ is the right plan
    "sim_cosine_topk": ([r"BroadcastNestedLoopJoin|CartesianProduct"], []),
    "sim_bitext_margin": (
        # pinned pair table (built once), map-side partial top-k under
        # both per-side kNN windows, per-vector stats broadcast back;
        # the X×Y scorer is a deliberate broadcast cross (small side
        # broadcast — the pool-builder at bench SF, docstring)
        [r"InMemoryRelation", r"WindowGroupLimit", r"BroadcastHashJoin"],
        [r"CartesianProduct"],
    ),
    "asof_join_attribution": (
        # union+window as-of: one shuffle on user_id, no pairwise join
        [r"Window", r"Union"],
        [r"SortMergeJoin", r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "events_sessionize": (
        [r"Window", r"partial_count|partial_sum"],
        [r"CartesianProduct"],
    ),
    "salted_aggregation": (
        # two aggregation layers: (key,salt) partials then per-key merge
        [r"partial_sum", r"HashAggregate"],
        [r"CartesianProduct"],
    ),
    "tpch_q17_small_qty_revenue": (
        [r"BroadcastHashJoin", r"partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "dedup_lsh_verified": (
        # candidates equi-join + metadata joins; never a cartesian
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "sim_kmeans_step": (
        # centroids broadcast (k rows); partial agg on the update
        [r"BroadcastNestedLoopJoin", r"partial_count"],
        [r"SortMergeJoin"],
    ),
    "text_sequence_pack": (
        # grouped TeraSort cumsum since round 12: one RANGE exchange, the
        # running sum windowed by derived partition id (well-spread),
        # broadcast prefix offsets; then the per-bin partial-agg rollup
        [r"Window", r"rangepartitioning", r"partial_sum|partial_count"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "text_stratified_sample": (
        # narrow hash gate + one partial agg; no join at all
        [r"partial_sum|partial_count"],
        [r"Join", r"CartesianProduct"],
    ),
    "text_pii_redact": (
        # pure narrow pass: project over the scan — no keyed shuffle, no
        # join (the only Exchange is spread()'s round-robin single-file
        # compensation, a no-op on a real multi-split layout)
        [r"Project"],
        [r"Exchange hashpartitioning", r"Join"],
    ),
    "range_join_binned": (
        # the whole point: the interval join runs as a broadcast EQUI-join
        # on the bin + residual filter, never a nested-loop theta join
        [r"BroadcastHashJoin", r"partial_count"],
        [r"BroadcastNestedLoopJoin", r"CartesianProduct"],
    ),
    "sketch_count_min": (
        # constant-size shuffle: counter grid partial-aggregated map-side
        [r"partial_count", r"HashAggregate"],
        [r"CartesianProduct"],
    ),
    "prep_training_mix": (
        # fingerprint/simhash min windows are keyed; the budget running
        # sum is the grouped TeraSort cumsum since round 12 — one RANGE
        # exchange plus broadcast prefix-offset joins (metadata-sized, so
        # broadcast is the only acceptable join strategy here)
        [r"Window", r"rangepartitioning", r"BroadcastHashJoin"],
        [r"SortMergeJoin", r"CartesianProduct"],
    ),
    "text_bigram_coherence": (
        # corpus count tables joined back on (w1,w2)/(w1): hash/SM joins
        # with map-side partial counts; never a cartesian
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "events_gap_fill": (
        # partial-agg hourly rollup, per-user grid explode, LOCF window
        [r"Generate", r"Window", r"partial_sum|partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "sim_kmeans_train": (
        # k-row centroid broadcast per round (BNLJ is the right plan for a
        # 4-row side with no equi-key); updates partial-aggregate map-side
        [r"BroadcastNestedLoopJoin", r"partial_count"],
        [r"CartesianProduct"],
    ),
    "events_funnel": (
        # conditional min-aggs keyed by user_id; stage joins are per-user
        # equi-joins, never row-multiplying
        [r"partial_min", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "events_anomaly": (
        # two-level partial agg (bucket then moments) + top-k, no sort
        [r"partial_count|partial_sum", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "orders_scd2": (
        # one window shuffle on custkey, nothing else
        [r"Window"],
        [r"Join", r"CartesianProduct"],
    ),
    "rollup_incremental": (
        # both halves partial-aggregate before the union-merge; no join
        [r"partial_count|partial_sum", r"Union"],
        [r"Join", r"CartesianProduct"],
    ),
    "group_median": (
        # exact percentile is a sort-based agg but still partial+final
        [r"partial_percentile|partial_count"],
        [r"Join", r"CartesianProduct"],
    ),
    "graph_pagerank": (
        # per-round (dst, contribution) partial agg; all joins keyed
        [r"partial_sum", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "dq_constraint_report": (
        # one union plan; checks aggregate map-side, anti-join for RI
        [r"Union", r"partial_sum|partial_count"],
        [r"CartesianProduct"],
    ),
    "cohort_retention": (
        # first-activity partial-min, user-keyed cohort join, cell rollup
        [r"partial_min", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "train_test_split": (
        # pure hash gate + partial aggs; the only join is the tiny
        # per-lang totals broadcast
        [r"partial_count|partial_sum"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "fuzzy_name_match": (
        # probe set broadcasts (BNLJ is the right plan for a 5-row side
        # with no equi-key); per-probe argmin via WindowGroupLimit
        [r"BroadcastNestedLoopJoin", r"WindowGroupLimit|Window"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "prep_decontaminate": (
        # the benchmark n-gram set broadcasts; the corpus-side overlap
        # count partial-aggregates map-side before the doc_id shuffle
        [r"BroadcastHashJoin", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "text_repetition_score": (
        # zero-shuffle narrow map: all Gopher signals are per-row array
        # expressions (the only Exchange is spread()'s round-robin
        # single-file compensation)
        [r"Project"],
        [r"Exchange hashpartitioning", r"Join", r"CartesianProduct"],
    ),
    "text_chunk_windows": (
        # overlapping-window chunker: tokenize + enumerate + explode is a
        # pure narrow Generate — no keyed shuffle, no join
        [r"Generate"],
        [r"Exchange hashpartitioning", r"Join", r"CartesianProduct"],
    ),
    "prep_temperature_mix": (
        # corpus stats partial-aggregate map-side to O(#langs) rows; the
        # window math runs on that tiny set only
        [r"partial_count|partial_sum", r"Window"],
        [r"Join", r"CartesianProduct"],
    ),
    "window_time_range_frame": (
        # one user_id shuffle into a RANGE-frame window; no join
        [r"Window", r"hashpartitioning\(user_id"],
        [r"Join", r"CartesianProduct"],
    ),
    "text_tfidf_topk": (
        # df table joined back keyed (AQE may broadcast it); per-doc top-k
        # runs as a group-limit heap, not a full per-doc sort
        [
            r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
            r"partial_count",
            r"WindowGroupLimit",
        ],
        [r"CartesianProduct"],
    ),
    "text_cross_doc_spans": (
        # span-keyed count joined back, then the doc_id re-aggregation;
        # counts partial-aggregate map-side, never a cartesian
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "sim_pq_codes": (
        # the 16-row codebook broadcasts; the only keyed exchange is the
        # (vec_id, s) argmin window + final vec_id regroup
        [r"BroadcastHashJoin", r"Window"],
        [r"CartesianProduct", r"SortMergeJoin", r"BroadcastNestedLoopJoin"],
    ),
    "sketch_histogram_quantiles": (
        # bin counts partial-aggregate map-side; everything after runs on
        # the 64-row sketch (the 3-row probe crossJoin is a broadcast BNLJ
        # over that sketch — allowed by design, never the corpus)
        [r"partial_count", r"Window"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "multimodal_resize": (
        # Arrow mapInPandas pass — no keyed shuffle, no join (the only
        # Exchange is spread()'s single-file compensation)
        [r"MapInPandas|ArrowEvalPython|PythonMapInArrow"],
        [r"Exchange hashpartitioning", r"Join", r"CartesianProduct"],
    ),
    "text_perplexity_ngram": (
        # bigram/prefix counts partial-aggregate map-side, joined back
        # keyed; the vocabulary scalar is a 1-row broadcast (BNLJ over one
        # row is fine), never a corpus cartesian
        [
            r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
            r"partial_count",
        ],
        [r"CartesianProduct"],
    ),
    "sim_recall_eval": (
        # 8-query batch broadcasts against the corpus (BNLJ by design,
        # ONE pass); both rankings are rank COLUMNS of that pass and the
        # counts fall out of one aggregation — a self-join of the scored
        # set (which would re-run the corpus pass) is forbidden
        [r"BroadcastNestedLoopJoin", r"Window"],
        [r"CartesianProduct", r"SortMergeJoin", r"ShuffledHashJoin"],
    ),
    "sketch_bloom_membership": (
        # the bit set (≤65536 rows) broadcasts to the probe side — the
        # runtime-join-filter shape; build/probe counts partial-aggregate
        [r"BroadcastHashJoin", r"partial_count|partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "events_markov_transitions": (
        # one user_id shuffle for the lag window; the matrix count
        # partial-aggregates map-side; no join anywhere
        [r"Window", r"hashpartitioning\(user_id", r"partial_count"],
        [r"Join", r"CartesianProduct"],
    ),
    "basket_brand_pairs": (
        # pair expansion is a narrow Generate after the basket aggregate —
        # never a fact self-join; the 1-row n_orders crossJoin broadcasts
        [r"Generate", r"partial_count"],
        [r"CartesianProduct"],
    ),
    "graph_triangle_count": (
        # wedge + closing-edge are hash equi-joins over the edge table —
        # no enumeration of non-edges, no cartesian
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", r"partial_count"],
        [r"CartesianProduct"],
    ),
    "events_rfm_segmentation": (
        # one user_id aggregate shuffle, then global_ntile per dimension:
        # range-partitioned rank + broadcast offset joins — NO WindowExec
        # at all (the former un-partitioned ntile windows are gone; the
        # registry-wide guard below would reject them)
        [r"BroadcastHashJoin", r"partial_count|partial_max"],
        [r"CartesianProduct", r"\bWindow\b"],
    ),
    "text_weighted_sample": (
        # A-ES sampling is a narrow map + TakeOrdered — per-partition
        # top-k partials merge, never a global sort, never a join
        [r"TakeOrderedAndProject"],
        [r"Join", r"CartesianProduct", r"Exchange hashpartitioning"],
    ),
    "join_full_outer_reconcile": (
        # full outer keeps unmatched rows on BOTH sides, so neither side
        # may broadcast: Spark must plan a shuffle join in FullOuter mode;
        # the order rollup under it partial-aggregates map-side
        [r"FullOuter", r"SortMergeJoin|ShuffledHashJoin", r"partial_count|partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "sim_matryoshka_recall": (
        # one corpus scan: the 8-row query batch broadcasts (BNLJ is the
        # right plan for a tiny-side cross join); both rankings are
        # query-partitioned windows over the same pass (the rank feeds a
        # boolean flag, not a filter, so no WindowGroupLimit — the window
        # input is |queries|-bounded either way)
        [r"BroadcastNestedLoopJoin", r"hashpartitioning\(query_id"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "text_inverted_index": (
        # (term,doc_id) dedupe + term stats are two-phase count aggregates
        # (no set buffers); the posting cap runs as a WindowGroupLimit so
        # hot terms never build an unbounded aggregation buffer
        [r"HashAggregate", r"hashpartitioning\(term", r"WindowGroupLimit"],
        [r"CartesianProduct"],
    ),
    "cdc_apply_log": (
        # one user_id exchange feeds the top-1 window and the op counters
        [r"hashpartitioning\(user_id", r"Window"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "attribution_multi_touch": (
        # event_type predicates reach the scan; everything keys on user_id
        [r"PushedFilters: \[.*event_type", r"hashpartitioning\(user_id"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "events_decay_value": (
        # per-user rollup is the only keyed exchange (the 1-row anchor
        # rides a deliberate broadcast cross join)
        [r"hashpartitioning\(user_id", r"BroadcastExchange"],
        [r"CartesianProduct"],
    ),
    "dq_skew_report": (
        # column pruning: each key pass reads exactly one column
        [
            r"ReadSchema: struct<l_orderkey:bigint>",
            r"ReadSchema: struct<l_partkey:bigint>",
            r"ReadSchema: struct<l_suppkey:bigint>",
            r"partial_count",
        ],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "revenue_share_hier": (
        # dims broadcast (at sf0.01 Catalyst broadcasts the whole
        # orders+dims side — at real scale AQE falls back to a hash join
        # on orderkey); the rollup keys on the dimension domain
        [r"BroadcastHashJoin", r"hashpartitioning\(r_name"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "prep_source_kl_drift": (
        # ONE corpus tokenize pass: the pinned (source,w) count table
        # (InMemoryTableScan) feeds the marginals, which re-aggregate
        # counts (vocabulary-sized shuffles) — the corpus is never re-read
        [r"hashpartitioning\(source", r"InMemoryTableScan", r"BroadcastHashJoin"],
        [r"CartesianProduct"],
    ),
    "multimodal_phash_dedup": (
        # the Python fingerprint extractor runs once (pinned) and the
        # candidate stage is an equi-join, never all-pairs
        [r"MapInPandas", r"InMemoryTableScan", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "layout_zorder_skipping": (
        # one scan → stack generator → ONE constant-width (≤128 group)
        # hash agg; the only non-equi joins are the 1-row min/max bounds
        # broadcasts (BNLJ by design); no row-level shuffle-heavy join
        [r"Generate", r"partial_min|partial_count", r"BroadcastNestedLoopJoin"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "sketch_hll_union_rollup": (
        # mergeable HLL sketches: ObjectHashAggregate with partial
        # hll_sketch_agg/hll_union_agg (map-side combinable registers);
        # the exact-twin join is keyed, never all-pairs
        [r"ObjectHashAggregate", r"hll_union_agg|hll_sketch_agg"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "sim_ndcg_eval": (
        # same one-scored-pass contract as sim_recall_eval: query batch
        # broadcasts (BNLJ), both rankings are window COLUMNS of that
        # single pass, metrics fall out of one aggregation
        [r"BroadcastNestedLoopJoin", r"Window"],
        [r"CartesianProduct", r"SortMergeJoin", r"ShuffledHashJoin"],
    ),
    "events_ts_features": (
        # ONE user_id exchange + ONE sort feeding a single WindowExec
        # evaluating all five feature frames; no joins anywhere
        [r"Window", r"hashpartitioning\(user_id"],
        [r"Join", r"CartesianProduct"],
    ),
    "orders_backlog_sweep": (
        # sweep-line: keyed order join, day-level partial_sum agg, the
        # bounded month-offset side broadcasts back (BroadcastHashJoin)
        [r"partial_sum", r"Window", r"BroadcastHashJoin"],
        [r"CartesianProduct"],
    ),
    "join_incremental_delta": (
        # IVM decomposition: four keyed join branches union-merged with
        # partial aggregation before the final rollup; never all-pairs
        [r"Union", r"partial_sum|partial_count",
         r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "events_path_mining": (
        # sequence linearized by ONE user_id window (no log self-join);
        # path counts aggregate map-side into a |types|³-bounded output
        [r"Window", r"hashpartitioning\(user_id"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "sim_centroid_drift": (
        # posexplode fan-out then (label, dim)-bounded hash agg; the only
        # join is the tiny per-label counts↔geometry merge — no pairwise
        # work, no windows
        [r"Generate", r"partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window"],
    ),
    "text_ngram_novelty": (
        # distinct (doc, shingle) → min(doc_id) per shingle reusing the
        # shingle partitioning → keyed join back; one BIGINT of state per
        # shingle regardless of Zipf skew
        [r"partial_min", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "events_ab_test": (
        # distinct shuffles keyed on (event_type, user_id) / user_id; arm
        # totals are a broadcast of a 2-value aggregate — no windows, no
        # unkeyed joins beyond the 1-row broadcast
        [r"partial_count|partial_sum", r"BroadcastNestedLoopJoin|BroadcastExchange"],
        [r"CartesianProduct", r"Window"],
    ),
    "events_linreg_trend": (
        # (type, day)-keyed map-side-combined agg → |types|-row rollup;
        # the min-day scalar joins via 1-row broadcast
        [r"partial_count", r"partial_sum", r"BroadcastExchange"],
        [r"CartesianProduct", r"Window", r"SortMergeJoin"],
    ),
    "layout_compaction_bins": (
        # metadata-scale plan: map-side-combined (type, day) agg, then the
        # sorted-fill window over the bounded file list (allowlisted) and
        # a <= COMPACT_BINS-row rollup
        [r"partial_count", r"Window"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "sketch_join_size_estimate": (
        # two constant-width sketch aggs (map-side combine to depth*width
        # rows) + the exact-twin keyed join; sketch-sketch merge is a
        # bounded hash join
        [r"partial_count", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct"],
    ),
    "events_cusum_changepoint": (
        # per-type prefix-sum + max-rank windows, both PARTITIONED by
        # event_type; totals join back by broadcast
        [r"Window", r"partial_count", r"BroadcastHashJoin|BroadcastExchange"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "dq_mad_outliers": (
        # two percentile aggregations + broadcast joins of the |types|-row
        # median/MAD tables back onto events — no windows, no shuffle of
        # the fact beyond the keyed aggs
        [r"percentile", r"BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window"],
    ),
    "events_seasonal_backtest": (
        # metadata-scale self-joins of the (type, day) daily table on the
        # shifted date key
        [r"partial_count", r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window"],
    ),
    "text_entropy_score": (
        # (doc, word) map-side-combined count, N-per-doc window on the
        # doc_id exchange, final doc rollup
        [r"partial_count", r"Window", r"hashpartitioning\(doc_id"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "sim_pq_adc_search": (
        # codebook + LUT broadcast; code-assignment window keyed on
        # (vec_id, s); exact-distance audit joins only the top-k rows.
        # the sole nested-loop is the 1-row query-vector broadcast
        [r"Window", r"BroadcastHashJoin", r"TakeOrderedAndProject"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "events_streaks": (
        # one (user, day) distinct shuffle; the islands window and the
        # rollups all partition by user_id
        [r"Window", r"hashpartitioning\(user_id"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"SortMergeJoin"],
    ),
    "events_dau_wau": (
        # (user, day) distinct + bounded 7x offset explode; both branches
        # aggregate map-side and join keyed on day — no per-day rescan
        [r"Generate", r"partial_count"],
        [r"CartesianProduct", r"Window"],
    ),
    "io_partitioned_roundtrip": (
        # the read-back scan must prune at the DIRECTORY level: the
        # event_type filter appears as PartitionFilters, and the scan
        # reads no event_type data column (it comes from the path)
        [r"PartitionFilters: \[[^\]]*event_type", r"partial_count"],
        [r"CartesianProduct", r"Window", r"SortMergeJoin"],
    ),
    "events_interval_merge": (
        # both gaps-and-islands windows must share the one user_id
        # exchange; the span rollup partial-aggregates map-side
        [r"Window", r"partial_count|partial_sum"],
        [r"CartesianProduct", r"SortMergeJoin", r"BroadcastNestedLoopJoin"],
    ),
    "orders_pareto_frontier": (
        # skyline = one priority-partitioned running-max window over the
        # scan; the O(n^2) dominance join must NOT appear
        [r"Window", r"ReadSchema: struct<o_orderkey"],
        [r"CartesianProduct", r"SortMergeJoin", r"BroadcastNestedLoopJoin"],
    ),
    "graph_label_prop": (
        # per-round vote join is an equi-join on dst; votes partial-count
        # map-side before the argmax rank
        [r"HashJoin", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "text_length_buckets": (
        # ladder bucketing partial-aggregates map-side; the global-max
        # baseline joins as a broadcast 1-row scalar (BNLJ allowed)
        [r"partial_count|partial_sum"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "sketch_heavy_hitters": (
        # MG candidates come from the Arrow mapInPandas pass; the exact
        # verify joins the broadcast candidate set against the fact scan
        [r"MapInPandas", r"BroadcastHashJoin", r"partial_count"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "dq_benford_check": (
        # one narrow map + 9-group partial agg; total joins as a
        # broadcast scalar
        [r"partial_count"],
        [r"CartesianProduct", r"SortMergeJoin", r"Window"],
    ),
    "io_csv_roundtrip": (
        # read-back is a csv scan under a DECLARED schema (no inference
        # pass); aggregate partial-combines map-side
        [r"(?i)csv", r"partial_count"],
        [r"CartesianProduct", r"SortMergeJoin", r"Window"],
    ),
    "multimodal_audio_windows": (
        # 1->N window expansion inside Arrow batches, then one doc_id
        # keyed rollup — no join anywhere
        [r"MapInPandas", r"partial_count|partial_max"],
        [r"CartesianProduct", r"SortMergeJoin", r"BroadcastNestedLoopJoin"],
    ),
    "orders_abc_classification": (
        # TeraSort-style global running sum: ONE range exchange, the
        # cumulative window partitioned by the derived partition id (the
        # registry window-guard verifies no SinglePartition WindowExec)
        [r"rangepartitioning", r"Window"],
        [r"CartesianProduct", r"SortMergeJoin"],
    ),
    "graph_common_neighbors": (
        # wedge equi-join on the shared endpoint + degree joins — all
        # hash joins over the bounded edge table
        [r"HashJoin", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "io_json_roundtrip": (
        # read-back is a json scan under a DECLARED nested schema
        [r"(?i)json", r"partial_count"],
        [r"CartesianProduct", r"SortMergeJoin", r"Window"],
    ),
    "sql_lateral_topk": (
        # Catalyst must DECORRELATE the lateral subquery into a join +
        # per-nation rank — a per-outer-row re-execution (nested loop)
        # would be the non-scalable plan
        [r"Window|WindowGroupLimit", r"HashJoin"],
        [r"CartesianProduct"],
    ),
    "orders_cohort_ltv": (
        # first-order min agg + custkey join + cohort-partitioned
        # cumulative window (guard verifies it's partitioned)
        [r"partial_min", r"Window", r"HashJoin|SortMergeJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "text_rake_keyphrases": (
        # phrase-id window, corpus word stats partial-agg, scoring join,
        # per-doc top-3 as a rank filter
        [r"Window", r"partial_count", r"HashJoin|SortMergeJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "dedup_lsh_tuning_sweep": (
        # every config's candidates come from the banded equi-join (same
        # shape as the production LSH path), never an all-pairs product;
        # the one BNLJ in the plan is the broadcast 1-row pooled-total
        # scalar (same allowance as the sim query-vector joins)
        [r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", r"partial_count"],
        [r"CartesianProduct"],
    ),
    "sim_ivf_nprobe_sweep": (
        # one scored pass (query-vector BNLJ broadcast, allowed like every
        # sim entry), per-nprobe top-5 partitioned by nprobe, exact top-5
        # as TakeOrderedAndProject — no global window, no cartesian
        [r"TakeOrderedAndProject", r"Window", r"partial_count"],
        [r"CartesianProduct"],
    ),
    "join_salted_skew": (
        # dim replication is a bounded Generate; the join is an EQUI-join
        # on (key, salt) — the whole point is no hot-key single reducer
        [r"Generate", r"HashJoin|SortMergeJoin", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "text_tokenizer_fertility": (
        # one scan, narrow per-doc ratios, (lang, source) partial agg
        [r"partial_count|partial_sum"],
        [r"CartesianProduct", r"Join", r"Window"],
    ),
    "io_orc_roundtrip": (
        # read-back side of the certified ORC sink: a real ORC scan under
        # the declared schema, partial-agg rollup
        [r"Scan orc", r"partial_count|partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "sketch_kmv_distinct": (
        # k-min order statistics via PARTITIONED windows (type[, day]) over
        # distinct hashes; three per-type branches hash-join back together
        [r"Window", r"HashAggregate", r"HashJoin|SortMergeJoin"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "text_pmi_collocations": (
        # vocabulary-sized aggs, support filter before the unigram joins,
        # top-k never a full sort; the one BNLJ is the broadcast 1-row
        # corpus-total scalar (standard allowance)
        [r"TakeOrderedAndProject", r"partial_count", r"HashJoin|SortMergeJoin"],
        [r"CartesianProduct"],
    ),
    "graph_katz_centrality": (
        # fixed 2-step unroll: equi-join + partial-agg per walk length,
        # no window, no pairwise blowup
        [r"HashJoin|SortMergeJoin", r"partial_sum|partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin", r"Window"],
    ),
    "text_zipf_fit": (
        # token explode partial-aggregates to the vocab table; the
        # per-lang frequency rank is the grouped TeraSort recipe (r13,
        # ADVICE r12): range exchange + broadcast metadata rebasing —
        # NO window funnels a language through one sort task
        [r"rangepartitioning", r"BroadcastHashJoin", r"partial_count"],
        [r"Window", r"CartesianProduct", r"SortMergeJoin"],
    ),
    "sim_rank_fusion": (
        # the whole point of the round-12 review fix: both source
        # rankings carry conjunctive rank filters so WindowGroupLimit
        # plans map-side Partial pruning; the pool merge is the full-outer
        # SMJ (full outer cannot broadcast; both sides pool-sized)
        [r"WindowGroupLimit", r"SortMergeJoin FullOuter"],
        [r"CartesianProduct"],
    ),
    "events_gini_concentration": (
        # grouped TeraSort rank: one RANGE exchange, broadcast metadata
        # rebasing joins, map-side-combinable decimal fold — NO window
        [r"rangepartitioning", r"BroadcastHashJoin", r"partial_count|partial_sum"],
        [r"Window", r"CartesianProduct", r"SortMergeJoin"],
    ),
    "sim_mmr_diversify": (
        # r14 fold: pool construction is a top-k (TakeOrderedAndProject);
        # the selection runs as ONE aggregate() expression over collected
        # pool/pairs arrays (ObjectHashAggregate collect + Generate
        # explode of the picks) — the former Union-of-top-1-steps unroll
        # is GONE and must stay gone (a Union reappearing means the
        # 827 KB unrolled plan is back). This expectation was stale for
        # one round (still required the pre-fold Union); fixed r15.
        [r"TakeOrderedAndProject", r"ObjectHashAggregate", r"Generate"],
        [r"CartesianProduct", r"Union"],
    ),
    "dedup_exact_substr": (
        # passage enumeration is a Generate; the fingerprint group-by and
        # the instance→owner probe share the fp key (partial-agg both
        # sides); no window, no pairwise blowup anywhere
        [r"Generate", r"partial_count|partial_min", r"HashJoin|SortMergeJoin"],
        [r"Window", r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "prep_domain_caps": (
        # keep-set is row_number ≤ cap → WindowGroupLimit prunes map-side
        # to cap rows per domain before the exchange; totals/kept join is
        # per-domain metadata (broadcast)
        [r"WindowGroupLimit", r"HashJoin|SortMergeJoin", r"partial_count"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "text_quality_calibration": (
        # corpus folds to a 2×N_BINS histogram first (partial agg); the
        # threshold sweep is a broadcast ≥-join of bounded metadata (the
        # BNLJ is the point — it never touches the corpus); no window
        [r"BroadcastNestedLoopJoin", r"partial_count"],
        [r"Window", r"CartesianProduct", r"SortMergeJoin"],
    ),
    "text_hashed_classifier": (
        # feature hashing: the train side collapses to a 256-bucket count
        # table (partial agg), weights broadcast back onto the token
        # stream, per-doc fold keyed on doc_id; no window, no vocabulary
        # materialization
        [r"Generate", r"BroadcastHashJoin", r"partial_count|partial_sum"],
        [r"Window", r"CartesianProduct", r"SortMergeJoin"],
    ),
    "prep_doremi_step": (
        # kl_drift's exact front (one corpus-sized (source,word) agg,
        # broadcast totals) + |sources|-row multiplicative-weights tail;
        # the BNLJs are the broadcast one-row totals (standard allowance)
        [r"HashAggregate", r"BroadcastHashJoin"],
        [r"Window", r"CartesianProduct", r"SortMergeJoin"],
    ),
    "text_boilerplate_passages": (
        # passage Generate; the doc-frequency distinct expands two-phase
        # (partial agg both levels); the instance→frequency probe is a
        # hash join on the same fp key — no window, no pairwise blowup
        [r"Generate", r"partial_count", r"HashJoin|SortMergeJoin"],
        [r"Window", r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "dq_k_anonymity": (
        # QI-domain-bounded group-by partials map-side; the one BNLJ is
        # the broadcast one-row total for the share (standard allowance);
        # no window, no data-sized join
        [r"partial_count", r"BroadcastNestedLoopJoin"],
        [r"Window", r"CartesianProduct", r"SortMergeJoin"],
    ),
    "graph_adamic_adar": (
        # TOP_EDGES front (TakeOrderedAndProject); wedge equi-join with
        # the inverse-log weight on the probe side; (wa, wb) partial agg
        [r"TakeOrderedAndProject", r"HashJoin|SortMergeJoin",
         r"partial_count|partial_sum"],
        [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
    "prep_epoch_allocator": (
        # ONE slice-key-bounded corpus rollup; the BNLJ is the broadcast
        # one-row (total, n_slices) scalar; closed-form arithmetic after
        [r"partial_count|partial_sum", r"BroadcastNestedLoopJoin"],
        [r"Window", r"CartesianProduct", r"SortMergeJoin"],
    ),
    "geo_radius_join": (
        # the point: the radius join plans as a cell EQUI-join (hash),
        # never a nested-loop theta join; probe fan-out is a Generate;
        # per-point argmin/count partial map-side
        [r"Generate", r"HashJoin", r"partial_count|partial_min"],
        [r"Window", r"CartesianProduct", r"BroadcastNestedLoopJoin"],
    ),
}


# Registry-wide guard: NO query may plan an un-partitioned WindowExec (the
# Exchange SinglePartition + global sort shape that cannot scale out) unless
# its input is provably bounded and the operator's docstring says so.
UNPARTITIONED_WINDOW_ALLOWLIST = {
    # rank over an orderBy().limit(100) result — TakeOrderedAndProject
    # upstream bounds the window input to 100 rows (pipeline.py docstring)
    "pipeline_queue_order",
    # 7-day moving average over the PRE-AGGREGATED daily series — window
    # input is #calendar-days rows (~2.4k), constant in data volume
    "window_moving_avg",
    # cumulative pass over the reduced 64-bin histogram sketch
    "sketch_histogram_quantiles",
    # month-level carry-in offsets for the two-level prefix-sum sweep —
    # window input is the per-MONTH aggregate, bounded by the calendar
    # (~84 rows; 1200 for a century), constant in data volume. The
    # day-level running sum partitions by month (rangejoin.py docstring).
    "orders_backlog_sweep",
    # sorted-fill packing over the FILE LIST — |types|×|days| metadata
    # rows (same order as a Delta log scan), not the data; the rewrite
    # the plan drives is parallel per bin (layout.py docstring)
    "layout_compaction_bins",
    # rank over an orderBy().limit(max(VOCAB_TRANSFER_KS)) result —
    # TakeOrderedAndProject upstream bounds the window input to the grid
    # constant (16 rows; a production 256k vocab is still metadata next
    # to the corpus; text.py q_text_vocab_transfer docstring)
    "text_vocab_transfer",
}


def budget_verdict(budgets: dict, sf_dir: str, record: bool, registry) -> bool:
    """Record ``budgets`` (a whole-registry run) or diff them against the
    committed ledger, printing the verdict; True when the ledger passes.
    ``registry`` names every entry when the run covers the whole registry,
    and is None for a run over named entries."""
    totals = {k: sum(b[k] for b in budgets.values()) for k in COST_KEYS}
    if record:
        heavy = sorted(
            budgets.items(),
            key=lambda kv: -(kv[1]["shuffle_hash"] + kv[1]["shuffle_range"]),
        )[:10]
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
        return True

    if not BUDGET_PATH.exists():
        print("no committed PLAN_BUDGET.json — run with --record first")
        return False
    committed = json.loads(BUDGET_PATH.read_text())
    committed.pop("_meta", None)

    regressions: list[str] = []
    improvements: list[str] = []
    new_entries = [n for n in budgets if n not in committed]
    gone_entries = [n for n in committed if n not in registry] if registry else []
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
    return not (regressions or new_entries)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--record"]
    record = "--record" in sys.argv[1:]
    dump = None
    if "--dump" in args:
        i = args.index("--dump")
        if len(args) < i + 3:
            print("usage: plan_gate.py --dump OUT_DIR SUFFIX [sf_dir] [name ...]")
            return 2
        dump = (Path(args[i + 1]), args[i + 2])
        del args[i : i + 3]
    sf_dir, names = split_sf_dir(args, DEFAULT_SF_DIR)
    if record and names:
        print("--record writes the whole registry's budget: name no entries")
        return 2

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown entries: {unknown}")
        return 2
    if dump:
        dump[0].mkdir(parents=True, exist_ok=True)

    spark = get_spark("plan-gate")
    failures = 0
    budgets: dict[str, dict[str, int]] = {}
    checked: dict[str, tuple[list[str], list[str]]] = {}
    windows: dict[str, list[str]] = {}
    for name in names or qs:
        try:
            plan = formatted_plan(fresh_build(spark, qs[name], sf_dir))
        except Exception as exc:  # a query that won't even plan is a failure
            failures += 1
            print(f"FAIL {name}: plan build failed: {exc}", flush=True)
            continue
        if dump:
            path = dump[0] / f"{name}_{dump[1]}.txt"
            text = mask_run_ids(plan)
            path.write_text(text)
            print(f"wrote {path} ({len(text)} bytes)")
        budgets[name] = count_plan(plan)
        if name in CHECKS:
            checked[name] = check_plan(plan, *CHECKS[name])
        if name not in UNPARTITIONED_WINDOW_ALLOWLIST:
            windows[name] = unpartitioned_windows(plan)
    release_pins()
    spark.stop()

    if record and failures:
        print("budget not recorded: every entry's plan must build")
    elif not budget_verdict(budgets, sf_dir, record, None if names else qs):
        failures += 1
    for name in [n for n in CHECKS if n in checked]:
        missing, present = checked[name]
        if missing or present:
            failures += 1
            print(f"FAIL {name}: missing={missing} forbidden-present={present}")
        else:
            print(f"OK   {name}")
    guard_hits = {n: specs for n, specs in windows.items() if specs}
    for name, specs in guard_hits.items():
        failures += 1
        print(f"FAIL {name}: un-partitioned window: {specs[0][:100]}")
    print(
        f"window-guard: {len(windows)} plans checked, {len(guard_hits)} "
        f"un-partitioned windows, {len(budgets) - len(windows)} documented "
        "exceptions"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
