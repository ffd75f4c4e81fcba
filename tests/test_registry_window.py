"""Pin the driver-verification-window invariant of collect_queries().

The driver's CORRECTNESS gate only evaluates the first ``_WINDOW_SIZE``
(observed: 50) registry entries. These tests fail loudly if an edit to any
module's QUERIES dict silently pushes a must-certify entry out of the
window — the failure mode ADVICE.md (round 2) flagged as guarded only by a
docstring.
"""

from __future__ import annotations

import pytest

from data_ingestion_api_system_spark.operators import (
    _WINDOW_SIZE,
    all_query_modules,
    collect_queries,
    correctness_history,
)


@pytest.fixture(scope="module")
def registry():
    queries, oracle = collect_queries()
    return list(queries), queries, oracle


def test_window_holds_pipeline(registry):
    """Positions 1..50 must contain the 5 pipeline entries (reference soul,
    driver-green every round). The former ALL-of-prep clause was dropped in
    round 8 (VERDICT r7 #1): prep entries now rotate by staleness like every
    other family, reclaiming 16 window slots per round."""
    names, _, _ = registry
    window = set(names[:_WINDOW_SIZE])

    from data_ingestion_api_system_spark.operators import pipeline

    missing_pipeline = set(pipeline.QUERIES) - window
    assert not missing_pipeline, f"pipeline entries out of window: {missing_pipeline}"


def test_fill_is_argmax_stale(registry):
    """The window tail must be the argmax-stale set: every in-window fill
    entry is at most as fresh (last driver-green round) as every out-of-window
    entry. Recomputed here from the committed CORRECTNESS_r*.json files, so
    the ordering logic and the data cannot drift apart."""
    names, _, _ = registry
    history = correctness_history()
    if not history:
        pytest.skip("no CORRECTNESS_r*.json history in this checkout")

    from data_ingestion_api_system_spark.operators import pipeline

    fixed = set(pipeline.QUERIES)
    tail = [n for n in names if n not in fixed]
    in_window = [n for n in names[:_WINDOW_SIZE] if n not in fixed]
    out_window = tail[len(in_window):]
    if in_window and out_window:
        max_in = max(history.get(n, -1) for n in in_window)
        min_out = min(history.get(n, -1) for n in out_window)
        assert max_in <= min_out, (
            f"window not argmax-stale: in-window freshness {max_in} > "
            f"out-of-window staleness {min_out}"
        )


def test_fixed_head_cannot_overflow_window():
    """The fixed head (pipeline only, post-r8) must leave the vast majority
    of the window for staleness fills."""
    from data_ingestion_api_system_spark.operators import pipeline

    assert len(pipeline.QUERIES) + 40 <= _WINDOW_SIZE


def test_window_composition_any_round(registry):
    """Round-generic composition assertion (VERDICT r8 #1 — the previous
    version pinned round-8 specifics and skipped itself on any later
    history, i.e. exactly when the next round's window needed certifying).
    For WHATEVER round the committed CORRECTNESS history ends at, the
    window must be: the 5 pipeline entries + the argmax-stale 45, which
    implies (a) every never-certified entry is in-window, and (b) the
    in-window fill's staleness
    multiset equals the first 45 of the whole tail's sorted staleness
    (set-equality up to ties, strictly stronger than the max<=min check in
    test_fill_is_argmax_stale)."""
    names, _, _ = registry
    history = correctness_history()
    if not history:
        pytest.skip("no CORRECTNESS_r*.json history in this checkout")
    window = names[:_WINDOW_SIZE]

    # (a) first-certification urgency: anything never driver-certified must
    # hold a window slot now
    never = {n for n in names if n not in history}
    missing = never - set(window)
    assert not missing, f"never-certified entries out of window: {missing}"

    # (b) the fill is exactly the stalest 45 (multiset of staleness keys)
    from data_ingestion_api_system_spark.operators import pipeline

    fixed = set(pipeline.QUERIES)
    assert fixed <= set(window)
    fill = [n for n in window if n not in fixed]
    tail = [n for n in names if n not in fixed]
    got = sorted(history.get(n, -1) for n in fill)
    want = sorted(history.get(n, -1) for n in tail)[: len(fill)]
    assert got == want, f"window fill is not the argmax-stale set: {got} != {want}"


def test_no_duplicate_names_and_oracle_subset(registry):
    names, queries, oracle = registry
    # names are dict keys (unique by construction), so compare the SUM of
    # per-module QUERIES sizes against the merged registry: a cross-module
    # name collision silently overwrites an entry and shrinks the merge.
    # The module list comes from all_query_modules() — the same tuple
    # collect_queries() merges — so this test cannot drift from the real
    # merge list (round-4 ADVICE).
    mods = all_query_modules()
    per_module_total = sum(len(m.QUERIES) for m in mods)
    assert per_module_total == len(queries), (
        f"cross-module QUERIES name collision: modules define "
        f"{per_module_total} entries but the merged registry has {len(queries)}"
    )
    # same check for ORACLE: an ORACLE-only collision (module defining
    # ORACLE[name] for another module's query) silently overwrites that
    # query's oracle SQL while still passing the subset check (round-4
    # ADVICE)
    per_module_oracle = sum(len(m.ORACLE) for m in mods)
    assert per_module_oracle == len(oracle), (
        f"cross-module ORACLE name collision: modules define "
        f"{per_module_oracle} oracle entries but the merged dict has {len(oracle)}"
    )
    assert set(oracle) <= set(queries)
    # round 7: the last rows-only entry (approx_distinct_sketch) gained an
    # exact-twin oracle — every registry entry must now be oracle-checked
    rows_only = set(queries) - set(oracle)
    assert rows_only == set(), rows_only


def test_all_query_modules_have_dicts():
    """Every merged module must expose both QUERIES and ORACLE (a module
    missing ORACLE would raise inside collect_queries; assert the shape
    explicitly so the error names the module)."""
    for mod in all_query_modules():
        assert isinstance(getattr(mod, "QUERIES", None), dict), mod.__name__
        assert isinstance(getattr(mod, "ORACLE", None), dict), mod.__name__
