#!/usr/bin/env python3
"""Vacuity check: flag registry entries whose ORACLE output has a numeric
column that is degenerate at EVERY provided scale factor — either ALL-ZERO
or ALL-ONE-CONSTANT (≤1 distinct non-null value per SF).

Motivation (round 11): an oracle-exact entry can still be vacuous — both
engines computing the same *trivially-degenerate* value, so the hash
matches while the computation under test never fires. The first run of
this sweep caught two real cases nine rounds of exact-hash gating never
could: `tpch_q8_market_share` conditioned its revenue share on a nation
name ('CHINA') that matched no generated nation, so the share was
identically 0.0 in BOTH engines (and the first fix, NATION_7, was still
vacuous at sf0.001 — this tool now checks every SF); and
`sketch_count_min`'s 4×64 grid exceeded the corpus's 31-word vocabulary,
so the overestimate column — the sketch's defining one-sided error — was
0 at every SF.

Round 12 (VERDICT r11 #3) adds the class the zero-sweep could not see:
the brand graph had saturated to the complete K25 at every SF, so
clustering ≡ 1.0 and triangles ≡ C(24,2) — all-CONSTANT-nonzero, caught
in r11 only by a one-off manual dry run. Criterion: ≤1 distinct non-null
value at EVERY SF (with ≥3 observed rows at ≥1 SF, same signal floor as
the zero class). Columns whose single per-SF value CHANGES across SFs are
exempt by construction — a constant that moves with the data (row totals,
corpus sizes) is responding to its input, which is exactly what vacuity
is the absence of; the flagged class is one frozen value at all scales.

Criterion (zero class): all-zero across ALL given sf_dirs. A column that
is zero at sf0.01 but lights up at sf0.1 (e.g. `dedup_exact.is_duplicate`
— the corpus simply has no exact duplicates below 5000 docs) is exercised
by the tri-scale gate and is NOT vacuous.

Allowlists: columns legitimately degenerate at every SF, each with the
reason and, for DQ-style pass-verdicts, the negative-control pytest that
exercises the varying path on injected data.

Per the tool's own no-silent-caps principle (ADVICE r11), columns that
never reach the 3-non-null-row signal floor at ANY SF are reported as
"unclassified" instead of silently escaping both the flagged and
allowlisted counts.

DuckDB-only (no Spark session): the oracle side is authoritative for
values; Spark parity is already certified by check_oracle.py.

Usage: python tools/vacuity_check.py [sf_dir ...]
       (default: all three generated SFs)
Exit 1 if a non-allowlisted always-zero or frozen-constant numeric column
is found, or any oracle errored.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from data_ingestion_api_system_spark.tables import TABLE_NAMES as TABLES  # noqa: E402

DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

# (entry, column) -> why always-zero is correct, and where the nonzero
# path is exercised instead
ALLOWED_ZERO = {
    # mins over 0-based id domains: 0 IS the true minimum
    ("events_variant_shred", "min_k"): "min over a 0-based key domain",
    ("io_csv_roundtrip", "min_user"): "user_id is 0-based; 0 is the true min",
    # clean-data DQ reports: zero is the PASS verdict; violation paths are
    # pinned by negative-control tests that inject failures
    (
        "dq_constraint_report",
        "n_violations",
    ): "clean generated data; injected-violation pytest: "
    "tests/test_round11_ops.py::test_dq_constraint_report_detects_injected_violations",
    (
        "dq_referential_orphans",
        "orphan_rows",
    ): "clean FKs; tests/test_round9b_ops.py::test_referential_orphans_detects_injected_orphan",
    (
        "dq_referential_orphans",
        "orphan_keys",
    ): "clean FKs; same injected-orphan pytest",
    (
        "layout_column_stats",
        "n_nulls",
    ): "generated columns carry no NULLs; null handling covered by "
    "io/roundtrip suites",
    (
        "events_bot_score",
        "bot_flag",
    ): "no generated user crosses the bot threshold; "
    "tests/test_round9b_ops.py::test_bot_score_flags_synthetic_burst",
}

# (entry, column) -> why one frozen non-zero constant at every SF is
# correct. Discipline mirrors ALLOWED_ZERO: a reason, and where the
# varying path is exercised when the constant is a verdict/parameter.
# Round-12 triage of the first sweep's 25 flags: 5 entries were REAL
# vacuities and got fixed (text_bpe_tokens + text_tokenizer_fertility:
# fertility frozen at exactly 1.0 — now a subword-piece estimate;
# fuzzy_name_match.dist frozen at 2 — now parity-varying corruption;
# events_error_budget_burn.breached frozen at 1 — SLO recalibrated
# inside the stream's rate band; text_quality_score.tok_len_ok frozen at
# 1 — band edge recalibrated inside the corpus range); the rest are the
# legitimate classes below.
ALLOWED_CONSTANT: dict[tuple[str, str], str] = {
    # --- property-assertion verdicts: the constant PASS *is* the theorem
    # the entry exists to certify; a varying value would be a real bug
    ("approx_distinct_sketch", "orders_within_5pct"): (
        "HLL accuracy verdict — the assertion under test (same class as "
        "tests/test_round7c_ops.py's est_within_5pct pin)"
    ),
    ("approx_distinct_sketch", "p50_within_5pct"): "HLL accuracy verdict",
    ("approx_distinct_sketch", "p95_within_5pct"): "HLL accuracy verdict",
    ("approx_distinct_sketch", "p99_within_5pct"): "quantile accuracy verdict",
    ("approx_distinct_sketch", "parts_within_5pct"): "HLL accuracy verdict",
    ("sketch_hll_union_rollup", "est_within_5pct"): (
        "mergeable-HLL accuracy verdict — the assertion under test"
    ),
    ("sketch_kmv_distinct", "merged_equals_direct"): (
        "KMV mergeability theorem (merge-then-estimate == direct) — the "
        "assertion under test; tests/test_round9_ops.py::"
        "test_kmv_merge_identity_synthetic pins the formula"
    ),
    # --- fixed generator-window parameters: the event stream spans one
    # 30-day window at every SF (more events, same span) — these columns
    # are the window length, not a data measure
    ("events_cusum_changepoint", "n_days"): "30-day generated event window",
    ("events_linreg_trend", "n_days"): "30-day generated event window",
    ("sketch_hll_union_rollup", "n_days"): "30-day generated event window",
    ("events_seasonal_backtest", "n_eval1"): (
        "window-derived: 30 days - 1-step horizon = 29 eval points"
    ),
    ("events_seasonal_backtest", "n_eval7"): (
        "window-derived: 30 days - 7-step horizon = 23 eval points"
    ),
    # --- fixed key/label domains of the generator
    ("events_variant_shred", "max_k"): (
        "max over the fixed 0..99 variant-key domain (mirror of the "
        "allowlisted min_k = 0)"
    ),
    ("sim_cluster_purity", "n_labels"): (
        "the generator emits exactly 10 embedding labels at every SF"
    ),
    ("events_markov_stationary", "mass_v0"): (
        "uniform initial distribution over the k=5 generated event types: "
        "1000000 DIV 5; the dynamics live in mass_v1/mass_v2/delta"
    ),
    # --- echoed top-k parameters (k = 5 recall set size)
    ("sim_matryoshka_recall", "n_full"): "echoed top-k parameter (k=5)",
    ("sim_matryoshka_recall", "n_trunc"): "echoed top-k parameter (k=5)",
    ("sim_recall_eval", "n_exact"): "echoed top-k parameter (k=5)",
    # --- data-forced compositions
    ("pipeline_queue_order", "priority_level"): (
        "the true global top-100 of the pending queue is entirely "
        "priority-3 by construction (>100 high-priority pending batches "
        "at every SF); cross-level ordering is pinned by the randomized-"
        "schedule comparator model in tests/test_drain_properties.py"
    ),
    ("text_heaps_vocab_growth", "n_vocab"): (
        "the generator vocabulary is CLOSED at 31 words and any 10% "
        "corpus prefix already contains all of them, so every decile "
        "saturates; sub-saturation growth is pinned on synthetic data by "
        "tests/test_round12_ops.py::test_heaps_bucket_rule_grows_on_open_vocab"
    ),
    ("text_zipf_fit", "n_vocab"): (
        "same closed 31-word generator vocabulary as "
        "text_heaps_vocab_growth: every language saturates the full vocab "
        "at every SF, so the OLS point count is fixed; the fit itself "
        "(slope/intercept) varies per language and SF, and the regression "
        "arithmetic is re-derived in pure Python by "
        "tests/test_round12b_ops.py::test_zipf_fit_matches_pure_python"
    ),
}


def main() -> int:
    import pandas as pd

    import __spark_entry__ as entrymod

    sf_dirs = sys.argv[1:] or DEFAULT_SFS
    oracles = entrymod.oracle_sql()
    # (entry, col) -> list of per-SF stats dicts (only SFs where the
    # column had >=1 non-null row contribute)
    stats: dict[tuple[str, str], list[dict]] = {}
    errors: list[str] = []
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        con.execute("PRAGMA threads=8")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name, sql in oracles.items():
            try:
                df = con.execute(sql).fetchdf()
            except Exception as exc:  # noqa: BLE001 - report, keep sweeping
                errors.append(f"{name} @ {sf_dir}: {exc}")
                continue
            for c in df.columns:
                col = df[c]
                if not pd.api.types.is_numeric_dtype(col):
                    continue
                vals = col.dropna()
                if len(vals) == 0:
                    stats.setdefault((name, c), [])
                    continue
                uniq = vals.unique()
                stats.setdefault((name, c), []).append(
                    {
                        "n": len(vals),
                        "n_distinct": len(uniq),
                        "single": uniq[0] if len(uniq) == 1 else None,
                        "any_nonzero": bool((vals != 0).any()),
                        # kept only for the sub-signal (<3 rows) columns:
                        # lets the cross-SF pooled test below classify
                        # scalar outputs the per-SF test cannot see
                        "vals_small": tuple(vals) if len(vals) < 3 else None,
                    }
                )
        con.close()

    zero_flags: list[str] = []
    const_flags: list[str] = []
    pending: list[str] = []
    scalar_ok = 0
    allowed_zero_hits = 0
    allowed_const_hits = 0
    for (name, c), per_sf in sorted(stats.items()):
        has_signal = any(s["n"] >= 3 for s in per_sf)
        if not has_signal:
            # Cross-SF test for scalar/tiny outputs (round 12, ADVICE r11
            # follow-through): a column that never reaches 3 rows per SF
            # still has a signal ACROSS scale factors — if the column's
            # whole per-SF value multiset never moves between sf0.001 and
            # sf0.1 it is frozen exactly like the in-SF constant class (a
            # revenue scalar must respond to 100x the data; an echoed
            # parameter belongs in ALLOWED_CONSTANT). The comparison is
            # between SORTED per-SF tuples, not the pooled union — a
            # 2-row output emitting the identical (a, b) pair at every SF
            # has a 2-element union yet is still frozen (review catch).
            # Columns with data at fewer than 2 SFs stay unclassified.
            sigs = {
                tuple(sorted(s["vals_small"]))
                for s in per_sf
                if s["vals_small"]
            }
            sfs_with_data = sum(1 for s in per_sf if s["vals_small"])
            if sfs_with_data >= 2 and len(sigs) >= 2:
                scalar_ok += 1
            elif sfs_with_data >= 2:
                frozen_vals = next(iter(sigs))
                if not any(v != 0 for v in frozen_vals):
                    if (name, c) in ALLOWED_ZERO:
                        allowed_zero_hits += 1
                    else:
                        zero_flags.append(
                            f"{name}.{c}: zero at every checked SF (scalar)"
                        )
                elif (name, c) in ALLOWED_CONSTANT:
                    allowed_const_hits += 1
                else:
                    const_flags.append(
                        f"{name}.{c}: per-SF values frozen at "
                        f"{frozen_vals!r} across every checked SF"
                    )
            else:
                pending.append(f"{name}.{c}")
            continue
        if not any(s["any_nonzero"] for s in per_sf):
            if (name, c) in ALLOWED_ZERO:
                allowed_zero_hits += 1
            else:
                zero_flags.append(f"{name}.{c}: zero at every checked SF")
            continue
        # frozen-constant class: exactly one distinct non-null value at
        # every SF where the column appears, and it is the SAME value
        # across SFs (a single value that moves with SF responds to data)
        if all(s["n_distinct"] == 1 for s in per_sf):
            singles = {s["single"] for s in per_sf}
            if len(singles) == 1:
                if (name, c) in ALLOWED_CONSTANT:
                    allowed_const_hits += 1
                else:
                    const_flags.append(
                        f"{name}.{c}: frozen constant {singles.pop()!r} "
                        "at every checked SF"
                    )

    for e in errors:
        print(f"ERR {e}")
    for f in zero_flags:
        print(f"VACUOUS {f}")
    for f in const_flags:
        print(f"DEGENERATE {f}")
    if pending:
        print(
            "unclassified (non-null rows at fewer than 2 SFs): "
            + ", ".join(pending)
        )
    print(
        f"vacuity: {len(zero_flags)} flagged zero, {len(const_flags)} "
        f"flagged frozen-constant, {allowed_zero_hits} allowlisted "
        f"always-zero + {allowed_const_hits} allowlisted constant "
        f"(documented), {scalar_ok} scalar-varies-across-SF, "
        f"{len(pending)} unclassified, sfs={len(sf_dirs)}, "
        f"errors={len(errors)}"
    )
    return 1 if zero_flags or const_flags or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
