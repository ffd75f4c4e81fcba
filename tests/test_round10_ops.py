"""Round-10 hardening tests.

1. The max-degree gate on the common-neighbors hub cap (VERDICT r9 #2):
   the full-adjacency partitioned row_number is only paid when the graph
   actually has a hub over CN_DEGREE_CAP.
2. The events_markov_stationary zero-mass completeness fix (ADVICE r9):
   source-only / sink-only states appear with explicit zero mass instead
   of silently vanishing from the inner-join chain.
3. exact_avg_halfup boundary laws (the sf0.1 gate catch): Spark ==
   DuckDB == exact half-away model at every (scale, digits) pair in use,
   including constructed exact half-boundary means.
4. Partition-invariance sample: a cross-family entry sample must produce
   identical output under 2-vs-64 shuffle partitions and 128MB-vs-4MB
   scan splits (the suite-resident twin of tools/invariance_check.py).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from data_ingestion_api_system_spark.operators.relational3 import (
    CN_DEGREE_CAP,
    _adj_for_wedges,
)


def _symmetrize(edges):
    out = []
    for a, b in edges:
        out.append((a, b))
        out.append((b, a))
    return out


def test_adj_gate_skips_window_below_cap(spark):
    """Max degree under the cap → the raw adjacency passes through with
    NO Window in the physical plan (the row_number sort is skipped)."""
    edges = [(1, 2), (1, 3), (2, 3), (4, 1)]
    adj = spark.createDataFrame(_symmetrize(edges), "src int, dst int")
    deg = adj.groupBy("src").agg(F.count("*").cast("bigint").alias("degree"))
    out = _adj_for_wedges(adj, deg, cap=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert sorted((r.src, r.dst) for r in out.collect()) == sorted(
        (r.src, r.dst) for r in adj.collect()
    )


def test_adj_gate_caps_above_cap(spark):
    """A single hub over the cap re-enables the capped path — per-dst
    fan-in bounded by cap, deterministic smallest-src survivors."""
    cap = 8
    hub_deg = 40
    edges = [(0, i) for i in range(1, hub_deg + 1)]
    adj = spark.createDataFrame(_symmetrize(edges), "src int, dst int")
    deg = adj.groupBy("src").agg(F.count("*").cast("bigint").alias("degree"))
    out = _adj_for_wedges(adj, deg, cap=cap)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    kept_for_hub = sorted(r.src for r in out.filter(F.col("dst") == 0).collect())
    assert kept_for_hub == list(range(1, cap + 1))


def test_markov_stationary_zero_mass_states(spark, tmp_path):
    """ADVICE r9: a sink-only state (never a from_type) and a source-only
    state (never a to_type) must appear with explicit zero mass, not
    vanish from an inner-join chain. One user, sequence a→b→b, plus a
    lone user whose single event c produces no transition at all:
    from = {a, b}, to = {b}; c has no pair row and is correctly absent,
    while a (source-only) and b (sink, self-loop aside) both appear."""
    import datetime

    import pandas as pd

    from data_ingestion_api_system_spark.operators.events import (
        q_events_markov_stationary,
    )

    t0 = datetime.datetime(2024, 1, 1)
    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": [t0, t0 + datetime.timedelta(minutes=1),
                   t0 + datetime.timedelta(minutes=2), t0],
            "user_id": [1, 1, 1, 2],
            "event_type": ["a", "b", "b", "c"],
            "value": [0.0] * 4,
            "props": ["{}"] * 4,
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    ev.to_parquet(sf / "events.parquet", index=False)
    out = {r.event_type: r for r in q_events_markov_stationary(spark, str(sf)).collect()}
    # universe = from ∪ to = {a, b}; uniform v0 = 500000 each
    assert set(out) == {"a", "b"}
    a, b = out["a"], out["b"]
    assert a.mass_v0 == 500_000 and b.mass_v0 == 500_000
    # a is source-only: zero incoming mass at every later step
    assert a.mass_v1 == 0 and a.mass_v2 == 0 and a.step_delta == 0
    # b absorbs: a's 500k (a→b p=1.0) + its own self-loop (b→b p=1.0)
    assert b.mass_v1 == 1_000_000 and b.mass_v2 == 1_000_000


def test_adj_gate_empty_graph(spark):
    """Empty adjacency → empty degree table → gate must not crash on the
    missing max scalar and must return the (empty) raw adjacency."""
    adj = spark.createDataFrame([], "src int, dst int")
    deg = adj.groupBy("src").agg(F.count("*").cast("bigint").alias("degree"))
    out = _adj_for_wedges(adj, deg, cap=CN_DEGREE_CAP)
    assert out.count() == 0


# ---------------------------------------------------------------------------
# 3. exact_avg_halfup boundary law (the round-10 sf0.1 gate catch): the
#    Spark expression, its DuckDB twin, and a Fraction-exact
#    half-away-from-zero model agree for every (scale, digits) pair the
#    registry uses — INCLUDING means that land exactly on a …5 rounding
#    boundary, where a round-of-double diverged between the engines
#    (text_perplexity_ngram, 2 rows at sf0.1).
# ---------------------------------------------------------------------------

# (input scale, rounded digits) of every exact mean in the registry
_MEAN_PAIRS = [(0, 6), (2, 6), (4, 6), (6, 6), (8, 6), (8, 8)]


def _halfaway_mean(units: list[int], scale: int, digits: int) -> float:
    """Exact model: the mean of ``units``·10^-scale rounded half away from
    zero to ``digits`` decimals, by Fraction arithmetic."""
    from fractions import Fraction

    q = Fraction(sum(units), len(units) * 10**scale) * 10**digits
    r = math.floor(abs(q) + Fraction(1, 2))
    return (-r if q < 0 else r) / 10**digits


def _engines_halfup_mean(
    spark, units: list[int], scale: int, digits: int
) -> tuple[float, float]:
    import duckdb
    import pandas as pd

    from data_ingestion_api_system_spark.functions import (
        exact_avg_halfup,
        sql_exact_avg_halfup,
    )

    pdf = pd.DataFrame({"v": [u / 10**scale for u in units]})
    sdf = spark.createDataFrame(pdf)
    [srow] = sdf.agg(exact_avg_halfup("v", scale, digits).alias("m")).collect()
    con = duckdb.connect()
    con.register("t", pdf)
    [drow] = con.sql(
        f"SELECT {sql_exact_avg_halfup('v', scale, digits)} AS m FROM t"
    ).fetchall()
    con.close()
    return srow.m, drow[0]


def _boundary_units(odd: int, scale: int, digits: int) -> list[int]:
    """Units whose mean sits EXACTLY on a half boundary of the ``digits``-th
    decimal: odd·5·10^-(digits+1). With scale ≤ digits the count supplies
    the missing factors of two (n = 2^(digits−scale+1)); above it, two
    values carrying odd·10^(scale−digits) units do."""
    if scale <= digits:
        return [odd] + [0] * (2 ** (digits - scale + 1) - 1)
    return [odd * 10 ** (scale - digits), 0]


def test_exact_avg_halfup_exact_boundary_cases(spark):
    """Constructed exact half-boundary means for every (scale, digits)
    pair in use, both signs: both engines must round away from zero; plus
    a non-boundary control, and the n=2 shape at the magnitude of the
    sf0.1 catch (avg_logprob ~ -3.39) at scale 6."""
    for scale, digits in _MEAN_PAIRS:
        cases = [_boundary_units(o, scale, digits) for o in (1, -1, 3, -3)]
        cases.append([25, 25, 26])  # non-boundary control
        if scale == 6:
            cases += [
                [-3388329, -3388330],  # mean = -3388329.5e-6 exactly
                [-3388329, -3388330, -3388331],  # exact thirds, no boundary
            ]
        for units in cases:
            s, d = _engines_halfup_mean(spark, units, scale, digits)
            m = _halfaway_mean(units, scale, digits)
            assert s == d == m, (scale, digits, units[:3], len(units), s, d, m)


def test_events_type_stats_mean_rounds_half_away(spark, tmp_path):
    """One (type, day) group of 24 events whose values sum to 0.0003: the
    mean is exactly 1.25e-5, so q_events_type_stats and its oracle must
    both report 1.3e-5 (half away from zero). Rounding the double quotient
    0.0003/24 instead gives 1.2e-5 on both engines."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_ingestion_api_system_spark.operators.events import (
        _ORACLE_TYPE_STATS,
        q_events_type_stats,
    )

    n = 24
    t0 = dt.datetime(2024, 1, 1, 12)
    path = tmp_path / "events.parquet"
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [t0 + dt.timedelta(seconds=i) for i in range(n)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
                "event_type": ["click"] * n,
                "value": [0.0001] * 3 + [0.0] * (n - 3),
                "props": ["{}"] * n,
            }
        ),
        path,
    )
    [srow] = q_events_type_stats(spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    [orow] = con.execute(_ORACLE_TYPE_STATS).fetchall()
    con.close()
    assert (srow.n_events, srow.sum_value) == (n, 0.0)
    assert srow.avg_value == orow[5] == 1.3e-5


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=30,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        pair=st.sampled_from(_MEAN_PAIRS),
        units=st.lists(
            st.integers(min_value=-10_000_000, max_value=10_000_000),
            min_size=1,
            max_size=40,
        ),
    )
    def test_exact_avg_halfup_matches_model(spark, pair, units):
        """Random inputs at every (scale, digits) pair in use: Spark ==
        DuckDB == exact model."""
        s, d = _engines_halfup_mean(spark, units, *pair)
        m = _halfaway_mean(units, *pair)
        assert s == d == m
except ImportError:  # pragma: no cover - hypothesis is baked in
    # an explicitly-skipped placeholder (ADVICE r10): if hypothesis ever
    # disappears, the lost property coverage must show as a SKIP in the
    # run, not silently vanish. Module-level importorskip would be wrong
    # here — it would skip this whole file's unrelated tests too.
    @pytest.mark.skip(reason="hypothesis not installed — property test lost")
    def test_exact_avg_halfup_matches_model(spark):  # type: ignore[misc]
        raise AssertionError("unreachable: test is skipped")


# ---------------------------------------------------------------------------
# 4. Partition-invariance sample (the continuous twin of
#    tools/invariance_check.py, which certified all 206 entries at sf0.01
#    in round 10): a cross-family sample re-runs per suite execution so a
#    new order-dependence (float-sum ordering, unordered first/last,
#    monotonically_increasing_id leakage, range-partitioner boundaries)
#    cannot land silently. Entries chosen for having the riskiest shapes:
#    a range-exchange global ntile, an unrolled iterative plan, a window
#    chain, a grid explode + LOCF window, and a banded-LSH shuffle.
# ---------------------------------------------------------------------------

_INVARIANCE_SAMPLE = [
    "prep_curriculum_order",   # global_ntile range exchange + m_i_id ordering
    "graph_kcore_peel",        # unrolled peel, per-round pins
    "window_running_sum",      # window frame chain
    "events_gap_fill",         # grid explode + LOCF last(ignorenulls)
    "dedup_minhash_lsh",       # banded signature shuffle
]


def test_partition_invariance_sample(spark):
    import importlib.util
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent

    def load_tool(modname, path):
        spec = importlib.util.spec_from_file_location(modname, path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    # reuse the certification tool's OWN config pairs and run_once so this
    # suite-resident twin cannot drift from what tools/invariance_check.py
    # certifies
    invariance = load_tool(
        "invariance_check", root / "tools" / "invariance_check.py"
    )
    entrymod = load_tool("entrymod", root / "__spark_entry__.py")
    qs = entrymod.queries()

    sf_dir = "/root/testdata/sf0.001"
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for name in _INVARIANCE_SAMPLE:
            (cols_a, rows_a), (cols_b, rows_b) = (
                invariance.run_once(spark, qs[name], sf_dir, shuffle, split)
                for shuffle, split in invariance.CONFIGS
            )
            assert cols_a == cols_b, name
            assert rows_a == rows_b, (name, len(rows_a), len(rows_b))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_invariance_record_written_only_by_full_registry_run(
    spark, monkeypatch, tmp_path, capsys
):
    """A named-entry run of tools/invariance_check.py prints its verdicts
    and writes nothing; only a run over the whole registry (here a
    one-entry registry) writes INVARIANCE.json."""
    import importlib.util
    import json
    from pathlib import Path

    import __spark_entry__
    from tests.conftest import SF_DIR

    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "invariance_check", root / "tools" / "invariance_check.py"
    )
    invariance = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(invariance)
    monkeypatch.setattr(invariance, "ROOT", tmp_path)
    name = "sim_cosine_topk"
    one = {name: __spark_entry__.queries()[name]}
    monkeypatch.setattr(__spark_entry__, "queries", lambda: one)
    monkeypatch.setattr(type(spark), "stop", lambda self: None)  # shared session
    sf_dir = SF_DIR
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        monkeypatch.setattr("sys.argv", ["invariance_check.py", sf_dir, name])
        assert invariance.main() == 0
        assert f"OK   {name}" in capsys.readouterr().out
        assert sorted(p.name for p in tmp_path.iterdir()) == []

        monkeypatch.setattr("sys.argv", ["invariance_check.py", sf_dir])
        assert invariance.main() == 0
        assert sorted(p.name for p in tmp_path.iterdir()) == ["INVARIANCE.json"]
        record = json.loads((tmp_path / "INVARIANCE.json").read_text())
        assert (record["checked"], record["failures"]) == (1, {})
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
