"""bench.py invariants that need no Spark session: the HEADLINE set behind
``comparable_value``, and the warm_b3_m5 protocol of ``time_entry``
driven by a fake entry, a fake catalog and a scripted clock.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402
from data_ingestion_api_system_spark import operators  # noqa: E402


def test_headline_is_unique_subset_of_registry():
    registry = set(operators.collect_queries()[0])
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
    assert set(bench.HEADLINE) <= registry, set(bench.HEADLINE) - registry


class _Pinned:
    def __init__(self, events):
        self.events = events

    def persist(self, level):
        return self

    def unpersist(self):
        self.events.append("release")


def _run_time_entry(monkeypatch, durations):
    """Run ``time_entry`` where rep i's build+collect takes durations[i]
    seconds; returns (result, event log). Every build pins a handle, so a
    release shows up in the log exactly when the previous rep's pin is
    freed."""
    events: list[str] = []
    clock = iter(
        t for i, d in enumerate(durations) for t in (10.0 * i, 10.0 * i + d)
    )
    monkeypatch.setattr(bench.time, "perf_counter", lambda: next(clock))

    class Catalog:
        def clearCache(self):
            events.append("clear")

    class Spark:
        catalog = Catalog()

    class Frame:
        def toPandas(self):
            events.append("collect")
            return [0] * 7

    def fn(spark, sf_dir):
        events.append("build")
        operators.pin(_Pinned(events))
        return Frame()

    operators.pin(_Pinned(events))  # state left behind by a previous entry
    try:
        result = bench.time_entry(Spark(), fn, "/nowhere")
    finally:
        operators.release_pins()
    return result, events


def test_time_entry_slow_warm_rep_takes_best_of_three(monkeypatch):
    (value, samples, rows), events = _run_time_entry(
        monkeypatch, [1.5, 1.3, 1.1, 1.2]
    )
    assert (value, samples, rows) == (1.1, [1.3, 1.1, 1.2], 7)
    assert events == ["release", "clear", "build", "collect"] * 4 + ["release"]


def test_time_entry_fast_warm_rep_takes_median_of_five(monkeypatch):
    (value, samples, rows), events = _run_time_entry(
        monkeypatch, [0.9, 0.5, 0.1, 0.4, 0.2, 0.3]
    )
    assert (value, samples, rows) == (0.3, [0.5, 0.1, 0.4, 0.2, 0.3], 7)
    # isolation precedes every rep, the untimed warm one included
    assert events == ["release", "clear", "build", "collect"] * 6 + ["release"]
