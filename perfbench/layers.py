"""The per-layer table of a traced run, derived from its spans.

Every workload prints every metric below. A layer a workload does not reach
reads 0 there: that is the prediction for a workload that bypasses it.
Registry figures are sums over the entries of its traced (first) pass;
service figures are medians over the calls of its traced passes.
"""

from __future__ import annotations

import os
import statistics

from .trace import STAGE_FIELDS, Tracer, overlap_seconds

# The registry's query modules (operators/__init__.py _ALL_QUERY_MODULES);
# tests check this list against the live registry.
QUERY_MODULES = (
    "operators.pipeline",
    "operators.prep",
    "operators.curation",
    "operators.selection",
    "operators.dedup",
    "operators.similarity",
    "operators.text",
    "operators.multimodal",
    "operators.rangejoin",
    "streaming.jobs",
    "operators.events",
    "operators.windows",
    "operators.relational",
    "operators.relational2",
    "operators.relational3",
    "operators.tpch_ps",
    "operators.insights",
    "operators.layout",
    "operators.io",
)

LISTENER_FIELDS = ("micro_batches", "trigger_ms", "add_batch_ms", "commit_ms", "state_rows")
_UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes"}


def _unit(name: str) -> str:
    return next((u for suffix, u in _UNITS.items() if name.endswith(suffix)), "count")


PER_LAYER: tuple[str, ...] = (
    ("session.start_s", "tables.resolve_s", "tables.resolve_jobs")
    + tuple(f"{m}.{part}" for m in QUERY_MODULES for part in ("build_s", "exec_s"))
    + ("operators.build_s", "operators.exec_s", "operators.plan_ms", "operators.jobs")
    + tuple(f"operators.{f}" for f in STAGE_FIELDS)
    + tuple(f"streaming.jobs.{f}" for f in LISTENER_FIELDS)
    + tuple(
        f"streaming.drain.{f}"
        for f in (
            "ingest_ms",
            "status_ms",
            "drain_step_ms",
            "ingest_jobs",
            "status_jobs",
            "drain_step_jobs",
            "state_files",
            "state_bytes",
            "ingest_tail_ms",
            "status_tail_ms",
        )
    )
    + tuple(
        f"streaming.http_api.{f}"
        for f in ("ingest_overhead_ms", "status_overhead_ms", "status_wait_ms")
    )
    + ("trace.overhead_s",)
)
UNITS = {name: _unit(name) for name in PER_LAYER}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    xs = list(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``; (0, 0) when it does not exist."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _within(span, intervals):
    """The client interval [start, end] that contains ``span``, if any."""
    return next((iv for iv in intervals if iv[0] <= span.start and span.end <= iv[1]), None)


def per_layer(res: dict, tracer: Tracer) -> dict:
    v = dict.fromkeys(PER_LAYER, 0.0)
    v["session.start_s"] = res["session_s"]

    resolve = tracer.named("tables.resolve")
    v["tables.resolve_s"] = sum(s.seconds for s in resolve)
    v["tables.resolve_jobs"] = sum(s.counters.get("jobs", 0) for s in resolve)

    for mod in QUERY_MODULES:
        for part in ("build", "exec"):
            spans = tracer.named(f"{mod}.{part}")
            v[f"{mod}.{part}_s"] = sum(s.seconds for s in spans)
            v[f"operators.{part}_s"] += v[f"{mod}.{part}_s"]
            for s in spans:
                for f in ("plan_ms", "jobs") + STAGE_FIELDS:
                    v[f"operators.{f}"] += s.counters.get(f, 0)

    for f in LISTENER_FIELDS:
        v[f"streaming.jobs.{f}"] = res.get("listener", {}).get(f, 0)

    calls = {m: tracer.named(f"streaming.drain.{m}") for m in ("ingest", "status", "drain_step")}
    for m, spans in calls.items():
        v[f"streaming.drain.{m}_ms"] = median(s.seconds * 1e3 for s in spans)
        v[f"streaming.drain.{m}_jobs"] = median(s.counters.get("jobs", 0) for s in spans)
    v["streaming.drain.ingest_tail_ms"] = p90(s.seconds * 1e3 for s in calls["ingest"])
    v["streaming.drain.status_tail_ms"] = p90(s.seconds * 1e3 for s in calls["status"])
    if calls["ingest"]:
        v["streaming.drain.state_files"] = res["state_files"]
        v["streaming.drain.state_bytes"] = res["state_bytes"]

    if "posts" in res:  # the HTTP workload: client intervals around library spans
        ingest_over, status_over, waits = [], [], []
        for s in calls["ingest"]:
            iv = _within(s, res["posts"])
            if iv:
                ingest_over.append((iv[1] - iv[0] - s.seconds) * 1e3)
        for s in calls["status"]:
            iv = _within(s, res["gets"])
            if iv:
                status_over.append((iv[1] - iv[0] - s.seconds) * 1e3)
                waits.append(overlap_seconds(iv[0], iv[1], calls["drain_step"]) * 1e3)
        v["streaming.http_api.ingest_overhead_ms"] = median(ingest_over)
        v["streaming.http_api.status_overhead_ms"] = median(status_over)
        v["streaming.http_api.status_wait_ms"] = median(waits)

    v["trace.overhead_s"] = tracer.overhead_s / max(1, res["traced_passes"])
    return {k: {"value": val, "unit": UNITS[k]} for k, val in v.items()}
