"""The ``svc_roundtrip`` workload: the stdlib HTTP shim over a durable
``IngestionPipeline`` with zero pacing and its fire-and-forget drain thread,
driven by one closed-loop client process (client.py).

``run_roundtrip`` returns raw samples (seconds) plus the outcome of every
correctness check; main.py turns them into metrics.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import subprocess
import sys
import threading

from data_ingestion_api_system_spark.schemas import BATCH_SIZE, MAX_ID, MIN_ID

from .layers import median
from .trace import Tracer

POLL_S = 0.5
TIMEOUT_S = 120.0
PASS_SHAPES = ((1, 3), (2, 2), (3, 1))  # batches per request, four per pass


def _ids(rng: random.Random, n: int) -> list[int]:
    return [rng.randint(MIN_ID, MAX_ID) for _ in range(n)]


def roundtrip_script(seed: int, passes: int) -> list[list[dict]]:
    """Request bodies by pass. Pass 0, the warm-up, is one single-batch
    request; every later pass holds two requests of 1-3 batches, four
    batches in all, so each pass does the same work whatever the seed."""
    rng = random.Random(f"svc_roundtrip:{seed}")

    def body(batches: int) -> dict:
        n = BATCH_SIZE * (batches - 1) + rng.randint(1, BATCH_SIZE)
        return {"ids": _ids(rng, n), "priority": rng.choice(("HIGH", "MEDIUM", "LOW"))}

    return [[body(1)]] + [[body(b) for b in rng.choice(PASS_SHAPES)] for _ in range(passes)]


def chunked(ids: list[int]) -> list[list[int]]:
    return [ids[i : i + BATCH_SIZE] for i in range(0, len(ids), BATCH_SIZE)]


def check_status(status: dict, ids: list[int]) -> str | None:
    """Problem with the final status of an ingestion, or None: its batches
    must carry the submitted ids chunked by three in order, and it must
    report ``completed``."""
    got = [b["ids"] for b in status["batches"]]
    if got != chunked(ids):
        return f"batches {got[:3]}... != chunks of the submitted ids"
    if status["status"] != "completed":
        return f"status {status['status']!r}, expected 'completed'"
    return None


def check_processed(pipeline, expected: dict[str, list[int]]) -> str | None:
    """``processed_results()`` must hold exactly the ids of every batch the
    run drained (``expected``: batch_id → ids)."""
    got: dict[str, list[int]] = {}
    for r in pipeline.processed_results().collect():
        got.setdefault(r.batch_id, []).append(int(r.id))
    want = {k: sorted(v) for k, v in expected.items()}
    got = {k: sorted(v) for k, v in got.items()}
    if got != want:
        missing = sorted(set(want) - set(got))[:3]
        return f"processed results differ from drained batches (missing {missing})"
    return None


def check_preemption(pipeline, seed: int, drained: dict[str, list[int]]) -> str | None:
    """With a LOW request queued, a HIGH request submitted after it must be
    drained first (the reference's sort-on-insert queue). Runs through the
    library before the server starts, so no drain thread interferes, and
    drains the queue empty; every drained batch joins ``drained``."""
    rng = random.Random(f"svc_roundtrip:preempt:{seed}")
    low_ids, high_ids = _ids(rng, 2 * BATCH_SIZE), _ids(rng, BATCH_SIZE)
    low = pipeline.ingest(low_ids, "LOW")
    high = pipeline.ingest(high_ids, "HIGH")
    first = pipeline.drain_step()
    pipeline.drain_all()
    high_status = pipeline.status(high)
    problem = None
    if high_status["batches"][0]["batch_id"] != first:
        problem = "a queued LOW batch was drained before a later HIGH one"
    for status, ids in ((pipeline.status(low), low_ids), (high_status, high_ids)):
        drained.update({b["batch_id"]: c for b, c in zip(status["batches"], chunked(ids))})
        problem = problem or check_status(status, ids)
    return problem


def run_roundtrip(spark, state_dir: str, seed: int, seconds: float, tracer: Tracer) -> dict:
    from data_ingestion_api_system_spark.streaming.drain import IngestionPipeline
    from data_ingestion_api_system_spark.streaming.http_api import make_server

    pipeline = IngestionPipeline(spark, state_dir)
    drained: dict[str, list[int]] = {}
    problem = check_preemption(pipeline, seed, drained)
    failures = [problem] if problem else []
    for method in ("ingest", "status", "drain_step"):
        tracer.wrap(pipeline, method, f"streaming.drain.{method}", key_arg=method == "status")
    script = roundtrip_script(seed, passes=64)
    if tracer.on:
        # one ingestion is in flight at a time: tracing starts with the first
        # ingest after the warm-up request and covers every timed pass
        ingest, ingests = pipeline.ingest, itertools.count()

        def ingest_traced_after_warmup(*args):
            tracer.enabled = next(ingests) > 0
            return ingest(*args)

        pipeline.ingest = ingest_traced_after_warmup
    server = make_server(pipeline)
    serve = threading.Thread(target=server.serve_forever, daemon=True)
    serve.start()
    cfg = {
        "port": server.server_address[1],
        "script": script,
        "seconds": seconds,
        "poll_s": POLL_S,
        "timeout_s": TIMEOUT_S,
    }
    client = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "client.py")],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        out, _ = client.communicate(json.dumps(cfg), timeout=seconds + 8 * TIMEOUT_S)
    finally:
        if client.poll() is None:
            client.kill()
            client.wait()
        server.shutdown()
        server.server_close()
        serve.join(timeout=10)
    if client.returncode != 0:
        raise RuntimeError(f"HTTP client exited with {client.returncode}")
    result = json.loads(out)
    tracer.enabled = False
    # the drain thread's last, empty drain step may still hold the
    # pipeline's run-to-completion lock; let it finish before reading
    with pipeline._op_lock:
        pass

    requests = [rec for p in [result["warmup"]] + result["passes"] for rec in p]
    for rec in requests:
        if "error" in rec:
            failures.append(rec["error"])
            continue
        problem = check_status(rec["final"], rec["ids"])
        if problem:
            failures.append(problem)
        for b in rec["final"]["batches"]:
            drained[b["batch_id"]] = b["ids"]
    problem = check_processed(pipeline, drained)
    if problem:
        failures.append(problem)

    timed = [rec for p in result["passes"] for rec in p]

    def pass_s(p):
        return p[-1]["gets"][-1][1] - p[0]["post"][0] if p[-1]["gets"] else 0.0

    passes_s = [pass_s(p) for p in result["passes"]]
    ingest_ms = [(r["post"][1] - r["post"][0]) * 1e3 for r in timed]
    status_ms = [(g[1] - g[0]) * 1e3 for r in timed for g in r["gets"]]
    batches = sum(len(r.get("final", {}).get("batches", [])) for r in timed)
    return {
        "setup_end": result["start"],
        "work_s": [r["complete_s"] for r in timed if "complete_s" in r],
        "figures": {
            "ingest_p50_ms": (median(ingest_ms), "ms", len(ingest_ms)),
            "status_p50_ms": (median(status_ms), "ms", len(status_ms)),
            "pass_p50_s": (median(passes_s), "s", len(passes_s)),
            "batches_per_s": (batches / sum(passes_s) if passes_s else 0.0, "1/s", batches),
        },
        "traced_passes": len(passes_s) if tracer.on else 0,
        "posts": [r["post"] for r in timed],
        "gets": [g for r in timed for g in r["gets"]],
        "attempted": len(requests) + 1,  # every round trip and the preemption check
        "failures": failures,
    }
