"""Closed-loop HTTP client for the ``svc_roundtrip`` workload.

Runs as its own single-threaded process and holds at most one connection
open at a time. For each scripted request it sends ``POST /ingest``, then
polls ``GET /status/<id>`` on a fixed interval until the ingestion reports
``completed``, and only then sends the next request.

Input: one JSON object on stdin, ``{"port", "script", "seconds",
"poll_s", "timeout_s"}`` where ``script`` is a list of passes, each a list
of request bodies; pass 0 is the warm-up. New passes start while fewer
than ``seconds`` have gone by since the warm-up ended; at least one runs. Output: one JSON object on stdout with
a record per request. Timestamps are ``time.perf_counter()`` values, which
on Linux read the system-wide monotonic clock, so the server process can
line them up with its own spans.
"""

from __future__ import annotations

import http.client
import json
import sys
import time


def call(port: int, method: str, path: str, body: dict | None = None):
    """One request on a fresh connection: (status, JSON body, sent, received)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    start = time.perf_counter()
    try:
        payload = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if payload else {}
        conn.request(method, path, body=payload, headers=headers)
        resp = conn.getresponse()
        data = json.loads(resp.read() or b"{}")
        return resp.status, data, start, time.perf_counter()
    finally:
        conn.close()


def round_trip(port: int, request: dict, poll_s: float, timeout_s: float) -> dict:
    code, body, t0, t1 = call(port, "POST", "/ingest", request)
    rec = {"ids": request["ids"], "priority": request["priority"], "post": [t0, t1], "gets": []}
    if code != 200 or "ingestion_id" not in body:
        rec["error"] = f"POST returned {code}: {body}"
        return rec
    rec["ingestion_id"] = body["ingestion_id"]
    next_poll = t1
    while True:
        next_poll += poll_s
        delay = next_poll - time.perf_counter()
        if delay > 0:
            time.sleep(delay)
        code, status, g0, g1 = call(port, "GET", f"/status/{rec['ingestion_id']}")
        rec["gets"].append([g0, g1])
        if code != 200:
            rec["error"] = f"GET returned {code}: {status}"
            return rec
        if status.get("status") == "completed":
            rec["final"] = status
            rec["complete_s"] = g1 - t0
            return rec
        if g1 - t0 > timeout_s:
            rec["error"] = f"not completed after {timeout_s}s"
            return rec
        next_poll = max(next_poll, g1)


def main() -> int:
    cfg = json.load(sys.stdin)
    port, script = cfg["port"], cfg["script"]

    def run_pass(requests: list[dict]) -> list[dict]:
        return [round_trip(port, r, cfg["poll_s"], cfg["timeout_s"]) for r in requests]

    warmup = run_pass(script[0])
    passes = []
    start = time.perf_counter()
    for k, requests in enumerate(script[1:]):
        if k and time.perf_counter() - start >= cfg["seconds"]:
            break
        passes.append(run_pass(requests))
    end = time.perf_counter()
    json.dump({"warmup": warmup, "passes": passes, "start": start, "end": end}, sys.stdout)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
