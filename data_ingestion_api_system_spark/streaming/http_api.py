"""HTTP parity shim: the reference's two REST routes (src/app.js:106,158)
over the library pipeline, using only the stdlib.

- ``POST /ingest``   {ids:[...], priority:"HIGH|MEDIUM|LOW"} →
  202-style {"ingestion_id": ...}; invalid body → 400 {"error":"Invalid
  input"} (src/app.js:115).
- ``GET /status/<id>`` → {ingestion_id, status, batches:[...]};
  unknown id → 404 {"error":"Ingestion ID not found"} (src/app.js:162).

Ingest triggers the drain loop fire-and-forget on a worker thread —
the async boundary the reference creates with an un-awaited
``processBatches()`` (src/app.js:152). A lock serializes drains (A13),
and a wake flag keeps a wakeup from being lost: every ingest sets the flag
before starting its thread, and whichever thread holds the lock clears
the flag before it drains and checks it again after releasing the lock.
An ingest that lands while an earlier drain is exiting (its queue already
seen empty, the lock still held) therefore gets drained by that thread's
next loop instead of waiting for the next POST. A drain that fails (an
external call raised) is reported through ``logging`` and the server keeps
serving; the pipeline has queued the failed batch again, and the next
ingest's drain retries it.
The library API (drain.IngestionPipeline) stays the primary surface; this
shim exists for black-box route-level parity testing.
"""

from __future__ import annotations

import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .drain import IngestionPipeline, InvalidRequest, NotFound

logger = logging.getLogger(__name__)


def make_server(pipeline: IngestionPipeline, port: int = 0) -> ThreadingHTTPServer:
    drain_lock = threading.Lock()
    wake = threading.Event()

    def run() -> None:
        while wake.is_set() and drain_lock.acquire(blocking=False):  # A13
            try:
                wake.clear()
                pipeline.drain_all()
            except Exception:
                logger.exception("drain failed; the batch stays queued")
            finally:
                drain_lock.release()

    def drain_async() -> None:
        wake.set()
        threading.Thread(target=run, daemon=True).start()

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self) -> None:  # noqa: N802
            if self.path != "/ingest":
                return self._reply(404, {"error": "Not found"})
            try:
                length = int(self.headers.get("Content-Length", 0))
                req = json.loads(self.rfile.read(length) or b"{}")
                ingestion_id = pipeline.ingest(
                    req.get("ids"), req.get("priority")
                )
            except (InvalidRequest, TypeError, ValueError, json.JSONDecodeError):
                return self._reply(400, {"error": "Invalid input"})
            drain_async()
            # Reference parity: app.js:154 replies via res.json() → 200
            # (its test_api.js asserts statusCode 200, not 201).
            self._reply(200, {"ingestion_id": ingestion_id})

        def do_GET(self) -> None:  # noqa: N802
            if not self.path.startswith("/status/"):
                return self._reply(404, {"error": "Not found"})
            ingestion_id = self.path[len("/status/"):]
            try:
                self._reply(200, pipeline.status(ingestion_id))
            except NotFound:
                self._reply(404, {"error": "Ingestion ID not found"})

        def log_message(self, *args) -> None:  # silence request logging
            pass

    return ThreadingHTTPServer(("127.0.0.1", port), Handler)
