"""HTTP parity shim: the reference's two REST routes (src/app.js:106,158)
over the library pipeline, using only the stdlib.

- ``POST /ingest``   {ids:[...], priority:"HIGH|MEDIUM|LOW"} →
  202-style {"ingestion_id": ...}; invalid body, JSON that is not an
  object, or a negative ``Content-Length`` → 400 {"error":"Invalid input"}
  (src/app.js:115). Integral JSON numbers such as ``1.0`` count as
  integers, as in JavaScript.
- ``GET /status/<id>`` → {ingestion_id, status, batches:[...]};
  unknown id → 404 {"error":"Ingestion ID not found"} (src/app.js:162).
- Routes match the path without its query string, as Express does.

Ingest wakes the drain loop fire-and-forget — the async boundary the
reference creates with an un-awaited ``processBatches()``
(src/app.js:152). One daemon worker per server runs the loop: it waits on
a wake event, clears it, then drains until the queue is empty. Every
ingest sets the event after its state has committed, so an ingest that
lands while a drain is exiting (its queue already seen empty) leaves the
event set and the worker drains again instead of waiting for the next
POST. The pipeline serializes drain steps itself (A13), and
``server_close`` stops the worker. A drain that fails (an external call
raised) is reported through ``logging`` and the server keeps serving; the
pipeline has queued the failed batch again, and the drain after the next
ingest retries it.
The library API (drain.IngestionPipeline) stays the primary surface; this
shim exists for black-box route-level parity testing.
"""

from __future__ import annotations

import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import urlsplit

from .drain import IngestionPipeline, InvalidRequest, NotFound

logger = logging.getLogger(__name__)


def _json_float(literal: str) -> float | int:
    """A JSON number with a fraction or exponent, read the way the
    reference's ``JSON.parse`` + ``Number.isInteger`` see it: an integral
    value (``1.0``, ``2e0``) is an int, anything else stays a float."""
    value = float(literal)
    return int(value) if value.is_integer() else value


def make_server(pipeline: IngestionPipeline, port: int = 0) -> ThreadingHTTPServer:
    wake = threading.Event()
    closed = threading.Event()

    def drain_worker() -> None:
        while True:
            wake.wait()
            wake.clear()
            if closed.is_set():
                return
            try:
                pipeline.drain_all()
            except Exception:
                logger.exception("drain failed; the batch stays queued")

    threading.Thread(target=drain_worker, daemon=True).start()

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self) -> None:  # noqa: N802
            if urlsplit(self.path).path != "/ingest":
                return self._reply(404, {"error": "Not found"})
            try:
                length = int(self.headers.get("Content-Length", 0))
                if length < 0:  # read(-1) would wait for the client to close
                    raise InvalidRequest("Invalid input")
                req = json.loads(self.rfile.read(length) or b"{}", parse_float=_json_float)
                if not isinstance(req, dict):
                    raise InvalidRequest("Invalid input")
                ingestion_id = pipeline.ingest(
                    req.get("ids"), req.get("priority")
                )
            except (InvalidRequest, TypeError, ValueError, json.JSONDecodeError):
                return self._reply(400, {"error": "Invalid input"})
            wake.set()
            # Reference parity: app.js:154 replies via res.json() → 200
            # (its test_api.js asserts statusCode 200, not 201).
            self._reply(200, {"ingestion_id": ingestion_id})

        def do_GET(self) -> None:  # noqa: N802
            path = urlsplit(self.path).path
            if not path.startswith("/status/"):
                return self._reply(404, {"error": "Not found"})
            ingestion_id = path[len("/status/"):]
            try:
                self._reply(200, pipeline.status(ingestion_id))
            except NotFound:
                self._reply(404, {"error": "Ingestion ID not found"})

        def log_message(self, *args) -> None:  # silence request logging
            pass

    class Server(ThreadingHTTPServer):
        def server_close(self) -> None:
            super().server_close()
            closed.set()
            wake.set()  # the worker exits once a running drain returns

    return Server(("127.0.0.1", port), Handler)
