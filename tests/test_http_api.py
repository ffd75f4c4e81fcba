"""Black-box HTTP tests mirroring the reference's Supertest style
(test/test_api.js:10-57) against the stdlib shim."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest

from data_ingestion_api_system_spark.streaming.drain import IngestionPipeline
from data_ingestion_api_system_spark.streaming.http_api import make_server


@pytest.fixture()
def server(spark, tmp_path):
    pipeline = IngestionPipeline(spark, str(tmp_path / "state"))
    srv = make_server(pipeline)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _post(base: str, payload: dict) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"{base}/ingest",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _get(base: str, path: str) -> tuple[int, dict]:
    try:
        with urllib.request.urlopen(f"{base}{path}") as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_ingest_then_status_roundtrip(server):
    code, body = _post(server, {"ids": [1, 2, 3, 4, 5], "priority": "MEDIUM"})
    assert code == 200 and "ingestion_id" in body
    code, status = _get(server, f"/status/{body['ingestion_id']}")
    assert code == 200
    assert [b["ids"] for b in status["batches"]] == [[1, 2, 3], [4, 5]]


def test_invalid_body_400(server):
    assert _post(server, {"ids": [1, "a"], "priority": "HIGH"})[0] == 400
    assert _post(server, {"ids": [1], "priority": "URGENT"})[0] == 400
    assert _post(server, {"priority": "HIGH"})[0] == 400


def test_unknown_status_404(server):
    code, body = _get(server, "/status/does-not-exist")
    assert code == 404 and body == {"error": "Ingestion ID not found"}


def test_empty_ids_completed_immediately(server):
    _, body = _post(server, {"ids": [], "priority": "LOW"})
    code, status = _get(server, f"/status/{body['ingestion_id']}")
    assert code == 200 and status["status"] == "completed"


class _ExitingDrain:
    """Pipeline stand-in whose first ``drain_all`` finds the queue empty
    and then pauses, still inside the server's drain lock, until the test
    resumes it: the window in which a drain thread is about to exit."""

    def __init__(self):
        self.queue: list[list[int]] = []
        self.drained: list[list[int]] = []
        self.exiting = threading.Event()
        self.resume = threading.Event()
        self.calls = 0

    def ingest(self, ids, priority):
        self.queue.append(ids)
        return f"ing-{len(self.queue) + len(self.drained)}"

    def drain_all(self):
        self.calls += 1
        n = len(self.queue)
        self.drained += self.queue
        self.queue = []
        if self.calls == 1:
            self.exiting.set()
            self.resume.wait(timeout=30)
        return n


def test_ingest_during_drain_exit_is_drained(monkeypatch):
    """An ingest that lands while the previous drain thread has seen an
    empty queue but still holds the drain lock must still be drained,
    without waiting for another POST."""
    from data_ingestion_api_system_spark.streaming import http_api

    started: list[threading.Thread] = []

    class RecordingThreads:
        def __getattr__(self, name):
            return getattr(threading, name)

        def Thread(self, *args, **kwargs):  # noqa: N802
            t = threading.Thread(*args, **kwargs)
            started.append(t)
            return t

    monkeypatch.setattr(http_api, "threading", RecordingThreads())
    pipeline = _ExitingDrain()
    srv = make_server(pipeline)
    serve = threading.Thread(target=srv.serve_forever, daemon=True)
    serve.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        assert _post(base, {"ids": [1], "priority": "LOW"})[0] == 200
        assert pipeline.exiting.wait(timeout=30)
        assert _post(base, {"ids": [2], "priority": "LOW"})[0] == 200
        first, second = started
        second.join(timeout=30)  # its drain attempt found the lock held
        assert not second.is_alive()
        pipeline.resume.set()
        first.join(timeout=30)
        assert not first.is_alive()
        assert pipeline.drained == [[1], [2]] and pipeline.queue == []
    finally:
        pipeline.resume.set()
        srv.shutdown()
        srv.server_close()
