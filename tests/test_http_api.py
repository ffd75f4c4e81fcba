"""Black-box HTTP tests mirroring the reference's Supertest style
(test/test_api.js:10-57) against the stdlib shim."""

from __future__ import annotations

import json
import logging
import threading
import time
import urllib.error
import urllib.request

import pytest

from data_ingestion_api_system_spark.streaming.drain import DrainConfig, IngestionPipeline
from data_ingestion_api_system_spark.streaming.http_api import make_server


@pytest.fixture()
def server(spark, tmp_path):
    pipeline = IngestionPipeline(spark, str(tmp_path / "state"))
    srv = make_server(pipeline)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()


def _post(base: str, payload: object) -> tuple[int, dict]:
    return _post_raw(base, json.dumps(payload).encode())


def _post_raw(base: str, body: bytes, path: str = "/ingest") -> tuple[int, dict]:
    req = urllib.request.Request(
        f"{base}{path}",
        data=body,
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


@pytest.mark.parametrize("body", [[1, 2, 3], "x", 7])
def test_non_object_body_400(server, body):
    """Valid JSON that is not an object gets the 400 reply, not a dropped
    connection."""
    assert _post(server, body) == (400, {"error": "Invalid input"})


def test_integral_json_numbers_are_integer_ids(server):
    """``1.0`` and ``2e0`` are integers to the reference's
    ``Number.isInteger``; ``1.5``, ``1e400`` (infinity), ``-0.0`` (out of
    range) and ``true`` are not valid ids."""
    code, body = _post_raw(server, b'{"ids": [1.0, 2e0], "priority": "LOW"}')
    assert code == 200
    _, status = _get(server, f"/status/{body['ingestion_id']}")
    assert [b["ids"] for b in status["batches"]] == [[1, 2]]
    for bad in (b"1.5", b"1e400", b"-0.0", b"true"):
        body = b'{"ids": [' + bad + b'], "priority": "LOW"}'
        assert _post_raw(server, body)[0] == 400, bad


def test_negative_content_length_400(server):
    """A negative ``Content-Length`` gets the 400 reply at once instead of
    a read that waits for the client to close the connection."""
    import socket

    host, port = server.removeprefix("http://").split(":")
    with socket.create_connection((host, int(port)), timeout=10) as sock:
        sock.sendall(
            b"POST /ingest HTTP/1.1\r\nHost: x\r\nContent-Type: application/json\r\n"
            b"Content-Length: -1\r\n\r\n{}"
        )
        reply = b"".join(iter(lambda: sock.recv(4096), b""))
    assert reply.split(b"\r\n", 1)[0].split(b" ")[1] == b"400"
    assert reply.endswith(b'{"error": "Invalid input"}')


def test_routes_ignore_query_string(server):
    """Routes match the path alone, as Express matches ``/ingest`` and
    ``/status/:id`` whatever query string follows."""
    body = json.dumps({"ids": [1, 2], "priority": "LOW"}).encode()
    code, reply = _post_raw(server, body, path="/ingest?x=1")
    assert code == 200
    ingestion_id = reply["ingestion_id"]
    code, status = _get(server, f"/status/{ingestion_id}?t=1")
    assert code == 200 and status["ingestion_id"] == ingestion_id
    assert [b["ids"] for b in status["batches"]] == [[1, 2]]


def test_unknown_status_404(server):
    code, body = _get(server, "/status/does-not-exist")
    assert code == 404 and body == {"error": "Ingestion ID not found"}


def test_empty_ids_completed_immediately(server):
    _, body = _post(server, {"ids": [], "priority": "LOW"})
    code, status = _get(server, f"/status/{body['ingestion_id']}")
    assert code == 200 and status["status"] == "completed"


class _ExitingDrain:
    """Pipeline stand-in whose first ``drain_all`` finds the queue empty
    and then pauses until the test resumes it: the window in which a drain
    is about to return."""

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
    """An ingest that lands while the drain worker has seen an empty queue
    but not yet returned must still be drained, without waiting for
    another POST; the server starts one drain worker, not one per POST,
    and stops it when closed."""
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
        assert pipeline.drained == [[1]]
        pipeline.resume.set()
        assert _wait_for(lambda: pipeline.drained == [[1], [2]])
        assert pipeline.queue == [] and pipeline.calls == 2
        assert len(started) == 1
    finally:
        pipeline.resume.set()
        srv.shutdown()
        srv.server_close()
    started[0].join(timeout=30)  # closing the server stops its worker
    assert not started[0].is_alive()


def _wait_for(predicate, timeout: float = 30.0) -> bool:
    deadline = time.monotonic() + timeout
    while not predicate():
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True


def test_failed_drain_is_logged_and_retried(spark, tmp_path, caplog):
    """A drain whose external call fails is reported through ``logging``;
    the server keeps answering, the batch is queued again, and the next
    ingest's drain processes it."""
    from data_ingestion_api_system_spark.streaming import http_api

    failures = [ConnectionError("service down")]

    def call(id_: int) -> dict:
        if failures:
            raise failures.pop()
        return {"id": id_, "data": "processed"}

    pipeline = IngestionPipeline(
        spark, str(tmp_path / "state"), DrainConfig(external_call=call)
    )
    srv = make_server(pipeline)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    def status(ing):
        code, body = _get(base, f"/status/{ing}")
        assert code == 200
        return body["status"]

    try:
        with caplog.at_level(logging.ERROR, logger=http_api.__name__):
            first = _post(base, {"ids": [1], "priority": "LOW"})[1]["ingestion_id"]
            assert _wait_for(
                lambda: any(
                    r.exc_info and isinstance(r.exc_info[1], ConnectionError)
                    for r in caplog.records
                )
            )
            assert status(first) == "yet_to_start"
            second = _post(base, {"ids": [2], "priority": "LOW"})[1]["ingestion_id"]
            assert _wait_for(lambda: status(first) == status(second) == "completed")
    finally:
        srv.shutdown()
        srv.server_close()
