"""Port of the reference's test scenarios (test/test_api.js, 13 meaningful
tests) against the Spark pipeline, with wall-clock sleeps replaced by
deterministic trigger stepping (SURVEY §5.2.1): each ``drain_step()`` is
one cycle of the reference's processBatches loop, and state is asserted
between steps instead of at timed checkpoints."""

from __future__ import annotations

import time
from datetime import datetime, timedelta, timezone

import pytest

from data_ingestion_api_system_spark.streaming.drain import (
    DrainConfig,
    IngestionPipeline,
    InvalidRequest,
    NotFound,
)


@pytest.fixture()
def pipeline(spark, tmp_path):
    return IngestionPipeline(spark, str(tmp_path / "state"))


def test_durable_state_survives_reopen(spark, tmp_path):
    """State written by one pipeline object is visible to a fresh one over
    the same state dir."""
    state = str(tmp_path / "state")
    p1 = IngestionPipeline(spark, state)
    ing = p1.ingest([1, 2, 3, 4], "HIGH")
    p1.drain_step()
    p2 = IngestionPipeline(spark, state)
    st = p2.status(ing)
    assert [b["status"] for b in st["batches"]] == ["completed", "yet_to_start"]


# -- validation (test_api.js:23-45) -----------------------------------------

def test_rejects_non_integer_ids(pipeline):
    with pytest.raises(InvalidRequest):
        pipeline.ingest([1, 2, "a"], "HIGH")


def test_rejects_bad_priority(pipeline):
    with pytest.raises(InvalidRequest):
        pipeline.ingest([1, 2, 3], "VERY_HIGH")


def test_rejects_out_of_range_ids(pipeline):
    with pytest.raises(InvalidRequest):
        pipeline.ingest([0], "LOW")
    with pytest.raises(InvalidRequest):
        pipeline.ingest([1_000_000_008], "LOW")


# -- empty ids: valid, instantly completed (test_api.js:47-57) ---------------

def test_empty_ids_vacuously_completed(pipeline):
    ing = pipeline.ingest([], "LOW")
    st = pipeline.status(ing)
    assert st["status"] == "completed"
    assert st["batches"] == []


# -- batching (test_api.js:68-82) --------------------------------------------

def test_seven_ids_three_batches(pipeline):
    ing = pipeline.ingest([1, 2, 3, 4, 5, 6, 7], "MEDIUM")
    st = pipeline.status(ing)
    assert [b["ids"] for b in st["batches"]] == [[1, 2, 3], [4, 5, 6], [7]]
    assert all(b["status"] == "yet_to_start" for b in st["batches"])


# -- status endpoint (test_api.js:86-106) ------------------------------------

def test_unknown_ingestion_404(pipeline):
    with pytest.raises(NotFound):
        pipeline.status("nonexistent-id")


def test_initial_status_shape(pipeline):
    ing = pipeline.ingest([1, 2, 3, 4], "HIGH")
    st = pipeline.status(ing)
    assert st["ingestion_id"] == ing
    assert st["status"] == "yet_to_start"
    assert len(st["batches"]) == 2
    assert set(st["batches"][0]) == {"batch_id", "ids", "status"}


# -- priority + preemption (test_api.js:110-186, 216-267) --------------------

def test_high_preempts_queued_medium(pipeline):
    """MEDIUM [1..5] then HIGH [6..9]: after the first MEDIUM batch, the
    HIGH batches run before the remaining MEDIUM batch — priorities take
    effect at dequeue granularity, never mid-batch (SURVEY §3.2)."""
    med = pipeline.ingest([1, 2, 3, 4, 5], "MEDIUM")
    first = pipeline.drain_step()  # processes [1,2,3] (only work available)
    high = pipeline.ingest([6, 7, 8, 9], "HIGH")
    order = [pipeline.drain_step() for _ in range(3)]
    st_med, st_high = pipeline.status(med), pipeline.status(high)
    assert st_med["batches"][0]["batch_id"] == first
    # HIGH batches [6,7,8] and [9] both completed before MEDIUM's [4,5]
    assert st_high["status"] == "completed"
    assert st_med["status"] == "completed"
    assert order[0] == st_high["batches"][0]["batch_id"]
    assert order[1] == st_high["batches"][1]["batch_id"]
    assert order[2] == st_med["batches"][1]["batch_id"]


def test_high_after_low_overtakes(pipeline):
    """test_api.js:216-267: LOW enqueued first, HIGH submitted later still
    dequeues first when no drain has started."""
    low = pipeline.ingest([301, 302, 303], "LOW")
    high = pipeline.ingest([401, 402, 403], "HIGH")
    first = pipeline.drain_step()
    assert first == pipeline.status(high)["batches"][0]["batch_id"]
    assert pipeline.status(low)["status"] == "yet_to_start"


def test_one_batch_per_cycle(pipeline):
    """test_api.js:188-214: strict 1-batch-per-cycle pacing — each drain
    step completes exactly one batch."""
    ing = pipeline.ingest([1, 2, 3, 4, 5, 6, 7, 8, 9], "LOW")
    for done in range(1, 4):
        pipeline.drain_step()
        st = pipeline.status(ing)
        statuses = [b["status"] for b in st["batches"]]
        assert statuses.count("completed") == done


def test_fifo_within_same_priority(pipeline):
    """Equal priority: earlier request's batches drain first (createdAt
    ASC + stable request order, src/app.js:36-42)."""
    a = pipeline.ingest([1, 2, 3], "LOW")
    b = pipeline.ingest([4, 5, 6], "LOW")
    assert pipeline.drain_step() == pipeline.status(a)["batches"][0]["batch_id"]
    assert pipeline.drain_step() == pipeline.status(b)["batches"][0]["batch_id"]


# -- rollup logic (test_api.js:270-307) --------------------------------------

def test_triggered_visible_during_processing(pipeline):
    """The batch reports 'triggered' while its IDs are in flight (A9 before
    A10): observed via the external-call hook instead of timing."""
    seen: list[str] = []

    def spy_call(id_: int) -> dict:
        if not seen:
            st = pipeline.status(ing)
            seen.append(st["batches"][0]["status"])
            seen.append(st["status"])
        return {"id": id_, "data": "processed"}

    pipeline.config = DrainConfig(external_call=spy_call)
    ing = pipeline.ingest([1, 2], "LOW")
    pipeline.drain_step()
    assert seen == ["triggered", "triggered"]


def test_completed_rollup_after_drain(pipeline):
    ing = pipeline.ingest([1, 2, 3, 4], "MEDIUM")
    n = pipeline.drain_all()
    assert n == 2
    st = pipeline.status(ing)
    assert st["status"] == "completed"
    assert [b["status"] for b in st["batches"]] == ["completed", "completed"]


def test_drain_all_has_no_step_cap(tmp_path):
    """drain_all runs until drain_step finds the queue empty, however many
    batches that takes (processBatches has no step cap)."""
    pipeline = IngestionPipeline(None, str(tmp_path / "state"))
    batch_ids = (f"batch-{i}" for i in range(10_001))
    pipeline.drain_step = lambda: next(batch_ids, None)
    assert pipeline.drain_all() == 10_001


def test_partial_drain_mixed_rollup(pipeline):
    """Some batches completed + none triggered → overall 'yet_to_start'
    (exact reference semantics: rollup checks every-completed then
    some-triggered, src/app.js:168-173)."""
    ing = pipeline.ingest([1, 2, 3, 4, 5, 6], "LOW")
    pipeline.drain_step()
    st = pipeline.status(ing)
    assert [b["status"] for b in st["batches"]] == ["completed", "yet_to_start"]
    assert st["status"] == "yet_to_start"


# -- processed results persisted (engine extension over the reference) -------

def test_processed_results_recorded(pipeline):
    pipeline.ingest([11, 12, 13, 14], "HIGH")
    pipeline.drain_all()
    rows = pipeline.processed_results().collect()
    assert sorted(r.id for r in rows) == [11, 12, 13, 14]
    assert all(r.data == "processed" for r in rows)


# -- queue snapshot ordering (A6) --------------------------------------------

def test_queue_snapshot_order(pipeline):
    pipeline.ingest([1], "LOW")
    pipeline.ingest([2], "HIGH")
    pipeline.ingest([3], "MEDIUM")
    snap = pipeline.queue_snapshot().select("priority").collect()
    assert [r.priority for r in snap] == ["HIGH", "MEDIUM", "LOW"]


# -- log compaction (the Delta-MERGE production form) -------------------------

def test_compaction_idempotent_under_replayed_transitions(pipeline):
    """Replay duplicate status transitions into the log (the retry case a
    Delta MERGE guards against), compact, and prove (a) query results are
    unchanged, (b) the log holds exactly one row per batch, (c) replaying
    the same transitions AGAIN and re-compacting is a no-op — last-write-
    wins by log_seq is idempotent."""
    from pyspark.sql import Row

    from data_ingestion_api_system_spark.streaming.drain import _BATCH_LOG_SCHEMA

    ing_done = pipeline.ingest([1, 2, 3, 4], "HIGH")  # 2 batches
    ing_half = pipeline.ingest([5, 6, 7, 8], "LOW")
    for _ in range(3):  # completes both HIGH + first LOW batch
        assert pipeline.drain_step() is not None
    before = {i: pipeline.status(i) for i in (ing_done, ing_half)}

    # replay every existing transition verbatim (duplicate appends)
    replay = [
        Row(**r.asDict())
        for r in pipeline._read("batch_log", _BATCH_LOG_SCHEMA).collect()
    ]
    pipeline._append("batch_log", replay, _BATCH_LOG_SCHEMA)

    n = pipeline.compact_log()
    assert n == 3  # one row per batch that ever logged a transition
    after = {i: pipeline.status(i) for i in (ing_done, ing_half)}
    assert after == before

    # second replay + compaction: still converges to the same 3 rows
    pipeline._append("batch_log", replay, _BATCH_LOG_SCHEMA)
    assert pipeline.compact_log() == 3
    assert {i: pipeline.status(i) for i in (ing_done, ing_half)} == before


def test_compaction_durable_swap_and_continue(spark, tmp_path):
    """Durable mode: compaction commits the folded log as one more part and
    deletes the parts it folded; status() reads the compacted table and
    the drain loop keeps appending to it afterwards."""
    p = IngestionPipeline(spark, str(tmp_path / "state"))
    ing = p.ingest([1, 2, 3, 4, 5, 6, 7], "MEDIUM")  # 3 batches
    p.drain_step()
    assert p.compact_log() == 1  # only batch 0 has transitions yet
    st = p.status(ing)
    assert [b["status"] for b in st["batches"]] == [
        "completed", "yet_to_start", "yet_to_start",
    ]
    p.drain_all()
    assert p.status(ing)["status"] == "completed"
    assert p.compact_log() == 3


# -- A18: state truncation (src/app.js:225-235) -------------------------------

def test_reset_truncates_all_state(pipeline):
    ing = pipeline.ingest([1, 2, 3, 4], "HIGH")
    pipeline.drain_step()
    pipeline.reset()
    with pytest.raises(NotFound):
        pipeline.status(ing)
    assert pipeline.queue_snapshot().count() == 0
    assert pipeline.processed_results().count() == 0
    # pipeline remains usable after reset
    ing2 = pipeline.ingest([5], "LOW")
    assert pipeline.status(ing2)["status"] == "yet_to_start"


def test_compaction_crash_before_deletes_leaves_valid_log(spark, tmp_path, monkeypatch):
    """A compaction that dies after its folded part commits, before the
    folded parts are deleted, leaves each latest row twice. A pipeline
    opened over that log serves the same statuses, drain order and
    sequence counters, and compacting again returns the same count."""
    import os

    from data_ingestion_api_system_spark.streaming.drain import _BATCH_LOG_SCHEMA

    state = str(tmp_path / "state")
    p = IngestionPipeline(spark, state, clock=lambda: _T0)
    done = p.ingest([1, 2, 3, 4], "HIGH")  # 2 batches
    queued = p.ingest([5, 6, 7, 8, 9, 10, 11], "LOW")  # 3 batches
    for _ in range(3):  # 3 batches log triggered + completed
        assert p.drain_step() is not None
    before = {i: p.status(i) for i in (done, queued)}
    counters = (p._request_seq, p._log_seq)

    def crash(path):
        raise OSError("crashed before deleting folded parts")

    monkeypatch.setattr(os, "remove", crash)
    with pytest.raises(OSError, match="crashed before deleting"):
        p.compact_log()
    monkeypatch.undo()
    assert p._read("batch_log", _BATCH_LOG_SCHEMA).count() == 6 + 3

    p2 = IngestionPipeline(spark, state, clock=lambda: _T0)
    assert {i: p2.status(i) for i in (done, queued)} == before
    assert (p2._request_seq, p2._log_seq) == counters
    assert p2.compact_log() == 3
    assert p2._read("batch_log", _BATCH_LOG_SCHEMA).count() == 3
    rest = [b["batch_id"] for b in before[queued]["batches"][1:]]
    assert [r.batch_id for r in p2.queue_snapshot().collect()] == rest
    assert [p2.drain_step(), p2.drain_step(), p2.drain_step()] == rest + [None]


# -- durable state: driver-side appends, reopen, read errors ------------------

_T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def test_append_starts_no_spark_job(spark, pipeline):
    """An ingest (two appends) and a status-log append are file commits on
    the driver: no Spark job runs."""
    sc = spark.sparkContext
    sc.setJobGroup("append-probe", "append-probe")
    try:
        ing = pipeline.ingest([1, 2, 3, 4], "HIGH")
        pipeline._log("some-batch", "triggered")
        jobs = sc.statusTracker().getJobIdsForGroup("append-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert len(pipeline.status(ing)["batches"]) == 2


@pytest.fixture()
def pacific_time(monkeypatch):
    """A non-UTC process time zone, so a naive datetime's local-time
    meaning differs from reading it as UTC."""
    monkeypatch.setenv("TZ", "America/Los_Angeles")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_append_round_trips_every_column_type(spark, pipeline, pacific_time):
    """string, int64, array<struct<string, array<bigint>>> and timestamps
    from tz-aware and naive clocks read back exactly as ``createDataFrame``
    stores them; a naive datetime keeps PySpark's local-time meaning."""
    from pyspark.sql import Row

    from data_ingestion_api_system_spark.streaming.drain import _INGESTIONS_SCHEMA

    aware = datetime(2024, 7, 1, 12, 30, 45, 123456, tzinfo=timezone.utc)
    naive = datetime(2024, 1, 15, 8, 5, 9, 654321)
    rows = [
        Row(ingestion_id="i-aware-ü", request_seq=2**62, priority="HIGH", created_at=aware,
            batches=[{"batch_id": "b-ü", "ids": [1, 2**62]}, {"batch_id": "b", "ids": []}]),
        Row(ingestion_id="i-naive", request_seq=0, priority="LOW", created_at=naive,
            batches=[]),
    ]
    pipeline._append("ingestions", rows, _INGESTIONS_SCHEMA)
    got = sorted(pipeline._read("ingestions", _INGESTIONS_SCHEMA).collect())
    assert got == sorted(spark.createDataFrame(rows, _INGESTIONS_SCHEMA).collect())
    by_id = {r.ingestion_id: r for r in got}
    assert by_id["i-naive"].created_at == naive
    assert by_id["i-aware-ü"].created_at == aware.astimezone().replace(tzinfo=None)
    assert [(b.batch_id, b.ids) for b in by_id["i-aware-ü"].batches] == [
        ("b-ü", [1, 2**62]), ("b", []),
    ]


def test_leftover_temp_file_ignored_and_removed_at_open(spark, tmp_path):
    """A file an interrupted append left under its hidden temporary name
    is invisible to reads and deleted when the pipeline is next opened."""
    import glob
    import os
    import shutil

    state = str(tmp_path / "state")
    p = IngestionPipeline(spark, state)
    ing = p.ingest([1, 2, 3, 4], "HIGH")
    (part,) = glob.glob(os.path.join(state, "ingestions", "part-*.parquet"))
    leftover = os.path.join(state, "ingestions", ".part-interrupted.parquet")
    shutil.copy(part, leftover)  # same rows: a reader that saw it would double them
    assert len(p.status(ing)["batches"]) == 2
    p2 = IngestionPipeline(spark, state)
    assert not os.path.exists(leftover)
    assert len(p2.status(ing)["batches"]) == 2
    assert p2.queue_snapshot().count() == 2


def test_reads_and_extends_spark_written_state(spark, tmp_path):
    """State directories committed by Spark's own parquet writer read back
    exactly and keep accepting driver-side appends."""
    import os

    from pyspark.sql import Row

    from data_ingestion_api_system_spark.streaming.drain import (
        _BATCH_LOG_SCHEMA,
        _INGESTIONS_SCHEMA,
    )

    state = str(tmp_path / "state")
    done = [Row(id=i, data="processed") for i in (1, 2, 3)]
    old = {
        "ingestions": ([Row(ingestion_id="old", request_seq=0, priority="LOW",
                            created_at=_T0,
                            batches=[Row(batch_id=f"old-{i}", ids=ids)
                                     for i, ids in enumerate([[1, 2, 3], [4]])])],
                       _INGESTIONS_SCHEMA),
        "batch_log": ([Row(batch_id="old-0", status="triggered", log_seq=0, results=None),
                       Row(batch_id="old-0", status="completed", log_seq=1, results=done)],
                      _BATCH_LOG_SCHEMA),
    }
    for name, (rows, schema) in old.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            os.path.join(state, name)
        )
    p = IngestionPipeline(spark, state, clock=lambda: _T0)
    assert sorted(p._read("ingestions", _INGESTIONS_SCHEMA).collect()) == sorted(
        spark.createDataFrame(old["ingestions"][0], _INGESTIONS_SCHEMA).collect()
    )
    assert [b["status"] for b in p.status("old")["batches"]] == ["completed", "yet_to_start"]
    new = p.ingest([5, 6], "LOW")
    assert p.drain_all() == 2
    assert p.status("old")["status"] == p.status(new)["status"] == "completed"
    assert sorted(r.id for r in p.processed_results().collect()) == [1, 2, 3, 4, 5, 6]


def test_reopen_resumes_sequence_counters(spark, tmp_path):
    """Request and log sequence numbers continue after the stored maxima on
    reopen: a new request sorts after an older one with the same
    created_at, and new log rows sort after every existing one."""
    from data_ingestion_api_system_spark.streaming.drain import _BATCH_LOG_SCHEMA

    state = str(tmp_path / "state")
    p1 = IngestionPipeline(spark, state, clock=lambda: _T0)
    first = p1.ingest([1, 2, 3, 4, 5, 6], "LOW")  # two batches
    p1.drain_step()
    old_seqs = [r.log_seq for r in p1._read("batch_log", _BATCH_LOG_SCHEMA).collect()]

    p2 = IngestionPipeline(spark, state, clock=lambda: _T0)
    second = p2.ingest([7], "LOW")
    assert p2.drain_step() == p2.status(first)["batches"][1]["batch_id"]
    assert p2.drain_step() == p2.status(second)["batches"][0]["batch_id"]
    seqs = [r.log_seq for r in p2._read("batch_log", _BATCH_LOG_SCHEMA).collect()]
    new_seqs = sorted(set(seqs) - set(old_seqs))
    assert len(seqs) == len(set(seqs)) == len(old_seqs) + 4
    assert min(new_seqs) > max(old_seqs)


def test_state_read_error_is_not_a_404(spark, tmp_path, monkeypatch):
    """Only a missing table directory reads as empty; any other failure to
    read state surfaces instead of turning into 'not found'. Status is
    served from the index, so the state tables are read when a pipeline is
    opened: a read failure there must raise, not open an empty queue."""
    import pyarrow.parquet as pq

    state = str(tmp_path / "state")
    IngestionPipeline(spark, state).ingest([1], "LOW")

    def unreadable(*args, **kwargs):
        raise RuntimeError("unreadable state table")

    monkeypatch.setattr(pq, "read_table", unreadable)
    with pytest.raises(RuntimeError, match="unreadable state table"):
        IngestionPipeline(spark, state)


def test_open_over_existing_state_starts_no_spark_job(spark, tmp_path):
    """Opening a pipeline reads the state tables on the driver: the index
    and the sequence counters are rebuilt without a Spark job."""
    state = str(tmp_path / "state")
    p1 = IngestionPipeline(spark, state)
    ing = p1.ingest([1, 2, 3, 4], "HIGH")
    p1.drain_step()
    sc = spark.sparkContext
    sc.setJobGroup("open-probe", "open-probe")
    try:
        p2 = IngestionPipeline(spark, state)
        jobs = sc.statusTracker().getJobIdsForGroup("open-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert [b["status"] for b in p2.status(ing)["batches"]] == ["completed", "yet_to_start"]


# -- in-memory state index ----------------------------------------------------

def test_status_and_drain_step_start_no_spark_job(spark, pipeline):
    """Status and the dequeue are served from the in-memory index."""
    ing = pipeline.ingest([1, 2, 3, 4], "HIGH")
    sc = spark.sparkContext
    sc.setJobGroup("index-probe", "index-probe")
    try:
        first = pipeline.status(ing)
        drained = pipeline.drain_step()
        after = pipeline.status(ing)
        jobs = sc.statusTracker().getJobIdsForGroup("index-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert drained == first["batches"][0]["batch_id"]
    assert [b["status"] for b in after["batches"]] == ["completed", "yet_to_start"]


def test_status_returns_copies(pipeline):
    ing = pipeline.ingest([1, 2, 3, 4], "LOW")
    st = pipeline.status(ing)
    st["batches"][0]["ids"].append(99)
    st["batches"][0]["status"] = "completed"
    st["batches"].clear()
    st = pipeline.status(ing)
    assert [b["ids"] for b in st["batches"]] == [[1, 2, 3], [4]]
    assert st["status"] == "yet_to_start"


def test_failed_transition_append_changes_nothing(pipeline, monkeypatch):
    """The durable append is the commit point: a TRIGGERED transition whose
    append fails leaves the batch queued and reported ``yet_to_start``."""
    ing = pipeline.ingest([1, 2, 3], "LOW")
    append = pipeline._append

    def failing(name, rows, schema):
        if name == "batch_log":
            raise OSError("disk full")
        return append(name, rows, schema)

    monkeypatch.setattr(pipeline, "_append", failing)
    with pytest.raises(OSError, match="disk full"):
        pipeline.drain_step()
    assert pipeline.status(ing)["status"] == "yet_to_start"
    monkeypatch.setattr(pipeline, "_append", append)
    assert pipeline.drain_step() == pipeline.status(ing)["batches"][0]["batch_id"]
    assert pipeline.status(ing)["status"] == "completed"


def test_failed_external_call_requeues_batch(pipeline):
    """An external call that raises sends its batch back to
    ``yet_to_start`` at its queue position, the error propagates, and the
    next drain retries the whole batch in the same process."""
    calls: list[int] = []

    def flaky_call(id_: int) -> dict:
        calls.append(id_)
        if len(calls) == 2:
            raise ConnectionError("service down")
        return {"id": id_, "data": "processed"}

    pipeline.config = DrainConfig(external_call=flaky_call)
    ing = pipeline.ingest([1, 2, 3], "LOW")
    (batch,) = pipeline.status(ing)["batches"]
    with pytest.raises(ConnectionError, match="service down"):
        pipeline.drain_step()
    assert pipeline.status(ing)["status"] == "yet_to_start"
    assert [r.batch_id for r in pipeline.queue_snapshot().collect()] == [batch["batch_id"]]
    assert pipeline.drain_all() == 1
    assert calls == [1, 2, 1, 2, 3]
    assert pipeline.status(ing)["status"] == "completed"
    assert sorted(r.id for r in pipeline.processed_results().collect()) == [1, 2, 3]


def test_status_answers_while_batch_in_flight(pipeline):
    """Status does not wait for a drain step's external calls: while a
    call is blocked, another thread sees the batch ``triggered``."""
    import threading

    in_call, release = threading.Event(), threading.Event()

    def blocking_call(id_: int) -> dict:
        in_call.set()
        release.wait(timeout=60)
        return {"id": id_, "data": "processed"}

    pipeline.config = DrainConfig(external_call=blocking_call)
    ing = pipeline.ingest([1], "LOW")
    drain = threading.Thread(target=pipeline.drain_step, daemon=True)
    seen: list[str] = []
    reader = threading.Thread(
        target=lambda: seen.append(pipeline.status(ing)["status"]), daemon=True
    )
    drain.start()
    try:
        assert in_call.wait(timeout=30)
        reader.start()
        reader.join(timeout=1)
        assert seen == ["triggered"]
    finally:
        release.set()
        drain.join(timeout=30)
    reader.join(timeout=30)
    assert not drain.is_alive() and not reader.is_alive()
    assert pipeline.status(ing)["status"] == "completed"


def test_concurrent_ingest_status_and_drain(pipeline):
    """Eight ingest, status and drain threads share the index under a
    short switch interval: external calls never overlap
    (one batch in flight, A13), every ID is processed exactly once and
    every ingestion ends ``completed``."""
    import sys
    import threading

    guard, active, overlap = threading.Lock(), [0], []

    def call(id_: int) -> dict:
        with guard:
            active[0] += 1
            overlap.append(active[0] > 1)
        time.sleep(0.001)  # a window in which a second drain step could enter
        with guard:
            active[0] -= 1
        return {"id": id_, "data": "processed"}

    pipeline.config = DrainConfig(external_call=call)
    requests: list[tuple[str, list[int]]] = []
    errors: list[BaseException] = []

    def ingester(k: int) -> None:
        for j in range(5):
            ids = [k * 100 + j * 10 + i for i in range(1, j % 4 + 2)]
            requests.append((pipeline.ingest(ids, ("HIGH", "MEDIUM", "LOW")[j % 3]), ids))

    def drainer() -> None:
        for _ in range(10):
            pipeline.drain_all()

    def poller() -> None:
        for _ in range(20):
            for ing, _ in list(requests):
                pipeline.status(ing)

    def run(target, *args):
        def body():
            try:
                target(*args)
            except Exception as e:  # reported by the assertion below
                errors.append(e)
        return threading.Thread(target=body, daemon=True)

    threads = [run(ingester, k) for k in range(4)] + [run(drainer) for _ in range(2)]
    threads += [run(poller) for _ in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    pipeline.drain_all()
    assert not any(overlap)
    ids = sorted(r.id for r in pipeline.processed_results().collect())
    assert ids == sorted(i for _, req_ids in requests for i in req_ids)
    assert all(pipeline.status(ing)["status"] == "completed" for ing, _ in requests)


@pytest.mark.parametrize("tz", [timezone.utc, None], ids=["aware", "naive"])
def test_reopen_keeps_exact_created_at_order(spark, tmp_path, pacific_time, tz):
    """Queue keys rebuilt at open and keys of a fresh ingest compare
    exactly: a request stamped one microsecond earlier drains first though
    it arrived later, across a reopen, for tz-aware and naive clocks."""
    t0 = datetime(2024, 1, 15, 8, 5, 9, 654321, tzinfo=tz)
    stamps = iter([t0 + timedelta(microseconds=1), t0])
    state = str(tmp_path / "state")
    late = IngestionPipeline(spark, state, clock=lambda: next(stamps)).ingest([1], "LOW")
    p = IngestionPipeline(spark, state, clock=lambda: next(stamps))
    early = p.ingest([2], "LOW")
    assert p.drain_step() == p.status(early)["batches"][0]["batch_id"]
    assert p.drain_step() == p.status(late)["batches"][0]["batch_id"]


def test_reopen_requeues_orphaned_triggered_batch(spark, tmp_path):
    """A batch left ``triggered`` by a drain step that died before
    COMPLETED is queued again when the pipeline is reopened."""
    state = str(tmp_path / "state")
    p1 = IngestionPipeline(spark, state)
    ing = p1.ingest([1, 2], "LOW")
    (batch,) = p1.status(ing)["batches"]
    p1._log(batch["batch_id"], "triggered")  # the crash: no COMPLETED follows

    p2 = IngestionPipeline(spark, state)
    assert p2.status(ing)["status"] == "yet_to_start"
    assert [r.batch_id for r in p2.queue_snapshot().collect()] == [batch["batch_id"]]
    assert p2.drain_all() == 1
    assert p2.status(ing)["status"] == "completed"
    assert sorted(r.id for r in p2.processed_results().collect()) == [1, 2]


def test_crash_before_completed_leaves_no_duplicate_results(spark, tmp_path, monkeypatch):
    """A drain step that dies before its COMPLETED transition commits
    records no results: after a reopen the batch is drained again and its
    results appear once."""
    state = str(tmp_path / "state")
    p1 = IngestionPipeline(spark, state)
    p1.ingest([1, 2], "LOW")
    log = p1._log

    def crash_at_completed(batch_id, status, *args):
        if status == "completed":
            raise OSError("crashed before COMPLETED")
        return log(batch_id, status, *args)

    monkeypatch.setattr(p1, "_log", crash_at_completed)
    with pytest.raises(OSError, match="crashed before COMPLETED"):
        p1.drain_step()

    p2 = IngestionPipeline(spark, state)
    assert p2.drain_all() == 1
    assert sorted(r.id for r in p2.processed_results().collect()) == [1, 2]


def test_drained_request_leaves_one_file_per_commit(tmp_path):
    """A drained two-batch request leaves five state files: its ingestions
    row and each batch's TRIGGERED and COMPLETED log rows."""
    import os

    state = str(tmp_path / "state")
    p = IngestionPipeline(None, state)
    p.ingest([1, 2, 3, 4, 5, 6], "LOW")
    assert p.drain_all() == 2
    tables = [os.path.relpath(d, state) for d, _, files in os.walk(state) for _ in files]
    assert sorted(tables) == ["batch_log"] * 4 + ["ingestions"]
