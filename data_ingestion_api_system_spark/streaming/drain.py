"""The reference's stateful drain loop (src/app.js:61-103) re-expressed on
Spark: SURVEY.md §2 operators A7 (top-1 dequeue), A8 (existence guard),
A9/A11 (status transitions), A10 (per-ID external call), A12 (5 s
gap-after-work pacing), A13 (serialization).

Design (SURVEY §3.4, §4.3):

- **Durable state = two append-only tables.** ``ingestions`` holds one row
  per request with its batches embedded in order, as the reference keeps
  them inside the ingestion object (src/app.js:144). Status transitions
  append to ``batch_log`` and current status is each batch's row with the
  highest ``log_seq``, so a replayed transition changes nothing (the
  concern Delta MERGE would otherwise cover). Only the ``completed`` row
  fills ``results``: a batch's results and its completion commit in one
  rename, as Structured Streaming commits output and progress together.
- **Appends are driver-side file commits.** Each append is one
  Arrow-built parquet file written by the driver under a hidden
  ``.part-<uuid>.parquet`` name and renamed into place — the
  write-temp-then-rename commit of Structured Streaming's offset and
  commit logs, and no Spark job. Spark's file index skips names starting
  with ``.`` or ``_``, so a reader sees a whole file or none of it.
- **Status and dequeue read an in-memory index of the durable log**, like
  Structured Streaming's state store: ``ingestion_id → batch_ids``,
  ``batch_id → (ids, status)`` and a pending heap. A change reaches the
  index only after its append has committed, so a failed write never
  shows. Opening a pipeline rebuilds the index and the two sequence
  counters from one pyarrow read of each table; no Spark job runs at
  open, in ``status`` or in the dequeue. ``queue_snapshot`` and
  ``processed_results`` are Spark queries over the table directories.
- **Compaction is one more append.** ``compact_log`` commits the latest
  row per batch, results included, as a new part, then deletes the parts
  it folded. Until the deletes finish each folded row is there twice,
  which the latest-row fold ignores, so any crash leaves a valid log.
- **The queue is a heap, ``queue_snapshot`` is its Spark view.** Pending
  batches sit in a min-heap keyed ``(-priority_level, created_at,
  request_seq, batch_seq)`` — the preemption semantics of the reference's
  sort-on-insert queue (test/test_api.js:216-267: HIGH submitted later
  overtakes queued LOW). ``queue_snapshot`` is the same order as a query.
- **One drain loop (A13)**: ``drain_all`` runs ``drain_step`` until the
  queue is empty, and ``_drain_lock`` runs one step at a time per
  pipeline object. Status and ingest do not wait on a running step's
  external calls or pacing sleeps.
- **Pacing (A12) is injectable**: ``DrainConfig.batch_gap``, a sleep after
  each batch, is the only pacing; ``per_id_delay=0.5, batch_gap=5.0``
  reproduce the reference's wall-clock arithmetic (full-batch cycle 6.5 s
  — BASELINE.md). Tests run with zeros and step the loop deterministically
  (SURVEY §5.2.1), so correctness never depends on sleeps.
"""

from __future__ import annotations

import glob
import heapq
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..ingestion.core import priority_level
from ..schemas import (
    BATCH_SIZE,
    MAX_ID,
    MIN_ID,
    PRIORITY_LEVELS,
    STATUS_COMPLETED,
    STATUS_TRIGGERED,
    STATUS_YET_TO_START,
    VALID_PRIORITIES,
)


class InvalidRequest(ValueError):
    """The 400 path (src/app.js:115)."""


class NotFound(KeyError):
    """The 404 path (src/app.js:161-163)."""


def default_external_call(id_: int) -> dict:
    """The simulated external API (src/app.js:28-34): returns
    {id, data:'processed'} after ``per_id_delay`` (the delay itself is
    applied by the caller so tests can zero it)."""
    return {"id": id_, "data": "processed"}


@dataclass
class DrainConfig:
    per_id_delay: float = 0.0  # reference fidelity: 0.5 (src/app.js:32)
    batch_gap: float = 0.0  # reference fidelity: 5.0 (src/app.js:92-94)
    external_call: Callable[[int], dict] = default_external_call


_RESULT = T.StructType(
    [T.StructField("id", T.LongType(), False), T.StructField("data", T.StringType(), False)]
)

_BATCH_LOG_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("log_seq", T.LongType(), False),
        T.StructField("results", T.ArrayType(_RESULT, False), True),  # on ``completed`` only
    ]
)

_BATCH = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("ids", T.ArrayType(T.LongType()), False),
    ]
)

_INGESTIONS_SCHEMA = T.StructType(
    [
        T.StructField("ingestion_id", T.StringType(), False),
        T.StructField("request_seq", T.LongType(), False),
        T.StructField("priority", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("batches", T.ArrayType(_BATCH, False), False),  # in batch order
    ]
)


def _read_state(source: str | list[str], schema: T.StructType) -> pa.Table:
    """A state table (a directory, or a list of its part files) as Arrow,
    read on the driver. A missing directory reads as empty; any other
    failure propagates. INT96 timestamps, which Spark's own parquet writer
    produces, read as the same µs instants as the Arrow-written parts."""
    arrow_schema = to_arrow_schema(schema)
    if isinstance(source, str) and not os.path.isdir(source):  # nothing appended yet
        return arrow_schema.empty_table()
    return pq.read_table(source, schema=arrow_schema, coerce_int96_timestamp_unit="us")


def _latest_rows(log: pa.Table) -> dict[str, dict]:
    """batch_id → its whole log row with the highest ``log_seq``: the
    per-key ``max(struct(log_seq, ...))`` fold, so duplicate rows change
    nothing."""
    latest: dict[str, dict] = {}
    for row in log.to_pylist():
        kept = latest.get(row["batch_id"])
        if kept is None or row["log_seq"] > kept["log_seq"]:
            latest[row["batch_id"]] = row
    return latest


def _after_max(column: pa.ChunkedArray) -> int:
    top = pc.max(column).as_py()
    return 0 if top is None else top + 1


class IngestionPipeline:
    """Library-first ingest/status API (SURVEY §7.2 M3) + drain loop (M2).

    Mirrors the two REST routes:
    - ``ingest(ids, priority)``  → POST /ingest  (src/app.js:106-155)
    - ``status(ingestion_id)``   → GET /status/:id (src/app.js:158-187)
    plus ``drain_step()`` / ``drain_all()`` = one / all cycles of
    processBatches (src/app.js:61-103).

    Single writer: one pipeline object per ``state_dir``. The in-memory
    index is rebuilt from the state tables only when a pipeline is opened,
    by a pyarrow read on the driver, so rows another process appends
    afterwards are not seen, and ``_op_lock`` orders this object's
    operations only. Every state file, compaction's included, is committed
    by :meth:`_append`; compaction deletes the parts it folded but never
    moves the ``batch_log`` directory.

    External calls are at-least-once: a batch whose drain step died
    between its ``triggered`` and ``completed`` transitions is queued again
    when the pipeline is next opened, and its ids are called again.
    Recorded results are exactly-once: they commit with the ``completed``
    row, so a crashed attempt leaves none behind. The state layout is the
    two tables ``ingestions`` and ``batch_log``; directories written in the
    earlier four-table layout are not read.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        config: DrainConfig | None = None,
        clock: Callable[[], datetime] | None = None,
    ):
        """State tables are parquet directories under ``state_dir`` and
        survive restarts: opening a pipeline over an existing directory
        deletes files an interrupted append left under their hidden
        temporary name, then reads the state tables with pyarrow (no Spark
        job) to resume the request and log sequence counters after the
        highest values stored and rebuild the in-memory index (re-queuing
        any batch left ``triggered``)."""
        self.spark = spark
        self.state_dir = state_dir
        self.config = config or DrainConfig()
        self.clock = clock or (lambda: datetime.now(timezone.utc))
        # Run-to-completion lock over state and index: the reference runs
        # every route handler and drain cycle on one Node event loop, so no
        # two operations ever interleave mid-state-mutation. A drain step
        # holds it only around its dequeue + TRIGGERED log and around its
        # COMPLETED log, so status/ingest answer while a batch is in
        # flight, as the Node service does between awaits.
        self._op_lock = threading.RLock()
        # Serializes whole drain steps (A13: one batch at a time, gap
        # included); taken before _op_lock, never while holding it.
        self._drain_lock = threading.Lock()
        os.makedirs(state_dir, exist_ok=True)
        for tmp in glob.glob(os.path.join(state_dir, "*", ".part-*.parquet")):
            os.remove(tmp)  # an append that died before its rename
        self._clear_index()
        self._load_index()

    # -- state table helpers -------------------------------------------------

    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def _read(self, name: str, schema: T.StructType) -> DataFrame:
        path = self._path(name)
        if not os.path.isdir(path):  # nothing appended yet
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(path)

    def _append(self, name: str, rows: list, schema: T.StructType) -> None:
        """Append ``rows`` as one new parquet file, written on the driver.
        Values go through ``schema.toInternal`` first, so a naive datetime
        keeps PySpark's local-time meaning exactly as ``createDataFrame``
        would store it."""
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, schema.toInternal(r.asDict()))) for r in rows],
            schema=to_arrow_schema(schema),
        )
        path = self._path(name)
        os.makedirs(path, exist_ok=True)
        part = f"part-{uuid.uuid4()}.parquet"
        tmp = os.path.join(path, "." + part)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, part))

    # -- in-memory state index ------------------------------------------------

    def _clear_index(self) -> None:
        self._ingestions: dict[str, list[str]] = {}  # ingestion_id → batch_ids
        self._batches: dict[str, tuple[tuple[int, ...], str]] = {}  # → (ids, status)
        # (-priority_level, created_at_us, request_seq, batch_seq, batch_id);
        # entries no longer yet_to_start are dropped when they reach the top
        self._pending: list[tuple] = []

    def _index(self, ingestion: Row | dict, created_at_us: int, latest: dict[str, dict]) -> None:
        """Add one ``ingestions`` row and its batches to the index, each
        with the status of its row in ``latest`` (default yet_to_start). A
        batch left ``triggered`` is logged back to yet_to_start and queued
        again: its drain step died before COMPLETED (see the class
        docstring)."""
        level = PRIORITY_LEVELS[ingestion["priority"]]
        batch_ids = self._ingestions[ingestion["ingestion_id"]] = []
        for batch_seq, batch in enumerate(ingestion["batches"]):
            batch_id = batch["batch_id"]
            status = latest[batch_id]["status"] if batch_id in latest else STATUS_YET_TO_START
            if status == STATUS_TRIGGERED:
                self._log(batch_id, STATUS_YET_TO_START)
                status = STATUS_YET_TO_START
            batch_ids.append(batch_id)
            self._batches[batch_id] = (tuple(batch["ids"]), status)
            if status == STATUS_YET_TO_START:
                entry = (-level, created_at_us, ingestion["request_seq"], batch_seq, batch_id)
                heapq.heappush(self._pending, entry)

    def _load_index(self) -> None:
        """Rebuild the sequence counters and the index from the state
        tables."""
        ingestions = _read_state(self._path("ingestions"), _INGESTIONS_SCHEMA)
        log = _read_state(self._path("batch_log"), _BATCH_LOG_SCHEMA)
        self._request_seq = _after_max(ingestions["request_seq"])
        self._log_seq = _after_max(log["log_seq"])
        latest = _latest_rows(log.drop_columns("results"))
        ingestions = ingestions.append_column(
            "created_at_us", ingestions["created_at"].cast(pa.int64())
        )
        for r in sorted(ingestions.to_pylist(), key=lambda r: r["request_seq"]):
            self._index(r, r["created_at_us"], latest)

    # -- A2-A5: ingest -------------------------------------------------------

    def ingest(self, ids: list, priority: str) -> str:
        """Validate (A2), key-gen (A3), timestamp (A4), chunk (A5), persist.
        Returns the ingestion_id; raises InvalidRequest on the 400 path."""
        with self._op_lock:
            return self._ingest_locked(ids, priority)

    def _ingest_locked(self, ids: list, priority: str) -> str:
        if (
            not isinstance(ids, list)
            or any(
                not isinstance(i, int) or isinstance(i, bool) or not (MIN_ID <= i <= MAX_ID)
                for i in ids
            )
            or priority not in VALID_PRIORITIES
        ):
            raise InvalidRequest("Invalid input")
        ingestion_id = str(uuid.uuid4())
        created_at = self.clock()
        row = Row(
            ingestion_id=ingestion_id,
            request_seq=self._request_seq,
            priority=priority,
            created_at=created_at,
            batches=[
                {"batch_id": str(uuid.uuid4()), "ids": [int(x) for x in ids[i : i + BATCH_SIZE]]}
                for i in range(0, len(ids), BATCH_SIZE)
            ],
        )
        self._append("ingestions", [row], _INGESTIONS_SCHEMA)
        self._request_seq += 1
        self._index(row, T.TimestampType().toInternal(created_at), {})  # as stored
        return ingestion_id

    # -- A14-A17: status -----------------------------------------------------

    def status(self, ingestion_id: str) -> dict:
        """GET /status/:id — point lookup (A14), child join (A15), rollup
        (A16), nested response projection (A17), served from the index."""
        with self._op_lock:
            batch_ids = self._ingestions.get(ingestion_id)
            if batch_ids is None:
                raise NotFound(ingestion_id)
            batches = [
                {"batch_id": b, "ids": list(self._batches[b][0]), "status": self._batches[b][1]}
                for b in batch_ids
            ]
        statuses = [b["status"] for b in batches]
        if all(s == STATUS_COMPLETED for s in statuses):  # vacuously true if empty
            overall = STATUS_COMPLETED
        elif any(s == STATUS_TRIGGERED for s in statuses):
            overall = STATUS_TRIGGERED
        else:
            overall = STATUS_YET_TO_START
        return {"ingestion_id": ingestion_id, "status": overall, "batches": batches}

    # -- A6-A13: drain -------------------------------------------------------

    def _next_pending(self) -> str | None:
        """A6+A7: the batch_id at the top of the pending heap, the first in
        :meth:`queue_snapshot` order. Entries whose batch has left
        ``yet_to_start`` are popped on the way; the top entry itself stays
        until its TRIGGERED transition commits. Caller holds ``_op_lock``."""
        while self._pending:
            batch_id = self._pending[0][-1]
            if self._batches[batch_id][1] == STATUS_YET_TO_START:
                return batch_id
            heapq.heappop(self._pending)
        return None

    def _log(self, batch_id: str, status: str, results: list[dict] | None = None) -> None:
        """Append one status transition, then apply it to the index."""
        self._append(
            "batch_log",
            [Row(batch_id=batch_id, status=status, log_seq=self._log_seq, results=results)],
            _BATCH_LOG_SCHEMA,
        )
        self._log_seq += 1
        if batch_id in self._batches:
            self._batches[batch_id] = (self._batches[batch_id][0], status)

    def drain_step(self) -> str | None:
        """One drain cycle (one loop body of src/app.js:65-96). Returns the
        processed batch_id, or None if the queue was empty. ``_op_lock`` is
        released during the external calls and the pacing sleeps. If an
        external call raises, the batch goes back to ``yet_to_start`` at its
        old queue position and the error propagates; a later step retries
        the whole batch."""
        with self._drain_lock:
            with self._op_lock:
                batch_id = self._next_pending()
                if batch_id is None:
                    return None
                self._log(batch_id, STATUS_TRIGGERED)  # A9
                ids = self._batches[batch_id][0]
            results = []
            try:
                for id_ in ids:  # A10: strictly sequential per-ID calls
                    if self.config.per_id_delay:
                        time.sleep(self.config.per_id_delay)
                    out = self.config.external_call(id_)
                    results.append({"id": int(out["id"]), "data": str(out["data"])})
            except Exception:
                # Queue the batch again. Its heap entry is still in place:
                # only _next_pending pops, and drain steps are serialized.
                with self._op_lock:
                    self._log(batch_id, STATUS_YET_TO_START)
                raise
            with self._op_lock:
                self._log(batch_id, STATUS_COMPLETED, results)  # A11
            if self.config.batch_gap:
                time.sleep(self.config.batch_gap)  # A12: gap AFTER work
            return batch_id

    def drain_all(self) -> int:
        """Drain until empty (the full processBatches loop). Returns the
        number of batches processed."""
        n = 0
        while self.drain_step() is not None:
            n += 1
        return n

    # -- log compaction (the Delta-MERGE production form) --------------------

    def compact_log(self) -> int:
        """Fold the append-only ``batch_log`` into one current-status row
        per batch — the periodic compaction a Delta deployment would run as
        ``MERGE INTO batch_status USING log ON batch_id WHEN MATCHED AND
        log.log_seq > target.log_seq THEN UPDATE ...`` (last write wins).

        The visible parts are folded with :func:`_latest_rows`, the rule
        the index rebuild and ``queue_snapshot`` use, and the folded rows
        are committed by :meth:`_append` before the folded parts are
        deleted. A crash between the two leaves each latest row twice, and
        the fold ignores duplicates, so every crash point leaves a valid
        log and nothing needs recovering at open. A reader that listed the
        parts before the deletes (a Spark DataFrame over ``batch_log``
        built earlier, or another process) may find a listed part gone and
        must list again.

        Returns the number of rows in the compacted log.
        """
        with self._op_lock:
            parts = glob.glob(os.path.join(self._path("batch_log"), "part-*.parquet"))
            if not parts:
                return 0
            latest = _latest_rows(_read_state(parts, _BATCH_LOG_SCHEMA))
            self._append("batch_log", [Row(**r) for r in latest.values()], _BATCH_LOG_SCHEMA)
            for part in parts:
                os.remove(part)
            return len(latest)

    # -- A18: state truncation ----------------------------------------------

    def reset(self) -> None:
        """resetState() (src/app.js:225-235): truncate every state table
        and restart sequence counters — the test-harness hook. On a Delta
        deployment this is TRUNCATE TABLE; on raw parquet state it drops
        the directories. Waits for a running drain step to finish."""
        with self._drain_lock, self._op_lock:
            for name in ("ingestions", "batch_log"):
                shutil.rmtree(self._path(name), ignore_errors=True)
            self._request_seq = 0
            self._log_seq = 0
            self._clear_index()

    # -- observability -------------------------------------------------------

    def queue_snapshot(self) -> DataFrame:
        """The pending set in dequeue order (A6): priority DESC, created_at
        ASC, request_seq ASC, batch_seq ASC — what the reference's
        batchQueue array would contain. Status is the ingestions' exploded
        batches ⟕ latest batch_log entry, default yet_to_start (the A15
        coalesce), folded by the same per-key max as :func:`_latest_rows`
        but as a Spark query, so the view is an independent check on the
        in-memory heap."""
        latest = (
            self._read("batch_log", _BATCH_LOG_SCHEMA)
            .groupBy("batch_id")
            .agg(F.max(F.struct("log_seq", "status")).alias("m"))
            .select("batch_id", F.col("m.status").alias("log_status"))
        )
        return (
            self._read("ingestions", _INGESTIONS_SCHEMA)
            .select("*", F.posexplode("batches").alias("batch_seq", "batch"))
            .select(
                "ingestion_id", "request_seq", "priority", "created_at", "batch_seq", "batch.*"
            )
            .join(latest, "batch_id", "left")
            .withColumn("status", F.coalesce("log_status", F.lit(STATUS_YET_TO_START)))
            .drop("log_status")
            .filter(F.col("status") == STATUS_YET_TO_START)
            .withColumn("priority_level", priority_level("priority"))
            .orderBy(
                F.desc("priority_level"),
                F.asc("created_at"),
                F.asc("request_seq"),
                F.asc("batch_seq"),
            )
        )

    def processed_results(self) -> DataFrame:
        """(batch_id, id, data) for every completed batch, expanded from
        the ``results`` of its ``completed`` row. A compaction that died
        before its deletes leaves that row twice, hence the dedup."""
        return (
            self._read("batch_log", _BATCH_LOG_SCHEMA)
            .filter(F.col("status") == STATUS_COMPLETED)
            .dropDuplicates(["batch_id"])
            .select("batch_id", F.inline("results"))
        )
