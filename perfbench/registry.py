"""The ``registry`` workload: a fixed, module-stratified sample of the live
analytics registry, run over seeded tables and checked against DuckDB.

The sample is a pure function of the live registry: per query module, the
first entry by sorted name, run in registry module order. The seed decides
the table contents. The entries and their order stay fixed because the
timed pass is each entry's first execution in the session: a seeded choice
of entries moved the pass time by about a fifth from seed to seed, and a
seeded order moved the median entry time by a quarter, as the one-off
costs of a cold session land on whichever entry first needs them.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql.streaming import StreamingQueryListener

from .trace import plan_ms


def module_entries() -> dict[str, list[str]]:
    """Query module (relative name) → its registry entry names, sorted."""
    from data_ingestion_api_system_spark.operators import all_query_modules

    return {
        m.__name__.split(".", 1)[1]: sorted(m.QUERIES) for m in all_query_modules()
    }


def sample(by_module: dict[str, list[str]]) -> list[tuple[str, str]]:
    """(module, entry) pairs: the first entry by name of every module."""
    return [(mod, names[0]) for mod, names in by_module.items() if names]


class Oracle:
    """DuckDB over the same parquet files, compared the way
    tools/check_oracle.py compares (its ``normalize``, imported)."""

    def __init__(self, root: str, sf_dir: str):
        import duckdb

        sys.path.insert(0, os.path.join(root, "tools"))
        from check_oracle import TABLES, normalize

        self.normalize = normalize
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def check(self, name: str, sql: str | None, pdf) -> str | None:
        """Problem with ``pdf`` as the result of entry ``name``, or None.
        Without an oracle query only a non-empty result is required."""
        if sql is None:
            return None if len(pdf) else "empty result and no oracle to compare"
        cols, rows = self.normalize(self.con.execute(sql).fetchdf())
        got_cols, got_rows = self.normalize(pdf)
        if got_cols != cols:
            return f"columns {got_cols} != oracle {cols}"
        if len(got_rows) != len(rows):
            return f"{len(got_rows)} rows != oracle {len(rows)}"
        if got_rows != rows:
            return "values differ from the oracle"
        return None


def touch_tables(spark, sf_dir: str, tracer) -> None:
    """Resolve every table once (parquet footer read and schema adaptation,
    the ``tables.resolve`` span), then count its rows, which warms the scan
    path every entry shares before the timed pass."""
    from data_ingestion_api_system_spark.tables import TABLE_NAMES, load_table

    for t in TABLE_NAMES:
        with tracer.span("tables.resolve", key=t, jobs=True):
            df = load_table(spark, sf_dir, t)
        df.count()


def run_pass(spark, sf_dir: str, order, queries: dict, tracer) -> list[dict]:
    """Run each entry once: call (DataFrame build), then ``toPandas()``.
    Returns one record per entry with its wall times and result."""
    from data_ingestion_api_system_spark.operators import release_pins

    records = []
    for mod, name in order:
        with tracer.span("registry.entry", key=name):
            t0 = time.perf_counter()
            with tracer.span(f"{mod}.build", jobs=True):
                df = queries[name](spark, sf_dir)
            t1 = time.perf_counter()
            with tracer.span(f"{mod}.exec", jobs=True) as exec_span:
                pdf = df.toPandas()
            t2 = time.perf_counter()
            if exec_span is not None:
                exec_span.counters["plan_ms"] = tracer.timed(plan_ms, df)
        release_pins()
        records.append(
            {"module": mod, "entry": name, "build_s": t1 - t0, "exec_s": t2 - t1, "result": pdf}
        )
    return records


class ProgressListener(StreamingQueryListener):
    """Sums the progress reports of every streaming micro-batch."""

    def __init__(self):
        self.micro_batches = 0
        self.trigger_ms = 0.0
        self.add_batch_ms = 0.0
        self.commit_ms = 0.0
        self.state_rows = 0

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        d = p.durationMs
        self.micro_batches += 1
        self.trigger_ms += d.get("triggerExecution", 0)
        self.add_batch_ms += d.get("addBatch", 0)
        self.commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        self.state_rows += sum(s.numRowsTotal for s in p.stateOperators)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def add_listener(spark) -> ProgressListener:
    listener = ProgressListener()
    spark.streams.addListener(listener)
    return listener


def remove_listener(spark, listener: ProgressListener) -> dict:
    """Let the listener bus deliver the last progress events, detach the
    listener and return its totals."""
    seen = -1
    while seen != listener.micro_batches:
        seen = listener.micro_batches
        time.sleep(0.5)
    spark.streams.removeListener(listener)
    return dict(vars(listener))
