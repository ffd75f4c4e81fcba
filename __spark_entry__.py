"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json). The session passed in need not be
``get_spark()``'s, so every entry point goes through the registry
(``collect_queries()``), which applies ``operators.tune()`` before each
entry.

Implementation lives in ``data_ingestion_api_system_spark``; this module is
a thin aggregator so the package stays importable on its own.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from data_ingestion_api_system_spark.operators import collect_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the reference's defining
    computation — the per-ingestion status rollup (SURVEY §2 A15-A17) over
    the deterministic workload derived from orders/lineitem."""
    q_pipeline_status_rollup = queries()["pipeline_status_rollup"]
    return q_pipeline_status_rollup(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    q, _ = collect_queries()
    return q


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query; keys absent
    here (but present in ``queries()``) get a rows-only check."""
    _, o = collect_queries()
    return o
