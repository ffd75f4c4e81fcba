"""Loaders for the driver-provided parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scale design: parquet scans here are the leaves of every plan, so what
matters at 100 TB is that Catalyst can (a) push predicates into the scan,
(b) prune columns, and (c) prune partitions. We read with
``spark.read.parquet`` (no schema inference cost — parquet is self
describing) and *never* cache eagerly: each operator composes lazily so the
scan only materializes the columns/rows its plan needs. On a real cluster
the same tables would be written partitioned (e.g. lineitem by
``l_shipdate`` month) and bucketed by join key (``l_orderkey``) to turn the
big orders⋈lineitem shuffle into a co-located join; with a single driver
file per table here, AQE handles split sizing via
``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables carrying a timestamp-typed column, i.e. the surface exposed to the
# encoding-drift failure class that cost round 4 nineteen queries when the
# regenerated events.ts footer switched to TIMESTAMP(NANOS). Every such
# column loads through the schema-adaptive path below so a regeneration of
# ANY of these tables (nanos, ntz, or date32 re-encoding) keeps the exact
# same TimestampType view the operators and oracles were built against.
_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; choose from {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name in _TS_COLUMNS:
        df = _load_ts_normalized(spark, path, _TS_COLUMNS[name])
        if name == "events":
            df = df.select(
                "event_id", "ts", "user_id", "event_type", "value", "props"
            )
        return df
    return spark.read.parquet(path)


def _load_ts_normalized(
    spark: SparkSession, path: str, ts_cols: tuple[str, ...]
) -> DataFrame:
    """Schema-adaptive loader for tables with timestamp columns.

    ``events.ts`` has shipped in two physical encodings across testdata
    generations: plain parquet TIMESTAMP(MICROS) (directly readable) and
    TIMESTAMP(NANOS) (which Spark rejects unless
    ``spark.sql.legacy.parquet.nanosAsLong`` exposes it as raw int64) —
    and the orders/lineitem date columns sit one regeneration away from
    the same drift. We inspect the *resolved* schema and normalize every
    declared column to ``TimestampType`` so downstream operators see
    identical instants regardless of the footer:

    - TimestampType        → pass through
    - TimestampNTZType     → re-read with the column forced to
                             TimestampType in the read schema: the stored
                             micros are read directly as instants AT THE
                             SCAN (no cast projection, timezone-independent
                             under the pinned UTC session, and predicates
                             stay pushdown/row-group-prunable)
    - LongType (raw nanos) → ``timestamp_micros(col div 1000)`` — integer
                             division, NOT float (precision loss above
                             2^53 ns), matching DuckDB nanos→µs truncation
    - DateType (date32)    → cast to timestamp (midnight UTC), the exact
                             instants the timestamp[us] encoding stores
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    try:
        raw = spark.read.parquet(path)
    except Exception:
        # TIMESTAMP(NANOS) footer: only readable via the legacy conf. It
        # must stay set for the lifetime of the lazy scan (the parquet
        # reader consults it at execution, not just schema resolution).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(path)
    ntz_cols = [
        c
        for c in ts_cols
        if isinstance(raw.schema[c].dataType, T.TimestampNTZType)
    ]
    if ntz_cols:
        forced = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.TimestampType() if f.name in ntz_cols else f.dataType,
                    f.nullable,
                )
                for f in raw.schema.fields
            ]
        )
        raw = spark.read.schema(forced).parquet(path)
    for c in ts_cols:
        dt = raw.schema[c].dataType
        if isinstance(dt, T.LongType):
            raw = raw.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif isinstance(dt, T.DateType):
            raw = raw.withColumn(c, F.col(c).cast("timestamp"))
    return raw


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL-flavored operators)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
