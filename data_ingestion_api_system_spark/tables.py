"""Loaders for the driver-provided parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``.

Scale design: parquet scans here are the leaves of every plan, so what
matters at 100 TB is that Catalyst can (a) push predicates into the scan,
(b) prune columns, and (c) prune partitions. Every table is read with a
declared schema taken from its parquet footer (:func:`footer_schema`, a
pyarrow metadata read of well under a millisecond): letting
``spark.read.parquet`` infer the schema instead costs a one-task Spark job
per read. Tables are *never* cached eagerly: each operator composes lazily
so the scan only materializes the columns/rows its plan needs. On a real
cluster the same tables would be written partitioned (e.g. lineitem by
``l_shipdate`` month) and bucketed by join key (``l_orderkey``) to turn the
big orders⋈lineitem shuffle into a co-located join; with a single driver
file per table here, AQE handles split sizing via
``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pyarrow.types as pat
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

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

# Column order the event operators and the events stream were written
# against; a regenerated file that reorders or adds columns keeps this view.
_EVENTS_COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")

# Field-metadata key marking a TIMESTAMP(NANOS) column declared as LongType.
_NANOS = "timestamp_nanos"


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; choose from {TABLE_NAMES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def footer_schema(path: str) -> T.StructType:
    """The Spark read schema of the parquet table at ``path`` (a file or a
    directory of part files), from the footer of its first data file.

    It equals the schema ``spark.read.parquet`` would infer (Spark reads
    every file-source field as nullable whatever the declaration says),
    except for the timestamp-drift rules. ``events.ts`` has shipped as
    TIMESTAMP(NANOS) and as timestamp[us], and the orders/lineitem date
    columns sit one regeneration away from the same drift, so every
    top-level timestamp column must read as the same ``TimestampType``
    instants whatever the footer says:

    - timestamp[ms|us], naive or tz-aware → ``TimestampType``, read
      directly at the scan. Spark would infer ``TimestampNTZType`` for a
      naive column; declaring ``TimestampType`` reads the stored micros as
      instants with no cast projection, so predicates stay pushed down.
    - timestamp[ns] → ``LongType`` marked for :func:`normalize`, which
      sets ``spark.sql.legacy.parquet.nanosAsLong`` (Spark rejects NANOS
      otherwise) and converts with ``timestamp_micros(c div 1000)``.
    - date32 → ``DateType``; :func:`normalize` casts it to a timestamp.
    """
    if os.path.isdir(path):
        parts = sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))
        path = os.path.join(path, parts[0])
    # INT96 (legacy Spark/Impala) timestamps are read by Spark as
    # TimestampType; pyarrow would otherwise report them as timestamp[ns].
    with pq.ParquetFile(path, coerce_int96_timestamp_unit="us") as pf:
        arrow = pf.schema_arrow
    fields = []
    for f in arrow:
        if pat.is_timestamp(f.type) and f.type.unit == "ns":
            fields.append(T.StructField(f.name, T.LongType(), True, {_NANOS: True}))
        elif pat.is_timestamp(f.type):
            fields.append(T.StructField(f.name, T.TimestampType(), True))
        else:
            fields.append(T.StructField(f.name, from_arrow_type(f.type), True))
    return T.StructType(fields)


def normalize(df: DataFrame, name: str) -> DataFrame:
    """Apply :func:`footer_schema`'s drift rules to a batch or streaming
    read of table ``name``: every marked nanos column and every date column
    becomes a ``TimestampType`` column, and ``events`` keeps its declared
    column order."""
    for f in df.schema.fields:
        if f.metadata.get(_NANOS):
            # must stay set for the lifetime of the lazy scan: the parquet
            # reader consults it at execution, not just at analysis
            df.sparkSession.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # integer division, NOT float (precision loss above 2^53 ns),
            # matching DuckDB's nanos→µs truncation
            df = df.withColumn(f.name, F.timestamp_micros(F.expr(f"`{f.name}` div 1000")))
        elif isinstance(f.dataType, T.DateType):
            # midnight UTC: the instants the timestamp[us] encoding stores
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    if name == "events":
        df = df.select(*_EVENTS_COLUMNS)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = table_path(sf_dir, name)
    return normalize(spark.read.schema(footer_schema(path)).parquet(path), name)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL-flavored operators)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
