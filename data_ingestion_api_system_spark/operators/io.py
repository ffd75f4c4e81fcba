"""Certified sink→source roundtrip operators: the write path (partitioned
parquet layout, the on-disk shape every lakehouse table uses) exercised
inside a registry entry so the driver's oracle gate certifies the SINK as
well as the scans. Complements ``sources/formats.py`` (format builders,
shape-tested) by putting an actual write→read→prune cycle behind an exact
oracle.

Reference tie-in: the reference persists ingested records into in-memory
Maps keyed by id (``src/app.js:17-21``); the warehouse equivalent of that
persistence is a partitioned columnar table whose layout makes the next
query's predicate a DIRECTORY prune rather than a scan.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import exact_sum, sql_exact_sum
from ..sources.formats import read_table, write_table
from ..tables import load_table


@functools.cache
def _roundtrip_root(warehouse: str) -> str:
    """This process's round-trip directory under the session's warehouse
    (``spark.sql.warehouse.dir``, a ``file:`` URI): ``io_roundtrip/pid<N>``.
    Pid-suffixed so concurrent runs (two oracle checks at the same sf)
    never share a directory; each entry adds its own sf-suffixed
    subdirectory. At first use the directory is registered for removal at
    exit, and sibling pid dirs whose process died without that
    (SIGKILL/OOM) are swept."""
    parent = os.path.join(urlparse(warehouse).path, "io_roundtrip")
    root = os.path.join(parent, f"pid{os.getpid()}")
    _sweep_orphaned_pid_dirs(parent)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _sweep_orphaned_pid_dirs(parent: str) -> None:
    """Best-effort removal of pid* dirs under ``parent`` whose process is
    dead: os.kill(pid, 0) raises ProcessLookupError. Pids we can't signal
    (EPERM) or can't parse are left alone."""
    try:
        siblings = os.listdir(parent)
    except OSError:
        return
    for name in siblings:
        if not name.startswith("pid"):
            continue
        try:
            pid = int(name[3:])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
        except OSError:
            pass


def _dest(spark: SparkSession, sf_dir: str, prefix: str = "") -> str:
    """Where an entry writes its round trip of ``sf_dir``'s tables."""
    root = _roundtrip_root(spark.conf.get("spark.sql.warehouse.dir"))
    return os.path.join(root, prefix + os.path.basename(os.path.normpath(sf_dir)))


IO_KEEP_TYPES = ("click", "purchase")


def q_io_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events PARTITIONED BY event_type, read the table back, and
    aggregate only two partitions — certifying the full sink→source→prune
    cycle: the write lays out one directory per type (the Hive layout
    Delta/Iceberg/plain-Spark tables share), and the read-back filter
    becomes a PartitionFilters entry (asserted by tools/plan_gate.py),
    i.e. 3/5 of the data is never opened. The aggregate must equal the
    oracle computed straight from the original table — any row lost,
    duplicated, or type-mangled by the roundtrip breaks the hash match.

    Scale notes: partition-by-low-cardinality-column is exactly how a
    100 TB event table is laid out (type/date directories); the write
    shuffles nothing (each task writes its partition-local split files —
    append-parallel), and `layout_compaction_bins` is the follow-up job
    that right-sizes the resulting small files. The ts column is excluded
    deliberately: parquet TIMESTAMP(NANOS) round-trips through the
    rewrite as TIMESTAMP(MICROS), which would change the on-disk type —
    a real schema-evolution concern the loader handles for the SOURCE
    tables (tables.footer_schema), out of scope for the sink
    certification."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    dest = _dest(spark, sf_dir)
    write_table(ev, dest, "parquet", partition_by=["event_type"])
    back = read_table(spark, dest, "parquet").filter(
        F.col("event_type").isin(*IO_KEEP_TYPES)
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("event_id").cast("bigint").alias("n_distinct_ids"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        exact_sum("value").alias("sum_value"),
    )


_ORACLE_ROUNDTRIP = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       {sql_exact_sum('value')} AS sum_value
FROM events
WHERE event_type IN {IO_KEEP_TYPES!r}
GROUP BY event_type
"""


def q_io_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certify the CSV sink→source cycle the same way the parquet entry
    certifies the columnar one: write an events projection as
    header-ful CSV (the interchange format every external consumer still
    asks for), read it back under an EXPLICIT schema, and aggregate —
    hash-equal to the oracle computed off the original parquet.

    Type discipline: value is converted to exact BIGINT micro-units
    BEFORE the write — floats through a text format re-parse through two
    different dtoa/strtod stacks, so a production CSV contract pins
    integers/decimals/strings only (this is the documented reason the
    column set differs from the parquet entry). Schema-on-read is
    declared, never inferred: inference would re-scan the files (2 full
    passes at 100 TB) and can widen types between runs.

    Scale: CSV writes are append-parallel per task like any sink; the
    read side splits on newlines so parallelism survives, but no column
    pruning/predicate pushdown exists — the plan audit asserts pushdown
    on the PARQUET entry and this entry documents the contrast."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        (F.col("value").cast("decimal(18,4)") * 10000)
        .cast("bigint")
        .alias("value_micros"),
    )
    dest = _dest(spark, sf_dir, "csv_")
    write_table(ev, dest, "csv")
    back = read_table(
        spark,
        dest,
        "csv",
        schema="event_id long, event_type string, user_id long, value_micros long",
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("event_id").cast("bigint").alias("n_distinct_ids"),
        F.sum("value_micros").cast("bigint").alias("sum_value_micros"),
        F.min("user_id").cast("bigint").alias("min_user"),
        F.max("user_id").cast("bigint").alias("max_user"),
    )


_ORACLE_CSV_ROUNDTRIP = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT)
         AS sum_value_micros,
       CAST(min(user_id) AS BIGINT) AS min_user,
       CAST(max(user_id) AS BIGINT) AS max_user
FROM events
GROUP BY event_type
"""


def q_io_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certify the JSON-lines sink→source cycle with NESTING — the thing
    CSV structurally can't carry: each event is written as
    {event_id, event_type, payload: {user_id, value_micros}}, read back
    under an explicit nested schema, and the aggregate over the NESTED
    fields must hash-match the oracle computed flat off parquet. This is
    the interchange shape of every webhook/export API; the declared
    read-schema again avoids the 2-pass inference scan (and silent type
    widening) at 100 TB. Same integer-micros discipline as the CSV entry —
    floats never transit a text format."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.struct(
            F.col("user_id"),
            (F.col("value").cast("decimal(18,4)") * 10000)
            .cast("bigint")
            .alias("value_micros"),
        ).alias("payload"),
    )
    dest = _dest(spark, sf_dir, "json_")
    write_table(ev, dest, "json")
    back = read_table(
        spark,
        dest,
        "json",
        schema=(
            "event_id long, event_type string, "
            "payload struct<user_id: long, value_micros: long>"
        ),
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("payload.user_id").cast("bigint").alias("n_users"),
        F.sum("payload.value_micros").cast("bigint").alias("sum_value_micros"),
        F.max("payload.user_id").cast("bigint").alias("max_user"),
    )


_ORACLE_JSON_ROUNDTRIP = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT)
         AS sum_value_micros,
       CAST(max(user_id) AS BIGINT) AS max_user
FROM events
GROUP BY event_type
"""


def q_io_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certify the ORC sink→source cycle — the second TYPED columnar
    format (the Hive-lineage twin of parquet that warehouse migrations
    still move through). Unlike the CSV/JSON entries, which restrict
    themselves to integers because floats can't safely transit a text
    format, ORC carries real types natively: this entry round-trips a
    DECIMAL(18,4) measure and a DATE column through the file format and
    proves both survived bit-exact — the aggregate over the read-back
    table must hash-match the oracle computed off the original parquet
    (`exact_sum` decimal discipline on both sides; dates compared as ISO
    strings per the cross-engine date rule).

    Scale: identical posture to the parquet entry — append-parallel
    writes, split-parallel reads, column projection honored by the ORC
    reader (it strips unread columns like parquet does); ts is projected
    to DATE before the write so the entry certifies a type that
    round-trips identically across parquet/ORC epochs (raw TIMESTAMP
    precision is a parquet-NANOS-vs-ORC-nanos evolution concern the
    partitioned entry already documents)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "user_id",
        F.col("value").cast("decimal(18,4)").alias("value_dec"),
        F.to_date("ts").alias("day"),
    )
    dest = _dest(spark, sf_dir, "orc_")
    write_table(ev, dest, "orc")
    back = read_table(
        spark,
        dest,
        "orc",
        schema=(
            "event_id long, event_type string, user_id long, "
            "value_dec decimal(18,4), day date"
        ),
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("event_id").cast("bigint").alias("n_distinct_ids"),
        F.round(F.sum("value_dec"), 2).cast("double").alias("sum_value"),
        F.min(F.col("day").cast("string")).alias("min_day"),
        F.max(F.col("day").cast("string")).alias("max_day"),
    )


_ORACLE_ORC_ROUNDTRIP = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_ids,
       CAST(ROUND(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value,
       CAST(min(CAST(ts AS DATE)) AS VARCHAR) AS min_day,
       CAST(max(CAST(ts AS DATE)) AS VARCHAR) AS max_day
FROM events
GROUP BY event_type
"""


def q_io_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certify parquet SCHEMA EVOLUTION through the sink: a 'legacy' batch
    (two columns) and an 'evolved' batch (adds priority_code) land in the
    same table root as key=value batch directories; the read-back merges
    footers (mergeSchema) so legacy rows surface the new column as NULL,
    and the per-batch aggregate must hash-match the oracle computed
    straight from the original table — a dropped row, a mis-defaulted
    column, or a partition-column mixup all break the gate.

    Scale notes: schema evolution by footer-union is exactly how a 100 TB
    lake table absorbs new columns without rewriting history; the entry's
    read declares mergeSchema per-query, while the docstring contract (and
    `sources/formats.py:read_table`) records that a production reader
    should pin the union schema instead of re-merging footers every query.
    Writes stay append-parallel; the batch directory IS the partition
    pruning boundary for backfills."""
    orders = load_table(spark, sf_dir, "orders")
    legacy = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey"
    )
    evolved = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_custkey",
        F.length("o_orderpriority").cast("int").alias("priority_code"),
    )
    dest = _dest(spark, sf_dir, "evo_")
    write_table(legacy, os.path.join(dest, "batch=legacy"), "parquet")
    write_table(evolved, os.path.join(dest, "batch=evolved"), "parquet")
    back = read_table(spark, dest, "parquet", options={"mergeSchema": "true"})
    return back.groupBy("batch").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("priority_code").cast("bigint").alias("n_with_code"),
        F.sum(F.col("priority_code").isNull().cast("int"))
        .cast("bigint")
        .alias("n_null_code"),
        F.coalesce(F.sum("priority_code"), F.lit(0))
        .cast("bigint")
        .alias("sum_code"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_custs"),
    )


_ORACLE_SCHEMA_EVOLUTION = """
SELECT 'legacy' AS batch,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_with_code,
       CAST(count(*) AS BIGINT) AS n_null_code,
       CAST(0 AS BIGINT) AS sum_code,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT 'evolved' AS batch,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_with_code,
       CAST(0 AS BIGINT) AS n_null_code,
       CAST(sum(length(o_orderpriority)) AS BIGINT) AS sum_code,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders WHERE o_orderkey % 2 = 1
"""


QUERIES = {
    "io_schema_evolution": q_io_schema_evolution,
    "io_partitioned_roundtrip": q_io_partitioned_roundtrip,
    "io_csv_roundtrip": q_io_csv_roundtrip,
    "io_json_roundtrip": q_io_json_roundtrip,
    "io_orc_roundtrip": q_io_orc_roundtrip,
}

ORACLE = {
    "io_schema_evolution": _ORACLE_SCHEMA_EVOLUTION,
    "io_partitioned_roundtrip": _ORACLE_ROUNDTRIP,
    "io_csv_roundtrip": _ORACLE_CSV_ROUNDTRIP,
    "io_json_roundtrip": _ORACLE_JSON_ROUNDTRIP,
    "io_orc_roundtrip": _ORACLE_ORC_ROUNDTRIP,
}
