"""File-format connectors (SURVEY §2 Part C sources/sinks): parquet is the
system of record; CSV/JSON/ORC are interchange formats with explicit
schemas (never inferSchema in production — a schema-inference pass is a
full extra read of the data).

Scale notes:
- Writers take a ``partition_by`` so large outputs lay down
  partition-pruned directory trees (e.g. events by day): readers then skip
  whole directories on time-range predicates.
- JSON/CSV are row formats — no column pruning, no predicate pushdown, no
  statistics. The helpers exist for ingest/export edges; anything queried
  repeatedly should be converted to parquet (``convert_to_parquet``).
- Kafka connector: the builder method is provided but requires the
  connector jars on the classpath; without them it raises a clear error
  rather than failing deep inside Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "orc":
        writer.orc(path)
    elif fmt == "parquet":
        writer.parquet(path)
    elif fmt == "xml":
        # Spark 4 native XML (no external package); rowTag is mandatory
        writer.option("rootTag", "rows").option("rowTag", "row").format(
            "xml"
        ).save(path)
    else:
        raise ValueError(f"unsupported format {fmt!r}")


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """``options`` passes reader options through — e.g.
    ``{"mergeSchema": "true"}`` for parquet schema evolution (readers see
    the union schema across files; columns absent in older files read as
    null). Merge is a footer-only operation, but at 100 TB prefer a
    declared union schema over per-query footer merging."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    # format defaults first, caller options after — so options can
    # override the csv/xml defaults rather than being clobbered by them
    if fmt == "csv":
        reader = reader.option("header", "true")
    if fmt == "xml":
        reader = reader.option("rowTag", "row")
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    if fmt == "csv":
        return reader.csv(path)
    if fmt == "json":
        return reader.json(path)
    if fmt == "orc":
        return reader.orc(path)
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "xml":
        return reader.format("xml").load(path)
    raise ValueError(f"unsupported format {fmt!r}")


def convert_to_parquet(
    spark: SparkSession,
    src_path: str,
    src_fmt: str,
    dest_path: str,
    schema: T.StructType | str | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Ingest-edge conversion: row format in, parquet out (the first thing
    a 100 TB pipeline does to interchange data)."""
    write_table(
        read_table(spark, src_path, src_fmt, schema),
        dest_path,
        "parquet",
        partition_by=partition_by,
    )


def stream_source(
    spark: SparkSession,
    fmt: str,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Generic streaming-source builder: one place where readStream
    format/options plumbing lives. The Kafka path composes this with
    its connector options; tests exercise the very same plumbing with the
    built-in ``rate-micro-batch`` source (no external jars), so a typo in
    the option loop can't hide behind the missing Kafka classpath
    (tests/test_stream_sources.py)."""
    reader = spark.readStream
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.format(fmt).load()


def kafka_stream_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    extra_options: dict[str, str] | None = None,
) -> DataFrame:
    """Kafka streaming source for the ingest pipeline (BASELINE.json
    'REST/Kafka sources'). Requires the spark-sql-kafka package on the
    classpath — not present in this container, so fail fast with context.
    ``extra_options`` passes through e.g. startingOffsets/maxOffsetsPerTrigger
    (the latter is the knob that bounds per-micro-batch work at scale).
    """
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        **(extra_options or {}),
    }
    try:
        return stream_source(spark, "kafka", opts)
    except Exception as e:  # noqa: BLE001
        raise RuntimeError(
            "Kafka source requires the spark-sql-kafka connector jars "
            "(org.apache.spark:spark-sql-kafka-0-10) on the classpath"
        ) from e


# Kafka record wire shape (what spark-sql-kafka emits): used to synthesize
# connector-shaped frames in tests and to document what parse_kafka_ingest
# consumes.
KAFKA_RECORD_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)

_INGEST_REQUEST_JSON_SCHEMA = "ids array<bigint>, priority string"


def parse_kafka_ingest(records: DataFrame) -> DataFrame:
    """Decode Kafka-shaped records (``value`` = JSON ingest request bytes)
    into the ingest-request rows the A2 validation filter consumes:
    (request_id, ids, priority, arrival_ts). ``request_id`` is the Kafka
    offset — unique per partition and monotone, the natural surrogate when
    requests arrive via a log instead of HTTP. Works identically on a real
    ``kafka_stream_source`` stream and on any batch/stream frame matching
    KAFKA_RECORD_SCHEMA, so the decode logic is testable without the
    connector jars (reference parity: src/app.js:106-119 does the same
    body-parse → validate → stamp sequence on the HTTP path)."""
    from pyspark.sql import functions as F

    parsed = records.select(
        F.col("offset").alias("request_id"),
        F.from_json(
            F.col("value").cast("string"), _INGEST_REQUEST_JSON_SCHEMA
        ).alias("req"),
        F.col("timestamp").alias("arrival_ts"),
    )
    return parsed.select(
        "request_id",
        F.col("req.ids").alias("ids"),
        F.col("req.priority").alias("priority"),
        "arrival_ts",
    )
