"""PySpark-native analytics engine with the capabilities of the reference
``VanshVadhwa/Data-Ingestion-API-System`` (an async, priority-ordered,
rate-limited batch-ingestion REST service; see SURVEY.md).

Layout
------
- ``session``    : SparkSession factory tuned for local[N] and cluster scale.
- ``tables``     : loaders for the driver's parquet tables (TPC-H-ish star
                   schema + events/documents/embeddings).
- ``schemas``    : the ingestion request schema and the constants of the
                   reference's data model (priorities, ID range, batch size,
                   statuses).
- ``ingestion``  : the reference's core dataflow (validate → chunk → order →
                   rollup) as pure DataFrame transforms (SURVEY §2 A2-A6,
                   A15-A16).
- ``streaming``  : the stateful drain loop (SURVEY §2 A7-A13) as a
                   Structured Streaming query with deterministic stepping.
- ``operators``  : the query capability layer (SURVEY §2 Part C): relational,
                   window, set ops, dedup, similarity search, text analysis,
                   event-stream analytics.
- ``functions``  : shared column-expression helpers (exact decimal sums for
                   oracle parity, cosine similarity, tokenization, hashing).
"""

__version__ = "0.1.0"
