"""Constants and the request schema of the ingestion data model.

- ``INGEST_REQUEST_SCHEMA``: raw API inputs, pre-validation
  (reference src/app.js:106-116).
- Priority levels, the valid ID range, the batch size and the batch
  status values the whole package shares (src/app.js:10-14,51,76,88,112,
  123-124).

The service's two durable state tables (``ingestions``, with each
request's batches embedded, and ``batch_log``) and their schemas live in
``streaming/drain.py``, which writes them.

IDs are LongType because the valid range is [1, 1_000_000_007]
(src/app.js:112) which exceeds Int32.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Priority enum (src/app.js:10-14): ordering levels HIGH=3 > MEDIUM=2 > LOW=1.
PRIORITY_LEVELS = {"HIGH": 3, "MEDIUM": 2, "LOW": 1}
VALID_PRIORITIES = tuple(PRIORITY_LEVELS)

# Valid ID range (src/app.js:112): 1 <= id <= 10^9 + 7.
MIN_ID = 1
MAX_ID = 1_000_000_007

# Max IDs per batch (src/app.js:123-124).
BATCH_SIZE = 3

# Status state machine (src/app.js:51,76,88): yet_to_start → triggered → completed.
STATUS_YET_TO_START = "yet_to_start"
STATUS_TRIGGERED = "triggered"
STATUS_COMPLETED = "completed"

INGEST_REQUEST_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.LongType(), False),
        T.StructField("ids", T.ArrayType(T.LongType()), True),
        T.StructField("priority", T.StringType(), True),
        T.StructField("arrival_ts", T.TimestampType(), True),
    ]
)
