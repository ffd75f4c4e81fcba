"""SparkSession factory.

Every setting is chosen to be the right default both on a local[N] box
and on a real multi-executor cluster at ~100 TB scale:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic broadcast conversion replace hand-tuned partition counts when data
  volume changes by orders of magnitude.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE coalesces
  down for small inputs and the 100 TB deployment would raise it (rule of
  thumb: ~2-3x total cores, with AQE target size ~64-128 MB per partition).
- Arrow enabled: every Pandas-UDF path (similarity, multimodal stubs) moves
  data in columnar batches rather than pickled rows.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle exactly.
- Sized from the box the process sees: ``local[N]`` with N its CPU
  affinity, and a driver heap of ``HEAP_FRACTION`` of physical memory
  (capped by the cgroup's ``memory.max`` when readable).
  ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override either.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The driver JVM's resident set runs well past its heap (off-heap buffers,
# metaspace) and Python workers sit beside it: a 16g heap on a 15 GiB box
# was OOM-killed at sf0.1, while 6g (this fraction of it) ran every entry.
HEAP_FRACTION = 0.375
_CGROUP_MEMORY_MAX = "/sys/fs/cgroup/memory.max"


def default_driver_memory() -> str:
    """``HEAP_FRACTION`` of physical memory, capped by the cgroup's
    ``memory.max`` when it is readable and set, as a JVM size."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open(_CGROUP_MEMORY_MAX) as f:
            limit = f.read().strip()
    except OSError:
        limit = ""
    if limit.isdigit():
        mem = min(mem, int(limit))
    return f"{int(mem * HEAP_FRACTION) >> 20}m"


def get_spark(
    app_name: str = "data_ingestion_api_system_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``shuffle_partitions`` defaults to the core count. On a
    1000-executor cluster this should be sized so a post-shuffle partition is
    ~64-128 MB; AQE's ``coalescePartitions`` makes the initial value a ceiling
    rather than an exact choice, so erring high is safe.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
