"""Query capability layer (SURVEY.md §2 Part C + BASELINE.json north star).

Each module exposes two dicts:
- ``QUERIES``: name → callable(spark, sf_dir) → DataFrame
- ``ORACLE``:  name → equivalent DuckDB SQL (omitted for ops that are not
  SQL-expressible; the driver then records a rows-only check)

``__spark_entry__.py`` aggregates them all through ``collect_queries()``,
which applies ``tune`` before every entry.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def _size_bytes(conf_value: str, default: int = 128 * 2**20) -> int:
    """Parse a Spark byte-size conf string ('134217728', '134217728b',
    '128m', '1g')."""
    s = str(conf_value).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in "kmg":
        mult = {"k": 2**10, "m": 2**20, "g": 2**30}[s[-1]]
        s = s[:-1]
    try:
        return int(s) * mult
    except ValueError:
        return default


def _is_narrow_scan(df: DataFrame, target: int) -> bool:
    """True when the DataFrame's leaf scan will plan fewer than ``target``
    partitions. Metadata-only probe (leaf file list + driver-side stat,
    each file contributing ceil(size/maxPartitionBytes) splits) — no
    ``df.rdd`` conversion, which would force a full Python-RDD plan per
    call (ADVICE r5). Non-local paths we can't stat count as one split
    each, which at worst repartitions an input that was already wide — a
    cheap no-op-equivalent for the tiny inputs this guards."""
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= target:
        return False
    max_bytes = _size_bytes(
        df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728b"
        )
    )
    splits = 0
    for uri in files:
        parsed = urlparse(uri)
        splits += 1
        if parsed.scheme in ("file", ""):
            try:
                size = os.stat(parsed.path or uri).st_size
                splits += max(0, (size - 1) // max_bytes)
            except OSError:
                pass
        if splits >= target:
            return False
    return True


def spread(df: DataFrame) -> DataFrame:
    """Repartition a compute-heavy narrow input up to the session's default
    parallelism. The harness tables are ONE parquet file each (a single row
    group), so the scan gets a single partition and every per-row expression
    downstream runs serially in one task — profiled at ~5 s/task for
    shingle+md5 work at sf0.1 while 31 cores idle (worse: broadcast-exchange
    builders race the cache and re-run that serial task 2-3×). One tiny
    round-robin shuffle of the raw rows buys full-width execution. On a real
    100 TB layout the input arrives in thousands of splits and this guard
    short-circuits to a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if not _is_narrow_scan(df, target):
        return df
    return df.repartition(target)


def spread_by(df: DataFrame, *cols: str) -> DataFrame:
    """Like :func:`spread`, but hash-partitions on ``cols`` instead of
    round-robin — for inputs whose next stateful operator groups or joins
    on exactly those columns. A downstream ``groupBy(cols)`` then reuses
    this partitioning and plans NO further exchange, so the total shuffle
    count is one, not two. That matters most for non-reducing aggregates
    (``collect_list``: partial aggregation doesn't shrink the data, so the
    classic partial→exchange→final plan ships the same bytes TWICE — once
    as round-robin spread, once as partials). On a layout already bucketed
    by ``cols`` this no-ops and the aggregate is shuffle-free end to end."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if not _is_narrow_scan(df, target):
        return df
    return df.repartition(target, *cols)


def tune(spark: SparkSession) -> SparkSession:
    """Runtime confs every query needs regardless of who built the session:
    UTC so timestamp semantics match the DuckDB oracle; AQE on so small-SF
    runs coalesce their shuffles and large-SF runs split skew.

    ``collect_queries`` applies it before every registry entry, so no
    entry calls it. Calling a ``q_*`` function directly leaves these confs
    to the caller's session, as ``session.get_spark`` sets them."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    return spark


# Persisted intermediates registered for explicit release. Two distinct uses:
# (a) recompute savers — one logical table feeding several plan branches
#     (basket mining, triangle edges), where eviction merely re-runs work;
# (b) determinism pins — global_ntile's range-partitioned layout, where the
#     physical property being observed (partition boundaries sampled by
#     repartitionByRange, row order behind monotonically_increasing_id) is
#     fixed per MATERIALIZATION, so every consuming branch must read one
#     shared materialization. Partition-level recomputation after LRU
#     eviction replays the same partitioner over the same lineage, so
#     eviction is safe; what would NOT be safe is two independent cache-less
#     materializations, which is exactly what persist-at-the-analyzed-plan
#     prevents (both branches resolve to the same InMemoryRelation).
# release_pins() frees executor storage from test teardown / between bench
# queries — only call it after the consuming query has materialized.
_PINNED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) + register the handle for release_pins()."""
    from pyspark import StorageLevel

    df.persist(StorageLevel.MEMORY_AND_DISK)
    _PINNED.append(df)
    return df


def release_pins() -> None:
    """Unpersist every pinned DataFrame (idempotent; tolerates a stopped
    session). Call from test teardown or between benchmark queries, AFTER
    consumers have materialized — a determinism pin released mid-query
    would let two branches re-materialize independently."""
    pinned, _PINNED[:] = _PINNED[:], []
    for df in pinned:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped / relation already evicted


def fresh_build(spark: SparkSession, fn: QueryFn, sf_dir: str) -> DataFrame:
    """Build one registry entry against a virgin cache: release every pin
    and clear the session cache first, so no earlier entry's persisted
    subtree is substituted into this entry's plan or timing."""
    release_pins()
    spark.catalog.clearCache()
    return fn(spark, sf_dir)


_MID_BITS = 33  # monotonically_increasing_id: partition id << 33 | row number


def _terasort_layout(df: DataFrame, order):
    """The shared prologue of every distributed-rank recipe here
    (global_ntile / grouped_global_rank / grouped_global_cumsum): ONE
    range exchange over ``order`` (list of Columns with direction) + an
    in-partition sort, pin()ned because range boundaries are sampled per
    materialization, then ``monotonically_increasing_id`` decoded into
    (``__ts_pid``, ``__ts_lrank``) — partition id and 1-based
    partition-local rank — with zero further shuffle."""
    from pyspark.sql import functions as F

    parts = df.sparkSession.sparkContext.defaultParallelism
    ranked = pin(df.repartitionByRange(parts, *order).sortWithinPartitions(*order))
    return ranked.select(
        "*", F.monotonically_increasing_id().alias("__ts_mid")
    ).select(
        "*",
        F.shiftrightunsigned("__ts_mid", _MID_BITS).cast("bigint").alias("__ts_pid"),
        (
            F.col("__ts_mid").bitwiseAND(F.lit((1 << _MID_BITS) - 1)) + F.lit(1)
        ).alias("__ts_lrank"),
    ).drop("__ts_mid")


def _prefix_offsets(meta: DataFrame, group_cols: list, val_col: str, zero):
    """Per-(``__ts_pid``[, group]) EXCLUSIVE prefix totals of ``val_col``
    over ascending partition id within the same group — the broadcast
    metadata self-join every TeraSort recipe uses to turn partition-local
    figures into global ones. ``meta`` is ≤ partitions×|groups| rows, so
    both the join side and the result broadcast."""
    from pyspark.sql import functions as F

    renames = {g: f"__po_{g}" for g in group_cols}
    m2 = meta.select(
        F.col("__ts_pid").alias("__po_pid"),
        *[F.col(g).alias(renames[g]) for g in group_cols],
        F.col(val_col).alias("__po_val"),
    )
    cond = F.col("__po_pid") < F.col("__ts_pid")
    for g in group_cols:
        # eqNullSafe: a NULL group key is its own partition in the window
        # semantics these recipes replace (ADVICE r12) — plain == would
        # drop its offsets and then the inner rejoin would drop its rows.
        cond = cond & (F.col(renames[g]).eqNullSafe(F.col(g)))
    return (
        meta.join(F.broadcast(m2), cond, "left")
        .groupBy("__ts_pid", *group_cols)
        .agg(F.coalesce(F.sum("__po_val"), zero).alias("__ts_off"))
    )


def _join_null_safe(
    left: DataFrame, right: DataFrame, keys: list, broadcast_right: bool = True
) -> DataFrame:
    """Inner join on ``keys`` with NULL-safe key equality, dropping the
    right side's key copies. ``left.join(right, keys)`` uses plain ``=``,
    which silently DROPS rows whose key is NULL — but the window semantics
    the TeraSort recipes replace (``PARTITION BY group_col``) treat NULL as
    its own partition (ADVICE r12). Right side must be metadata-small (it
    is broadcast by default)."""
    from pyspark.sql import functions as F

    renames = {k: f"__nj_{k}" for k in keys}
    r2 = right.select(
        *[F.col(k).alias(renames[k]) for k in keys],
        *[c for c in right.columns if c not in keys],
    )
    if broadcast_right:
        r2 = F.broadcast(r2)
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(renames[k]))
        cond = c if cond is None else cond & c
    return left.join(r2, cond, "inner").drop(*renames.values())


def global_ntile(df: DataFrame, order_cols: list, n: int, out_name: str) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY order_cols ASC)`` WITHOUT the
    single-partition WindowExec Spark plans for an un-partitioned window —
    the one plan shape that cannot scale out (every row funnels through one
    sort task). ``order_cols`` must be a total order (unique tiebreak last)
    so the rank, and therefore the tile, is well defined on any engine.

    TeraSort-style distributed ranking:

    1. ONE range shuffle on ``order_cols`` (each output partition owns a
       contiguous key range) + an in-partition sort — both narrow after the
       exchange, and the exchange is the same volume any global sort pays.
    2. ``monotonically_increasing_id`` over the pinned sorted layout yields
       (partition id, local row number) with ZERO further shuffle — no
       window, no second exchange.
    3. Per-partition counts (≤ num_shuffle_partitions rows) become
       exclusive prefix offsets via a broadcast self-join;
       global rank = offset + local row number.
    4. SQL ntile arithmetic maps rank → bucket as a narrow expression:
       with N rows, q = N div n, rem = N mod n, ranks 1..rem*(q+1) get
       ceil(rank/(q+1)) and the rest rem + ceil((rank-rem*(q+1))/q) —
       byte-identical to the engines' ntile() (first rem buckets one
       larger), pinned by tests/test_round7_ops.py against F.ntile.

    The range-partitioned table is pin()ned: boundaries are sampled per
    materialization and row ids are order-sensitive, so the counts branch
    and the rank branch must read ONE materialization (see _PINNED notes).
    At 100 TB this is the standard distributed-rank recipe: the persist
    holds only the projected sort columns + payload actually passed in,
    and the only all-to-all movement is the single range exchange."""
    from pyspark.sql import functions as F

    body = _terasort_layout(df, [F.col(c).asc() for c in order_cols])
    counts = body.groupBy("__ts_pid").agg(F.count("*").alias("__gn_cnt"))
    offsets = _prefix_offsets(counts, [], "__gn_cnt", F.lit(0))
    total = counts.agg(F.sum("__gn_cnt").cast("bigint").alias("__gn_n"))
    return (
        body.join(F.broadcast(offsets), "__ts_pid")
        .crossJoin(F.broadcast(total))
        .withColumn("__gn_rank", F.col("__ts_off") + F.col("__ts_lrank"))
        .withColumn(
            out_name,
            F.expr(
                f"CAST(CASE WHEN __gn_rank <= (__gn_n % {n}) * (__gn_n DIV {n} + 1) "
                f"THEN ceil(__gn_rank / (__gn_n DIV {n} + 1.0)) "
                f"ELSE (__gn_n % {n}) + ceil((__gn_rank - (__gn_n % {n}) * (__gn_n DIV {n} + 1)) "
                f"/ CAST(__gn_n DIV {n} AS DOUBLE)) END AS INT)"
            ),
        )
        .drop("__ts_pid", "__ts_lrank", "__ts_off", "__gn_n", "__gn_rank")
    )


def grouped_global_rank(
    df: DataFrame, group_col: str, order_cols: list, out_name: str
) -> DataFrame:
    """Exact ``row_number() OVER (PARTITION BY group_col ORDER BY
    order_cols ASC)`` for LOW-cardinality groups, without a WindowExec.

    A partitioned window is the right plan only when the partition key has
    enough cardinality to spread: with a handful of groups (event types,
    priority levels, status codes) each group's whole rollup funnels
    through ONE sort task — the same non-scalable shape as the
    un-partitioned window the registry bans, just sharded |groups| ways.
    This is :func:`global_ntile`'s TeraSort recipe generalized to groups:

    1. ONE range exchange on (group_col, *order_cols) — group-first, so
       every output partition owns a contiguous slice of one-or-more
       groups and a group may SPAN partitions (that is the point: a hot
       group spreads over many tasks).
    2. ``monotonically_increasing_id`` over the pinned sorted layout →
       (partition id, partition-local rank), zero further shuffle.
    3. Per-(partition, group) metadata — row count and min local rank,
       ≤ partitions×|groups| rows, broadcast — rebase the local rank to
       the group's start within the partition and add the group's
       cross-partition prefix offset.

    ``order_cols`` plus ``group_col`` must form a total order (unique
    tiebreak last) so the rank is engine-identical. The range-partitioned
    input is pin()ned for the same reason as global_ntile: boundaries are
    sampled per materialization, so the metadata branch and the rank
    branch must read one materialization."""
    from pyspark.sql import functions as F

    body = _terasort_layout(
        df, [F.col(group_col).asc()] + [F.col(c).asc() for c in order_cols]
    )
    meta = body.groupBy("__ts_pid", group_col).agg(
        F.count("*").alias("__gr_cnt"), F.min("__ts_lrank").alias("__gr_base")
    )
    off_base = _join_null_safe(
        _prefix_offsets(meta, [group_col], "__gr_cnt", F.lit(0)),
        meta.select("__ts_pid", group_col, "__gr_base"),
        ["__ts_pid", group_col],
        broadcast_right=False,
    )
    return (
        _join_null_safe(body, off_base, ["__ts_pid", group_col])
        .withColumn(
            out_name,
            F.col("__ts_off") + (F.col("__ts_lrank") - F.col("__gr_base") + F.lit(1)),
        )
        .drop("__ts_pid", "__ts_lrank", "__ts_off", "__gr_base")
    )


def grouped_global_cumsum(
    df: DataFrame, group_col: str, order_cols: list, sum_col: str, out_name: str
) -> DataFrame:
    """Exact ``SUM(sum_col) OVER (PARTITION BY group_col ORDER BY
    order_cols ASC ROWS UNBOUNDED PRECEDING)`` for LOW-cardinality groups,
    without funneling each group through one sort task.

    Same family as :func:`grouped_global_rank` (and the global running sum
    in ``orders_abc_classification``), generalized from ranks to running
    sums: one range exchange on (group_col, *order_cols) spreads a hot
    group over many partitions; the running sum inside each partition is a
    window partitioned by the DERIVED partition id + group (well-spread by
    construction — the registry's window guard accepts it); per-(partition,
    group) totals (≤ partitions×|groups| rows) become broadcast prefix
    offsets. ``order_cols`` must be a total order within each group so the
    cumulative is engine-identical; use an exact (integer/decimal) sum_col
    so accumulation order never matters."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    body = _terasort_layout(
        df, [F.col(group_col).asc()] + [F.col(c).asc() for c in order_cols]
    )
    wrun = (
        Window.partitionBy("__ts_pid", group_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = body.withColumn("__gc_run", F.sum(sum_col).over(wrun))
    ptot = run.groupBy("__ts_pid", group_col).agg(
        F.sum(sum_col).alias("__gc_psum")
    )
    zero = F.lit(0).cast(ptot.schema["__gc_psum"].dataType)
    offsets = _prefix_offsets(ptot, [group_col], "__gc_psum", zero)
    return (
        _join_null_safe(run, offsets, ["__ts_pid", group_col])
        .withColumn(out_name, F.col("__ts_off") + F.col("__gc_run"))
        .drop("__ts_pid", "__ts_lrank", "__gc_run", "__ts_off")
    )


# The driver's CORRECTNESS gate evaluates the registry in iteration order and
# certifies only a bounded prefix (the first 50 entries in every round so
# far), so registry order decides which entries get re-certified. The rule:
# the pipeline entries first, then the rest by ascending last driver-green
# round from the committed CORRECTNESS_r*.json files (never-certified first,
# ties in registry order), so each round's prefix takes the stalest entries.
_WINDOW_SIZE = 50


def correctness_history() -> dict[str, int]:
    """entry name → latest round with a driver pass, read from the committed
    ``CORRECTNESS_r*.json`` files at the repo root. Only EXACT rows count
    (rows/schema/hash all matched, no err): a rows-only ``no_oracle`` row
    certifies nothing once the entry gains an oracle, so an entry whose only
    history is rows-only sorts as never-certified. Unreadable or missing
    files read as no history."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[2]
    last: dict[str, int] = {}
    try:
        files = sorted(root.glob("CORRECTNESS_r*.json"))
    except OSError:
        return last
    for f in files:
        m = re.search(r"_r(\d+)", f.name)
        if not m:
            continue
        try:
            data = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        rnd = int(m.group(1))
        for name, rec in data.items():
            if not isinstance(rec, dict):
                continue
            if bool(rec.get("rows_match")) and not rec.get("err"):
                last[name] = max(rnd, last.get(name, 0))
    return last


def staleness_fill(tail_names, history=None) -> list[str]:
    """Order the non-pipeline registry tail by ascending last driver-green
    round; an entry with no record counts as −1 (first) and ties keep
    registry order (sort stability). ``history`` defaults to
    ``correctness_history()``; outside a checkout none can be read, so the
    tail keeps plain registry order."""
    if history is None:
        history = correctness_history()
    return sorted(tail_names, key=lambda n: history.get(n, -1))


# Single source of truth for the registry merge list: module names relative
# to the package root. collect_queries() AND tests/test_registry_window.py
# iterate this (via all_query_modules()), so the test cannot drift from the
# real merge list when a module is added (ADVICE r4).
_ALL_QUERY_MODULES = (
    "operators.pipeline",
    "operators.prep",
    "operators.curation",
    "operators.selection",
    "operators.dedup",
    "operators.similarity",
    "operators.text",
    "operators.multimodal",
    "operators.rangejoin",
    "streaming.jobs",
    "operators.events",
    "operators.windows",
    "operators.relational",
    "operators.relational2",
    "operators.relational3",
    "operators.tpch_ps",
    "operators.insights",
    "operators.layout",
    "operators.io",
)


def all_query_modules() -> tuple:
    """Import and return every module contributing QUERIES/ORACLE dicts."""
    import importlib

    pkg = __name__.rsplit(".", 1)[0]  # data_ingestion_api_system_spark
    return tuple(
        importlib.import_module(f"{pkg}.{mod}") for mod in _ALL_QUERY_MODULES
    )


def collect_queries() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Aggregate QUERIES/ORACLE across all operator modules: the pipeline
    entries first, then the rest of the registry in ``staleness_fill``
    order, so the driver's verified prefix re-certifies the
    longest-unverified entries. tests/test_registry_window.py pins this
    order; run it after touching any QUERIES dict.

    Each returned callable runs :func:`tune` on its session and then the
    entry, so the registry is the one place the session contract is
    applied, whatever session the caller built."""
    mods = all_query_modules()
    pipeline = next(m for m in mods if m.__name__.endswith(".pipeline"))

    queries: dict[str, QueryFn] = {}
    oracle: dict[str, str] = {}
    for mod in mods:
        queries.update(mod.QUERIES)
        oracle.update(mod.ORACLE)

    tail = [n for n in queries if n not in pipeline.QUERIES]
    names = [*pipeline.QUERIES, *staleness_fill(tail)]
    return (
        {n: _tuned(queries[n]) for n in names},
        {n: oracle[n] for n in names if n in oracle},
    )


def _tuned(fn: QueryFn) -> QueryFn:
    """``fn`` with :func:`tune` applied to its session first."""

    @functools.wraps(fn)
    def entry(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(tune(spark), sf_dir)

    return entry
