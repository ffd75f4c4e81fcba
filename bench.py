#!/usr/bin/env python3
"""Full-registry benchmark: times every ``__spark_entry__.queries()`` entry
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Protocol ``warm_b3_m5`` (``time_entry``): each entry runs once untimed to
absorb codegen compile and broadcast build. If that warm rep took >= 1 s
the entry reports the best of three timed reps; otherwise the median of
five, because at sub-second scale scheduler jitter is a large share of
the number and a best-of-three drifts where the median holds. Before
every rep the entry's pins are released and the session cache cleared
(``operators.fresh_build``), so each rep executes the full plan. The
clock covers the DataFrame build plus the Arrow ``toPandas`` collect.

Record: one JSON object per run, written to $SPARK_GRAFT_BENCH_OUT
(default ``BENCH_LAST_FULL.json``) after every entry with
``"complete": false``, so a truncated run leaves a parseable prefix, and
once more at the end with ``"complete": true``. It holds each entry's
value (``queries``) and raw timed samples (``samples``); ``value`` is the
total over all entries and ``comparable_value`` the total over the fixed
``HEADLINE`` set. Stdout gets the full record, then a compact summary as
the last line so a tail-truncated capture still ends in parseable JSON.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path
from statistics import median

sys.path.insert(0, str(Path(__file__).resolve().parent))

# A fixed set spanning every operator family, so ``comparable_value`` stays
# comparable across runs while the registry grows.
HEADLINE = [
    "pipeline_status_rollup",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q18_large_orders",
    "window_topk_per_group",
    "window_running_sum",
    "events_sessionize",
    "events_tumbling_window",
    "text_token_stats",
    "text_fingerprint",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "sim_knn_join",
    "multimodal_features",
]

SUMMARY_KEYS = (
    "metric",
    "value",
    "unit",
    "comparable_value",
    "sf",
    "timing",
    "load_1m_at_start",
    "load_1m_at_end",
)


def time_entry(spark, fn, sf_dir: str) -> tuple[float, list[float], int]:
    """Time one entry under warm_b3_m5 -> (value, timed samples, rows)."""
    from data_ingestion_api_system_spark.operators import fresh_build

    def rep() -> tuple[float, int]:
        start: list[float] = []

        def build(spark, sf_dir):
            # the clock starts after isolation: it covers build + collect
            start.append(time.perf_counter())
            return fn(spark, sf_dir)

        rows = len(fresh_build(spark, build, sf_dir).toPandas())
        return time.perf_counter() - start[0], rows

    warm, rows = rep()
    samples = [rep()[0] for _ in range(3 if warm >= 1.0 else 5)]
    value = min(samples) if len(samples) == 3 else median(samples)
    return round(value, 3), [round(s, 3) for s in samples], rows


def make_record(
    timings: dict[str, float],
    samples: dict[str, list[float]],
    sf: float,
    load_1m_at_start: float,
    complete: bool,
) -> dict:
    return {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "samples": samples,
        "queries_added": [n for n in timings if n not in HEADLINE],
        "comparable_value": round(sum(timings.get(n, 0.0) for n in HEADLINE), 3),
        "sf": sf,
        "timing": "warm_b3_m5",
        "load_1m_at_start": load_1m_at_start,
        "load_1m_at_end": round(os.getloadavg()[0], 2),
        "complete": complete,
    }


def write_record(path: Path, record: dict) -> None:
    # write-then-rename: a run killed mid-write never leaves torn JSON
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(json.dumps(record) + "\n")
    os.replace(tmp, path)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    out_path = Path(
        os.environ.get(
            "SPARK_GRAFT_BENCH_OUT",
            Path(__file__).resolve().parent / "BENCH_LAST_FULL.json",
        )
    )
    load_1m_at_start = round(os.getloadavg()[0], 2)

    import __spark_entry__ as entrymod
    from data_ingestion_api_system_spark.session import get_spark
    from data_ingestion_api_system_spark.tables import load_tables

    spark = get_spark("bench")
    # touch every table once so JVM/codegen/file-index startup cost doesn't
    # land on whichever entry happens to run first
    for df in load_tables(spark, sf_dir).values():
        df.count()

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    for name, fn in entrymod.queries().items():
        timings[name], samples[name], rows = time_entry(spark, fn, sf_dir)
        print(
            f"# {name}: {timings[name]:.3f}s ({rows} rows, "
            f"{'best of 3' if len(samples[name]) == 3 else 'median of 5'})",
            file=sys.stderr,
        )
        write_record(
            out_path, make_record(timings, samples, sf, load_1m_at_start, False)
        )

    record = make_record(timings, samples, sf, load_1m_at_start, True)
    write_record(out_path, record)
    print(json.dumps(record))
    spark.stop()
    print(
        json.dumps(
            {
                **{k: record[k] for k in SUMMARY_KEYS},
                "n_queries": len(timings),
                "summary_of": f"full record on preceding line + {out_path.name}",
            }
        )
    )


if __name__ == "__main__":
    main()
