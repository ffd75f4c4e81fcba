#!/usr/bin/env python3
"""Per-entry timing probe: bench.py's warm_b3_m5 protocol
(``bench.time_entry``) for NAMED entries, for re-measuring a suspected
regression or profiling one entry while optimizing it. Tables are
pre-counted once so file-index/codegen startup doesn't land on the first
entry. Records 1-min and 5-min load at start.

Usage:
    python tools/time_queries.py [sf_dir] name [name ...]
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    args = sys.argv[1:]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args
    if not names:
        print("usage: time_queries.py [sf_dir] name [name ...]")
        return 2

    load1, load5, _ = os.getloadavg()

    import __spark_entry__ as entrymod
    from bench import time_entry
    from data_ingestion_api_system_spark.session import get_spark
    from data_ingestion_api_system_spark.tables import load_tables

    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown entries: {unknown}")
        return 2

    spark = get_spark("time-queries")
    for df in load_tables(spark, sf_dir).values():
        df.count()

    timings: dict[str, float] = {}
    for name in names:
        timings[name], samples, rows = time_entry(spark, qs[name], sf_dir)
        print(f"# {name}: reps={samples} rows={rows}", file=sys.stderr)
    spark.stop()

    print(
        json.dumps(
            {
                "timings": timings,
                "sf_dir": sf_dir,
                "timing": "warm_b3_m5",
                "load_1m_at_start": round(load1, 2),
                "load_5m_at_start": round(load5, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
