#!/usr/bin/env python3
"""Dump ``explain("formatted")`` for named registry entries to files —
the per-round plan evidence under plans/r<N>/ (judge deliverable: the
before/after physical plans for every query an optimization round
touched).

Each entry is built with ``operators.fresh_build`` (pins released, cache
cleared) so the captured plan matches what a fresh session would show —
the same isolation plan_budget.py uses.

Usage:
    python tools/dump_plans.py OUT_DIR SUFFIX [sf_dir] name [name ...]

Writes OUT_DIR/<name>_<SUFFIX>.txt for each entry.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    if len(sys.argv) < 4:
        print("usage: dump_plans.py OUT_DIR SUFFIX [sf_dir] name [name ...]")
        return 2
    out_dir = Path(sys.argv[1])
    suffix = sys.argv[2]
    rest = sys.argv[3:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.01", rest
    out_dir.mkdir(parents=True, exist_ok=True)

    import __spark_entry__ as entrymod
    from data_ingestion_api_system_spark.operators import fresh_build, release_pins
    from data_ingestion_api_system_spark.session import get_spark

    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown entries: {unknown}")
        return 2

    from data_ingestion_api_system_spark.plans import formatted_plan

    spark = get_spark("dump-plans")
    for name in names:
        plan = formatted_plan(fresh_build(spark, qs[name], sf_dir))
        path = out_dir / f"{name}_{suffix}.txt"
        path.write_text(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    release_pins()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
