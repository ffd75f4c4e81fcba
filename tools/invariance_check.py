#!/usr/bin/env python3
"""Partition-invariance sweep: every registry entry must produce identical
results regardless of shuffle width and scan-split size.

Why this is a distributed-correctness gate and not a formality: on a
1000-executor cluster `spark.sql.shuffle.partitions` and the scan split
count are nothing like local[32]'s, and the classic ways a query silently
depends on them are (a) float aggregation order (fixed repo-wide by the
exact-decimal sum/avg discipline), (b) `first`/`last`/`collect_list`
without an explicit ordering, (c) values derived from
`monotonically_increasing_id` or partition ids leaking into output, and
(d) data-dependent range-partitioner boundaries. Each entry is run twice
at sf0.01 — once narrow (2 shuffle partitions, 128 MB splits), once wide
(64 shuffle partitions, 4 MB splits) — and the normalized outputs
(sorted columns, sorted rows, the oracle gate's own normalizer) must be
IDENTICAL. Any diff is a real nondeterminism bug at scale even when the
single-config oracle gate passes.

Usage: python tools/invariance_check.py [sf_dir] [query ...]
A run over the whole registry (no query named) writes INVARIANCE.json,
checkpointing to INVARIANCE.partial.json as it goes; a run over named
entries only prints its verdicts, so it never replaces the registry-wide
record. Exit 1 on any mismatch.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
# script-mode puts tools/ on sys.path automatically; spec-loading (the
# suite-resident twin in tests/test_round10_ops.py) does not
sys.path.insert(0, str(ROOT / "tools"))

from check_oracle import normalize  # noqa: E402  (tools/ sibling)

CONFIGS = (
    # (shuffle partitions, files.maxPartitionBytes)
    ("2", "134217728"),
    ("64", "4194304"),
)


def run_once(spark, fn, sf_dir, shuffle, split):
    from data_ingestion_api_system_spark.operators import fresh_build

    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    spark.conf.set("spark.sql.files.maxPartitionBytes", split)
    return normalize(fresh_build(spark, fn, sf_dir).toPandas())


def main() -> int:
    import __spark_entry__ as entrymod
    from data_ingestion_api_system_spark.session import get_spark

    spark = get_spark("invariance-check")
    qs = entrymod.queries()
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    names = [a for a in args if "/" not in a]
    full = not names  # only a whole-registry run writes the record
    names = names or list(qs)

    def make_record(checked: int) -> dict:
        return {
            "check": "partition_invariance",
            "sf_dir": sf_dir,
            "configs": [
                {"shuffle_partitions": s, "max_partition_bytes": b}
                for s, b in CONFIGS
            ],
            "checked": checked,
            "failures": failures,
        }

    failures: dict[str, str] = {}
    partial = ROOT / "INVARIANCE.partial.json"
    for done, name in enumerate(names):
        try:
            fn = qs[name]  # inside the guard: a bad name must not kill the sweep
            (cols_a, rows_a) = run_once(spark, fn, sf_dir, *CONFIGS[0])
            (cols_b, rows_b) = run_once(spark, fn, sf_dir, *CONFIGS[1])
        except Exception as exc:  # noqa: BLE001 - report, keep sweeping
            failures[name] = f"error: {exc}"
            print(f"ERR  {name}: {exc}", flush=True)
        else:
            if cols_a != cols_b:
                failures[name] = f"columns differ: {cols_a} vs {cols_b}"
                print(f"FAIL {name}: {failures[name]}", flush=True)
            elif rows_a != rows_b:
                diffs = [
                    (a, b) for a, b in zip(rows_a, rows_b) if a != b
                ][:3] or [(len(rows_a), len(rows_b))]
                failures[name] = f"{len(rows_a)}/{len(rows_b)} rows; first diffs: {diffs}"
                print(f"FAIL {name}: {failures[name]}", flush=True)
            else:
                print(f"OK   {name}: {len(rows_a)} rows invariant", flush=True)
        # same rationale as bench.py: a truncated
        # multi-hour sweep keeps a usable prefix, in the SAME shape as
        # the final record so downstream readers need no special case.
        # Written AFTER classification (ADVICE r10): the old finally-block
        # wrote the checkpoint before entry i's cols/rows mismatch was
        # recorded, so an interrupted sweep could drop its last failure.
        if full:
            partial.write_text(json.dumps(make_record(done + 1)))

    if full:
        record = make_record(len(names))
        (ROOT / "INVARIANCE.json").write_text(json.dumps(record, indent=1))
        partial.unlink(missing_ok=True)
    print(
        f"invariance: {len(names) - len(failures)}/{len(names)} identical "
        f"across {CONFIGS[0]} vs {CONFIGS[1]}"
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
