#!/usr/bin/env python3
"""Old-vs-new oracle SQL identity check.

An edit to an oracle query changes what the correctness gate compares
against, so it has to be shown harmless: this tool loads ``oracle_sql()``
from two checkouts, picks every entry whose SQL text differs, runs both
texts on DuckDB over each sf_dir, and compares the rows after the gate's own
normalizer. Every differing row is printed; exit 1 if any differ.

Usage: python tools/oracle_diff.py OLD_CHECKOUT NEW_CHECKOUT SF_DIR [SF_DIR ...]

Make the old checkout with ``git archive <rev> | tar -x -C <dir>``.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from check_oracle import normalize  # noqa: E402  (tools/ sibling)
from data_ingestion_api_system_spark.tables import TABLE_NAMES  # noqa: E402

_DUMP = (
    "import json, sys; sys.path.insert(0, sys.argv[1]);"
    " import __spark_entry__ as e; print(json.dumps(e.oracle_sql()))"
)


def _oracles(checkout: str) -> dict[str, str]:
    # one process per checkout: both import the same package name
    out = subprocess.run(
        [sys.executable, "-c", _DUMP, checkout],
        capture_output=True, text=True, check=True, cwd=checkout,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    old_dir, new_dir, *sf_dirs = sys.argv[1:]
    old, new = _oracles(old_dir), _oracles(new_dir)
    edited = sorted(n for n in new if old.get(n) != new[n])
    print(f"edited oracle queries: {len(edited)} {' '.join(edited)}")
    differing = 0
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name in edited:
            ocols, orows = normalize(con.execute(old[name]).fetchdf())
            ncols, nrows = normalize(con.execute(new[name]).fetchdf())
            same = ocols == ncols and orows == nrows
            differing += not same
            print(f"{'SAME' if same else 'DIFF'} {sf_dir} {name}: {len(nrows)} rows")
            if ocols != ncols or len(orows) != len(nrows):
                print(f"  columns {ocols} -> {ncols}, rows {len(orows)} -> {len(nrows)}")
            for a, b in zip(orows, nrows):
                if a != b:
                    print(f"  old {a}\n  new {b}")
        con.close()
    return 1 if differing else 0


if __name__ == "__main__":
    raise SystemExit(main())
