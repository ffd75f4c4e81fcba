#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive values (exact equality after
sorting columns by name and rows by value — stricter than a hash, and it
prints the first diff).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_ingestion_api_system_spark.tables import TABLE_NAMES as TABLES  # noqa: E402


def normalize(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy().astype(object)
    df = df.where(pd.notna(df), None)

    def norm_cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return None
        if hasattr(v, "item"):
            v = v.item()
        if isinstance(v, float) and v == int(v) and abs(v) < 1e15:
            return round(v, 10)
        if isinstance(v, float):
            return round(v, 10)
        return v

    raw = [tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None)]
    rows = sorted(raw, key=lambda r: tuple(map(str, r)))
    return list(df.columns), rows


def main() -> int:
    # --vanilla: build a PLAIN SparkSession (no UTC pin, no AQE confs, no
    # Arrow settings) the way the DRIVER does, instead of the repo's
    # session factory — a driver-sim mode that catches any query depending
    # on get_spark()'s conf that the registry's operators.tune does not set.
    # Round-9 pre-certification ran the full window AND all newborns this
    # way (0 failures); keep running it on new cohorts before they meet
    # the driver.
    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from data_ingestion_api_system_spark.session import get_spark

        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(sdf)} rows")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        scols, srows = normalize(sdf)
        ocols, orows = normalize(odf)
        if scols != ocols:
            print(f"FAIL {name}: columns spark={scols} oracle={ocols}")
            failures += 1
            continue
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            failures += 1
            continue
        bad = [(a, b) for a, b in zip(srows, orows) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)} differing rows; first: spark={bad[0][0]} oracle={bad[0][1]}")
            failures += 1
            continue
        print(f"OK   {name}: {len(srows)} rows, {len(scols)} cols")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
