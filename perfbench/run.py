#!/usr/bin/env python3
"""Benchmark command: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1``, run from the repository root. See main.py."""

import time

T0 = time.perf_counter()  # process start, as near as Python gets

import os  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.main import main  # noqa: E402

if __name__ == "__main__":
    raise SystemExit(main(T0))
