"""The benchmark's own tests: seed discipline, declared metric names, the
correctness checkers, and a tiny end-to-end run of every workload.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import datagen, layers, main, registry, service

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- seed discipline ---------------------------------------------------------


def test_same_seed_same_inputs():
    assert registry.sample(registry.module_entries()) == registry.sample(registry.module_entries())
    assert service.roundtrip_script(7, 5) == service.roundtrip_script(7, 5)
    a, b = datagen.generate(0.001, 7), datagen.generate(0.001, 7)
    assert all(a[t].equals(b[t]) for t in a)


def test_other_seed_other_inputs_same_work():
    assert service.roundtrip_script(1, 5) != service.roundtrip_script(2, 5)
    for seed in (1, 2):
        for requests in service.roundtrip_script(seed, 5)[1:]:
            assert sum(len(service.chunked(r["ids"])) for r in requests) == 4
    a, b = datagen.generate(0.001, 1), datagen.generate(0.001, 2)
    assert {t: a[t].num_rows for t in a} == {t: b[t].num_rows for t in b}
    assert not a["lineitem"].equals(b["lineitem"])


def test_sample_is_one_entry_per_live_module():
    by_module = registry.module_entries()
    picked = registry.sample(by_module)
    assert [m for m, _ in picked] == list(layers.QUERY_MODULES)
    assert all(name == sorted(by_module[m])[0] for m, name in picked)


# -- declared metrics --------------------------------------------------------


def test_printed_metric_names_are_declared():
    declared = _declared()
    e2e = {m["name"]: m["unit"] for m in declared["end_to_end"]}
    assert e2e == main.END_TO_END
    per_layer = {m["name"]: m["unit"] for m in declared["per_layer"]}
    assert per_layer == layers.UNITS
    assert [w["name"] for w in declared["workloads"]] == list(main.WORKLOADS)


def test_layer_modules_follow_the_registry():
    from data_ingestion_api_system_spark.operators import _ALL_QUERY_MODULES

    assert layers.QUERY_MODULES == _ALL_QUERY_MODULES


# -- checkers reject wrong results --------------------------------------------


class _FakePipeline:
    def __init__(self, rows):
        self.rows = rows

    def processed_results(self):
        rows = self.rows

        class _DF:
            def collect(self):
                return rows

        return _DF()


def test_status_checker_rejects_wrong_chunks_and_state():
    ids = [1, 2, 3, 4, 5]
    good = {"status": "completed", "batches": [{"ids": [1, 2, 3]}, {"ids": [4, 5]}]}
    assert service.check_status(good, ids) is None
    rechunked = {"status": "completed", "batches": [{"ids": [1, 2]}, {"ids": [3, 4, 5]}]}
    assert service.check_status(rechunked, ids)
    assert service.check_status(dict(good, status="triggered"), ids)


def test_processed_checker_rejects_missing_ids():
    from types import SimpleNamespace as Row

    rows = [Row(batch_id="b1", id=1), Row(batch_id="b1", id=2)]
    assert service.check_processed(_FakePipeline(rows), {"b1": [2, 1]}) is None
    assert service.check_processed(_FakePipeline(rows), {"b1": [1, 2], "b2": [3]})
    assert service.check_processed(_FakePipeline(rows[:1]), {"b1": [1, 2]})


def test_oracle_checker_rejects_wrong_values(tmp_path):
    datagen.write(str(tmp_path), 0.001, 5)
    oracle = registry.Oracle(ROOT, str(tmp_path))
    sql = "SELECT r_regionkey, r_name FROM region"
    right = pd.DataFrame({"r_regionkey": range(5), "r_name": list(datagen.REGIONS)})
    assert oracle.check("regions", sql, right) is None
    wrong = right.assign(r_name=right.r_name.str.lower())
    assert oracle.check("regions", sql, wrong) == "values differ from the oracle"
    assert oracle.check("regions", sql, right.head(4))
    assert oracle.check("regions", sql, right.rename(columns={"r_name": "name"}))
    assert oracle.check("no_oracle", None, right.head(0))


# -- tiny end-to-end run -------------------------------------------------------


@pytest.mark.parametrize(
    "workload,trace",
    [("registry_sf0.01", 0), ("registry_sf0.01", 1), ("svc_roundtrip", 0), ("svc_roundtrip", 1)],
)
def test_tiny_run(workload, trace):
    """Every workload end to end at toy size (sf0.001 tables, three registry
    entries), each in a fresh process as the benchmark runs: the result line
    carries every declared metric and no failed operation."""
    argv = ["--workload", workload, "--seed", "4", "--seconds", "1", "--trace", str(trace)]
    code = (
        "import sys, time; t0 = time.perf_counter(); "
        f"sys.path.insert(0, {ROOT!r}); "
        "from perfbench import main, registry; "
        "main.SCALE = 0.001; full = registry.sample; "
        "registry.sample = lambda by_module: full(by_module)[:3]; "
        f"sys.exit(main.main(t0, {argv!r}))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = main.END_TO_END if not trace else layers.UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    layer = "operators.jobs" if workload.startswith("registry") else "streaming.drain.status_jobs"
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert result["metrics"][layer]["value"] > 0
