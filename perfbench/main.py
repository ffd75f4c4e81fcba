"""Run one workload and print its metrics.

Workloads (see README.md):

- ``registry_sf0.01``: one pass over a fixed module-stratified sample of
  the analytics registry on seeded tables, each result checked against its
  DuckDB oracle. The pass is fixed work, so ``--seconds`` does not cut it.
- ``svc_roundtrip``: the HTTP shim over a durable ingestion pipeline with
  its fire-and-forget drain thread, driven by a closed-loop client process.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` records spans
and prints the per-layer metrics plus the tracing overhead: the time per
traced pass the tracer spends in its own bookkeeping. The last line
of standard output is one JSON object, ``{"correct", "attempted", "failed",
"metrics"}``; the lines before it are a readable record of the run
(environment, every end-to-end figure with its unit and sample count, and
the first failures).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import tempfile
import time

from . import datagen, layers, registry, service
from .layers import median
from .trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("registry_sf0.01", "svc_roundtrip")
SCALE = 0.01  # registry table scale factor (TESTDATA.md row counts)

END_TO_END = {"setup_s": "s", "work_p50_s": "s"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of physical memory, at most 4 GiB, so the Python side and
    the HTTP client keep room on a small box."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


def start_spark(run_dir: str):
    """The session through the package's own factory, sized to this box,
    with every scratch file inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = tmp
    from data_ingestion_api_system_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it: the gateway JVM exits when
    its stdin closes, and the Python workers it started exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def run_registry(spark, run_dir: str, seed: int, tracer) -> dict:
    """One pass over the sample: the first execution of each entry in this
    session (traced on a traced run). Results are checked against the
    oracle after timing ends."""
    from data_ingestion_api_system_spark.operators import collect_queries

    sf_dir = os.path.join(run_dir, "tables")
    datagen.write(sf_dir, SCALE, seed)
    queries, oracle_sql = collect_queries()
    order = registry.sample(registry.module_entries())
    tracer.enabled = tracer.on
    registry.touch_tables(spark, sf_dir, tracer)

    tracer.overhead_s = 0.0  # count the traced pass only, not the table touch
    start = time.perf_counter()
    listener = registry.add_listener(spark) if tracer.on else None
    records = registry.run_pass(spark, sf_dir, order, queries, tracer)
    tracer.enabled = False
    progress = registry.remove_listener(spark, listener) if listener else {}

    oracle = registry.Oracle(ROOT, sf_dir)
    failures = [
        f"{r['entry']}: {problem}"
        for r in records
        if (problem := oracle.check(r["entry"], oracle_sql.get(r["entry"]), r["result"]))
    ]
    entries_s = [r["build_s"] + r["exec_s"] for r in records]
    return {
        "setup_end": start,
        "work_s": [sum(entries_s)],
        "figures": {
            "entry_p50_ms": (median(entries_s) * 1e3, "ms", len(entries_s)),
            "build_s": (sum(r["build_s"] for r in records), "s", len(records)),
            "exec_s": (sum(r["exec_s"] for r in records), "s", len(records)),
        },
        "traced_passes": 1,
        "listener": progress,
        "attempted": len(records),
        "failures": failures,
    }


def end_to_end(res: dict, t0: float) -> dict:
    """name → (value, samples)."""
    return {
        "setup_s": (res["setup_end"] - t0, 1),
        "work_p50_s": (median(res["work_s"]), len(res["work_s"])),
    }


def main(t0: float, argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py", description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    runs = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = {"seed": args.seed, "nproc": nproc(), "loadavg_start": os.getloadavg()}
    spark = None
    try:
        s0 = time.perf_counter()
        spark = start_spark(run_dir)
        session_s = time.perf_counter() - s0
        tracer = Tracer(spark, on=bool(args.trace))
        state = os.path.join(run_dir, "state")
        if args.workload == "registry_sf0.01":
            res = run_registry(spark, run_dir, args.seed, tracer)
        else:
            res = service.run_roundtrip(spark, state, args.seed, args.seconds, tracer)
        res["session_s"] = session_s
        res["state_files"], res["state_bytes"] = layers.dir_size(state)
        env.update(
            pyspark=spark.version,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
            driver_memory=os.environ["SPARK_GRAFT_DRIVER_MEM"],
        )
        if args.trace:
            tracer.write(os.path.join(runs, f"spans-{args.workload}-{os.getpid()}.jsonl"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    env["loadavg_end"] = os.getloadavg()

    record = {"workload": args.workload, "env": env, "failures": res["failures"][:20]}
    if args.trace:
        metrics = layers.per_layer(res, tracer)
    else:  # timings of a traced run are not end-to-end figures
        e2e = end_to_end(res, t0)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
        record["end_to_end"] = {
            k: {"value": v, "unit": END_TO_END[k], "samples": n} for k, (v, n) in e2e.items()
        }
        record["figures"] = {
            k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in res["figures"].items()
        }
    print(json.dumps(record, indent=1, default=str))
    failed = len(res["failures"])
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
             "metrics": metrics}
        )
    )
    return 0
