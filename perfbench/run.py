#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_mor --seed 1 --seconds 5 --trace 0

Runs one workload (``cdc_cow``, ``cdc_mor`` or ``query_suite``; see
``workloads.py``) in one driver process on ``local[<cores>]``, checks the
outputs, and prints a report followed, as the last line of stdout, by one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones. Every pass, and in a traced run every span, is written to
``perfbench/out/<workload>-seed<seed>-trace<0|1>.json``. The exit code is
0 only when every output was correct.

Run it from the root of a checkout: the engine package is imported from
there, and everything the run writes stays under ``perfbench/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "trde703_openfoodfacts_etl_spark"
WORKLOADS = ("cdc_cow", "cdc_mor", "query_suite")

#: end-to-end metric → unit
E2E_UNITS = {"pass_cpu_s": "s", "read_cpu_s": "s", "setup_s": "s"}

#: driver heap: well below physical memory, which other processes share
DRIVER_MEM_MB = 3072


def _pin_env(work: str) -> int:
    """Environment every run uses, set before the JVM starts. Returns the
    core count."""
    cores = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = f"{min(DRIVER_MEM_MB, phys_mb // 4)}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # pandas-UDF workers import the package by name: without the checkout
    # on their path they fail with ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return cores


def _stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — it must not outlive the run
            proc.kill()
            proc.wait()


def _spark_layers(eventlog_dir: str, tracers) -> dict:
    """spark.* per traced pass, from the event log."""
    from perfbench import eventlog

    (name,) = os.listdir(eventlog_dir)
    per_group = eventlog.parse_file(os.path.join(eventlog_dir, name))
    per_pass = [
        eventlog.total(per_group, [sp.id for sp in tr.spans]) for tr in tracers
    ]
    return {
        f"spark.{k}": sum(p[k] for p in per_pass) / len(per_pass)
        for k in per_pass[0]
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(args, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, t_start: float) -> int:
    cores = _pin_env(work)
    eventlog_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if args.trace:
        os.makedirs(eventlog_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from trde703_openfoodfacts_etl_spark import build_session

    from perfbench import layers, proc, workloads

    spark = build_session(app_name=f"perfbench-{args.workload}", cores=cores,
                          shuffle_partitions=2 * cores, extra_conf=conf)
    session_wall_s = time.perf_counter() - t_start
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    run = workloads.Run(
        spark=spark, root=ROOT, work=work, seed=args.seed, seconds=args.seconds,
        traced=bool(args.trace), session_wall_s=session_wall_s,
        # everything the driver and the JVM spent since each started
        session_cpu_s=proc.cpu_seconds(jvm_pid), jvm_pid=jvm_pid,
    )
    try:
        if args.workload == "query_suite":
            res = workloads.run_queries(run)
        else:
            res = workloads.run_cdc(run, args.workload.split("_")[1])
        if args.trace and res.layers:
            res.layers["proc.peak_rss_mb"] = proc.peak_rss_mb(run.jvm_pid)
    finally:
        _stop(spark)
    if args.trace and res.layers:
        res.layers.update(_spark_layers(eventlog_dir, run.tracers))

    correct = run.failed == 0 and bool(res.e2e)
    if args.trace:
        metrics = {k: {"value": res.layers.get(k, 0.0), "unit": u}
                   for k, u in layers.UNITS.items()} if res.layers else {}
    else:
        metrics = {k: {"value": res.e2e[k], "unit": u}
                   for k, u in E2E_UNITS.items()} if res.e2e else {}
    report = res.report + [
        ("failed_frac", run.failed / max(run.attempted, 1), "ratio"),
    ]
    for name, value, unit in report:
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "report": report, "metrics": metrics, "record": res.record,
            "errors": run.errors,
            "spans": [dataclasses.asdict(sp) for tr in run.tracers for sp in tr.spans],
        }, f, indent=1, default=str)
    print(f"{args.workload} record: {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": correct, "attempted": max(run.attempted, 1),
        "failed": run.failed, "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
