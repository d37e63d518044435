"""Smoke test for the CDC benchmark.

    python3 perfbench/smoke.py

1. Runs every workload at toy size with the correctness gate on and
   checks that every named metric is printed with a unit, that the
   final JSON line carries exactly the metrics ``BENCHMARK.json``
   declares, and that ``failed_ratio`` is 0 on the two workloads
   without concurrent publishing. ``steady_tail``'s ratio is printed
   as measured.
2. Reproduces the journal listing / chain discovery race in process:
   a receiver is published after a pass has listed the journal's
   files but before it reads the receiver chain from the parquet
   footers. The pass plans the receiver, never scans it, and the
   watermark moves past it. The gate must report that receiver as a
   failed operation.

Exits non-zero on the first failed check. Takes a few minutes: every
run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def run_toy(workload: str, trace: int):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "3", "--trace", str(trace), "--size", "toy"],
        capture_output=True, text=True, timeout=900, cwd=bench.ROOT,
    )
    printed = {}
    for line in out.stdout.splitlines():
        if line.startswith("metric "):
            _m, _w, name, value, unit = line.split(" ", 4)
            printed[name] = (float(value), unit.strip())
    lines = out.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{workload}: no output\n{out.stderr[-3000:]}")
    return out.returncode, printed, json.loads(lines[-1])


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)
    print(f"ok   {msg}", flush=True)


def check_workloads() -> None:
    e2e = [n for n, _u in bench.E2E]
    for w in bench.ALL_WORKLOADS:
        code, printed, result = run_toy(w, 0)
        named = e2e + ["freshness_tail_s", "failed_ratio"] + (
            ["snapshot_s"] if w == "steady_tail" else []
        )
        missing = [n for n in named if n not in printed or not printed[n][1]]
        check(not missing, f"{w}: every end-to-end metric printed with a unit {missing or ''}")
        check(
            set(result["metrics"]) == set(e2e)
            and all(v["unit"] for v in result["metrics"].values()),
            f"{w}: result line carries the declared end-to-end metrics",
        )
        if w == "steady_tail":
            print(f"info {w}: failed_ratio {printed['failed_ratio'][0]} "
                  f"(race-lost receivers {printed.get('bench.race_lost_receivers', (0,))[0]})")
            continue
        check(code == 0 and result["correct"], f"{w}: correctness gate passed")
        check(printed["failed_ratio"][0] == 0, f"{w}: failed_ratio == 0")

        code, printed, result = run_toy(w, 1)
        missing = [n for n in bench.PER_LAYER if n not in printed or not printed[n][1]]
        check(not missing, f"{w}: every per-layer metric printed with a unit {missing or ''}")
        check(set(result["metrics"]) == set(bench.PER_LAYER),
              f"{w}: traced result line carries the declared per-layer metrics")
        check("trace.overhead_s" in printed, f"{w}: tracing overhead reported")
        check(code == 0 and result["correct"], f"{w}: traced run passed the gate")


def check_race_is_caught() -> None:
    m = bench.machine()
    run_dir = os.path.join(bench.WORK, f"smoke-race-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    bench.fit_environment(run_dir, m["cores"], m["heap_gb"])
    sys.path.insert(0, bench.ROOT)
    spark = None
    try:
        from harness import Recorder, install
        from workloads import Ctx, Result, TailSetup

        from debezium_connector_ibmi_spark.streaming import engine

        spark = bench.start_spark(run_dir, m["cores"], m["heap_gb"])
        rec = Recorder(spark.sparkContext)
        install(rec)
        ctx = Ctx(spark, rec, run_dir, 7, 0, False, "toy", m["cores"], time.perf_counter())
        setup = TailSetup(ctx, "tail_with_readers", 3, snapshot=False)
        setup.warm_up()

        footers = engine.receiver_lineage_from_footers
        injected = []

        def publish_then_discover(path):
            # lands after run_to_head listed the scan's files
            if not injected:
                injected.append(setup.publish())
                setup.applied.append(injected[0])
            return footers(path)

        engine.receiver_lineage_from_footers = publish_then_discover
        try:
            setup.tailer.run_to_head()
        finally:
            engine.receiver_lineage_from_footers = footers
        r = injected[0]
        check(setup.covered(r), f"race: watermark covers receiver {r} after the pass")
        res = Result()
        setup.gate(res)
        print("\n".join(f"info gate: {f}" for f in res.failures))
        check(
            res.failed >= 1 and r in res.not_reflected,
            f"race: gate charges receiver {r} as a failed operation",
        )
    finally:
        if spark is not None:
            bench.stop_spark(spark)
        bench.reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    try:
        check_workloads()
        check_race_is_caught()
    except AssertionError as exc:
        print(f"FAIL {exc}", flush=True)
        sys.exit(1)
    print("smoke: all checks passed")
