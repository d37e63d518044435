"""CDC ingest benchmark: one workload per invocation.

    python3 perfbench/run.py --workload backlog_catchup --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout and touches nothing outside it:
Spark's shuffle/spill directory, the JVM's temp directory, generated
data and targets all live under ``.perfbench_work/`` and are removed at
exit (traces are kept under ``.perfbench_work/traces/``).

Output: report lines ``metric <workload> <name> <value> <unit>`` for
every figure, then as the last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. A correctness-gate failure prints ``correct: false``
and exits 1. ``--workload all`` runs every workload in turn.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

E2E = [
    ("setup_s", "s"),
    ("catchup_events_per_s", "1/s"),
    ("freshness_p50_s", "s"),
    ("commit_p50_s", "s"),
    ("scan_read_p50_s", "s"),
    ("point_read_p50_s", "s"),
    ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    "plans.chain_discovery_s",
    "plans.receivers_in_chain",
    "plans.ranges_per_pass",
    "streaming.pass_self_s",
    "streaming.batch_self_s",
    "streaming.spark_jobs_per_batch",
    "streaming.spark_stages_per_batch",
    "streaming.spark_tasks_per_batch",
    "streaming.events_per_batch",
    "sinks.merge_s",
    "sinks.buckets_touched_ratio",
    "sinks.bytes_written_per_entry",
    "sinks.read_s",
    "sinks.read_files",
]
ALL_WORKLOADS = ["backlog_catchup", "tail_with_readers", "steady_tail"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=ALL_WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "toy"), default="full")
    # internal: single-core catch-up baseline in its own JVM
    p.add_argument("--scaling-child", metavar="JOURNAL", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def machine() -> dict:
    cores = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # a quarter of physical RAM, at most 4 GB: the engine's 16 GB
    # session default does not fit small machines
    heap_gb = int(max(1, min(4, ram_gb // 4)))
    return {"cores": cores, "ram_gb": round(ram_gb, 1), "heap_gb": heap_gb}


def fit_environment(run_dir: str, cores: int, heap_gb: int) -> None:
    """Point every scratch location of Spark, the JVM and Python into
    the run directory, before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gb}g"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(run_dir, "spark-local")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_GRAFT_LOCAL_DIR"]
    os.environ.pop("SPARK_MASTER", None)


def start_spark(run_dir: str, cores: int, heap_gb: int):
    from debezium_connector_ibmi_spark import get_spark

    # a fixed-size heap (-Xms = -Xmx): an adaptively growing heap
    # resized at different moments from run to run and moved both
    # timings and peak memory
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
                f"-XX:-UsePerfData -Xms{heap_gb}g"
            ),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def reap_children(timeout_s: float = 20.0) -> None:
    """Wait for (then kill) any process still descending from this one."""

    def descendants():
        kids, me = {}, os.getpid()
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                    continue
                kids.setdefault(ppid, []).append(int(d))
        out, frontier = [], [me]
        while frontier:
            nxt = [c for p in frontier for c in kids.get(p, [])]
            out.extend(nxt)
            frontier = nxt
        return out

    deadline = time.time() + timeout_s
    while descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def e2e_metrics(res) -> dict:
    from harness import median, tail

    fresh, rank, n = tail(res.freshness)
    rates = [e / s for e, s in res.pass_rates if s > 0]
    return {
        "setup_s": res.setup_s,
        "catchup_events_per_s": median(rates),
        "freshness_p50_s": median(res.freshness),
        "freshness_tail_s": fresh,
        "commit_p50_s": median(res.commit),
        "scan_read_p50_s": median(res.scan_reads),
        "point_read_p50_s": median(res.point_reads),
        "peak_rss_mb": res.peak_rss_mb,
    }, {"freshness_tail_rank": rank, "freshness_samples": n}


def report(workload: str, name: str, value, unit: str) -> None:
    print(f"metric {workload} {name} {value} {unit}", flush=True)


def run_scaling_child(args, m) -> None:
    run_dir = os.path.join(WORK, f"scaling-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    fit_environment(run_dir, 1, m["heap_gb"])
    try:
        spark = start_spark(run_dir, 1, m["heap_gb"])
        from harness import Recorder
        from workloads import Ctx, scaling_child

        ctx = Ctx(spark, Recorder(), run_dir, 0, 0, False, "full", 1, T_START)
        rate = scaling_child(ctx, args.scaling_child)
        stop_spark(spark)
        print(json.dumps({"events_per_s": rate}), flush=True)
    finally:
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)


def scaling_efficiency(journal: str, parent_rate: float, cores: int) -> float | None:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", "backlog_catchup",
         "--scaling-child", journal],
        capture_output=True, text=True, timeout=170, cwd=ROOT,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        return None
    child = json.loads(out.stdout.strip().splitlines()[-1])["events_per_s"]
    return parent_rate / (cores * child)


def run_all(args) -> int:
    code = 0
    for w in ALL_WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--size", args.size],
            cwd=ROOT,
        )
        code = max(code, out.returncode)
    return code


def main(argv) -> int:
    args = parse_args(argv)
    # the engine package comes from the checkout this script sits in;
    # without it there is nothing to measure and no result is printed
    if not os.path.isfile(os.path.join(ROOT, "debezium_connector_ibmi_spark", "__init__.py")):
        sys.stderr.write(f"engine package not found under {ROOT}\n")
        return 3
    sys.path.insert(0, ROOT)
    m = machine()
    if args.scaling_child:
        run_scaling_child(args, m)
        return 0
    if args.workload == "all":
        return run_all(args)

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    fit_environment(run_dir, m["cores"], m["heap_gb"])
    spark = None
    try:
        from harness import Recorder, install, layer_metrics, median
        from workloads import SIZES, WORKLOADS, Ctx

        spark = start_spark(run_dir, m["cores"], m["heap_gb"])
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        rec = Recorder(spark.sparkContext, trace=bool(args.trace))
        install(rec)
        ctx = Ctx(spark, rec, run_dir, args.seed, args.seconds, bool(args.trace),
                  args.size, m["cores"], T_START, jvm_pid=None if jvm is None else jvm.pid)
        res = WORKLOADS[args.workload](ctx)
        e2e, tail_info = e2e_metrics(res)

        w = args.workload
        info = {**m, "seed": args.seed, "seconds": args.seconds, "size": args.size,
                "trace": args.trace, **SIZES[w][args.size], **ctx.info, **tail_info}
        print(f"info {w} {json.dumps(info, sort_keys=True)}", flush=True)
        failed_ratio = res.failed / max(res.attempted, 1)
        if not args.trace:
            for name, unit in E2E:
                report(w, name, e2e[name], unit)
            report(w, "freshness_tail_s", e2e["freshness_tail_s"], "s")
            if res.snapshot_s is not None:
                report(w, "snapshot_s", res.snapshot_s, "s")
            report(w, "failed_ratio", failed_ratio, "ratio")
        else:
            layers = layer_metrics(rec)
            for name, (value, unit) in layers.items():
                report(w, name, value, unit)
            uw = res.unit_walls
            overhead = median(uw["traced"]) - median(uw["untraced"])
            report(w, "trace.untraced_unit_s", median(uw["untraced"]), "s")
            report(w, "trace.traced_unit_s", median(uw["traced"]), "s")
            report(w, "trace.overhead_s", overhead, "s")
            if w == "backlog_catchup":
                rates = [e / s for e, s in res.pass_rates if s > 0]
                eff = scaling_efficiency(f"{run_dir}/journal", median(rates), m["cores"])
                if eff is not None:
                    report(w, "scaling.efficiency", eff, "ratio")
        for name, (value, unit) in res.extra.items():
            report(w, name, value, unit)
        for f in res.failures:
            print(f"failure {w} {f}", flush=True)
        if args.trace:
            rec.write(os.path.join(WORK, "traces", f"{w}-seed{args.seed}-{os.getpid()}.json"))

        if args.trace:
            metrics = {n: {"value": layers[n][0], "unit": layers[n][1]} for n in PER_LAYER}
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E}
        unmeasured = [n for n, v in metrics.items() if not math.isfinite(v["value"])]
        for n in unmeasured:
            print(f"failure {w} metric {n} has no samples", flush=True)
        correct = res.failed == 0 and not res.failures and not unmeasured
        t_stop = time.perf_counter()
        stop_spark(spark)
        spark = None
        print(f"timing {w} " + json.dumps({
            "measured_end_s": ctx.info.get("measured_end_s"),
            "gate_end_s": t_stop - T_START,
            "stopped_s": time.perf_counter() - T_START,
        }), flush=True)
        print(json.dumps({
            "correct": correct,
            "attempted": int(res.attempted),
            "failed": int(res.failed),
            "metrics": metrics,
        }), flush=True)
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
