"""Span recorder, layer wrappers and statistics for the CDC benchmark.

Spans come only from this file: ``install`` wraps public entry points
of the engine (tailer passes and batches, chain discovery, range
planning, the sink's merge/read, the snapshot's journal-head probe)
when the benchmark starts. The package itself is never edited.

Two levels:

- always on (cheap): one span per wrapped call -- name, start, end,
  parent, pass id, batch id -- kept in memory. The workloads need
  pass boundaries and per-batch event counts for their end-to-end
  metrics, so this level runs in untraced runs too.
- ``trace=True`` adds what costs time: exact Spark job/stage/task
  counts per batch (a job group set here, read back through
  ``statusTracker``), bytes written to the target per batch, and the
  number of files behind each reader's ``read()``. The difference in
  wall time between traced and untraced units of work is reported as
  the tracing overhead.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Recorder:
    def __init__(self, sc=None, trace: bool = False):
        self.sc = sc
        # tracing can be switched off for a unit of work inside a
        # traced run, so traced and untraced units alternate
        self.active = trace
        # record which receivers each pass's journal scan listed (the
        # listing/chain race diagnosis on the open-loop workload)
        self.track_listing = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._seq = {"streaming.pass": 0, "streaming.batch": 0}

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self, name: str) -> dict | None:
        for s in reversed(self._stack()):
            if s["name"] == name:
                return s
        return None

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": None,
            "name": name,
            "parent": None if parent is None else parent["id"],
            "pass_id": None if parent is None else parent.get("pass_id"),
            "batch_id": None if parent is None else parent.get("batch_id"),
            "start": time.perf_counter(),
            "end": None,
            "traced": self.active,
            **attrs,
        }
        with self._lock:
            if name in self._seq:
                self._seq[name] += 1
                rec["pass_id" if name == "streaming.pass" else "batch_id"] = self._seq[name]
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh, default=str)

    # -- traced-only probes -----------------------------------------------

    def spark_counts(self, group: str, timeout_s: float = 5.0) -> dict:
        """Exact job/stage/task counts of one job group. Job-end
        events reach the status store through the asynchronous
        listener bus, so poll until every job of the group reports a
        final status."""
        tracker = self.sc.statusTracker()
        deadline = time.time() + timeout_s
        while True:
            ids = list(tracker.getJobIdsForGroup(group))
            infos = [tracker.getJobInfo(i) for i in ids]
            done = all(
                i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos
            )
            if done or time.time() >= deadline:
                break
            time.sleep(0.01)
        stages = tasks = 0
        for info in infos:
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(ids), "stages": stages, "tasks": tasks}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def commit_files(target) -> int:
    """Data files behind the latest commit's bucket and delta maps."""
    c = target.last_commit() or {}
    n = 0
    dirs = [(b, v) for b, v in (c.get("buckets") or {}).items()]
    for b, vers in (c.get("deltas") or {}).items():
        dirs.extend((b, v) for v in vers)
    for b, v in dirs:
        d = f"{target.path}/data/v={v}/bucket={b}"
        try:
            n += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
        except FileNotFoundError:
            pass
    return n


def install(rec: Recorder) -> None:
    """Wrap the engine's public entry points with spans.

    Wrapping happens on the objects the engine resolves at call time
    (class attributes and the names bound in ``streaming.engine`` /
    ``sources.snapshot`` / ``streaming.orchestrator``), so the
    engine's own calls go through the wrappers."""
    from debezium_connector_ibmi_spark.sinks import merge as merge_mod
    from debezium_connector_ibmi_spark.sources import snapshot as snap_mod
    from debezium_connector_ibmi_spark.streaming import engine as eng
    from debezium_connector_ibmi_spark.streaming import orchestrator as orch

    def wrap_fn(module, attr, name, after=None):
        orig = getattr(module, attr)

        def wrapped(*a, **kw):
            with rec.span(name) as s:
                out = orig(*a, **kw)
                if after is not None:
                    after(s, out)
                return out

        wrapped.__wrapped__ = orig
        setattr(module, attr, wrapped)

    def after_listing(s, df):
        if rec.track_listing:
            files = df.inputFiles()
            s["listed"] = sorted(
                {
                    int(p.split("receiver_idx=", 1)[1].split("/", 1)[0])
                    for p in files
                    if "receiver_idx=" in p
                }
            )

    def after_chain(s, chain):
        s["receivers"] = [int(r["receiver_idx"]) for r in chain]

    def after_plan(s, rng):
        s["planned"] = rng is not None

    wrap_fn(eng, "read_journal", "sources.read_journal", after_listing)
    wrap_fn(eng, "receiver_lineage_from_footers", "plans.chain_discovery")
    wrap_fn(eng, "usable_chain", "plans.usable_chain", after_chain)
    wrap_fn(eng, "plan_next_range", "plans.plan_next_range", after_plan)
    wrap_fn(snap_mod, "journal_head", "sources.journal_head")
    wrap_fn(orch, "initial_snapshot", "sources.initial_snapshot")

    tailer = eng.JournalTailer
    orig_pass = tailer.run_to_head
    orig_batch = tailer.process_range
    target_cls = merge_mod.KeyBucketedTarget
    orig_merge = target_cls.merge
    orig_read = target_cls.read

    def run_to_head(self, *a, **kw):
        with rec.span("streaming.pass") as s:
            out = orig_pass(self, *a, **kw)
            s["events"] = sum(int(b.get("events", 0)) for b in out)
            return out

    def process_range(self, journal, rng, batch_id):
        with rec.span("streaming.batch") as s:
            traced = rec.active
            if traced:
                group = f"perfbench-batch-{s['batch_id']}"
                rec.sc.setJobGroup(group, group)
                before = dir_bytes(f"{self.target.path}/data")
            try:
                out = orig_batch(self, journal, rng, batch_id)
            finally:
                if traced:
                    rec.sc.setLocalProperty("spark.jobGroup.id", None)
                    rec.sc.setLocalProperty("spark.job.description", None)
            s["events"] = int(out.get("events", 0))
            if traced:
                s["bytes_written"] = dir_bytes(f"{self.target.path}/data") - before
                s.update(rec.spark_counts(group))
            return out

    def merge(self, *a, **kw):
        with rec.span("sinks.merge") as s:
            out = orig_merge(self, *a, **kw)
            s["skipped"] = bool(out.get("skipped"))
            touched = out.get("buckets_touched")
            if touched is not None:
                s["buckets_touched"] = len(touched)
                s["num_buckets"] = int(self.num_buckets)
            return out

    def read(self, *a, **kw):
        with rec.span("sinks.read") as s:
            if rec.active and rec.current("sinks.merge") is None:
                s["files"] = commit_files(self)
            return orig_read(self, *a, **kw)

    tailer.run_to_head = run_to_head
    tailer.process_range = process_range
    target_cls.merge = merge
    target_cls.read = read


# -- statistics -------------------------------------------------------------


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail(xs: list[float]) -> tuple[float, int, int]:
    """Highest order statistic with at least ten samples beyond it:
    (value, 1-based rank, sample count). With ten samples or fewer no
    such statistic exists and the maximum is reported instead."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), 0, 0
    rank = n - 10 if n > 10 else n
    return s[rank - 1], rank, n


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM) of this Python process plus the
    Spark JVM."""

    def hwm(pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except FileNotFoundError:
            return 0.0
        return 0.0

    return hwm("self") + (hwm(jvm_pid) if jvm_pid else 0.0)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat: the
    share of CPU time a hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def layer_metrics(rec: Recorder) -> dict:
    """Per-layer figures from the traced spans.

    Self times partition each traced pass: ``streaming.pass_self_s`` +
    ``plans.chain_discovery_s`` + Σ(``streaming.batch_self_s`` +
    ``sinks.merge_s``) equals the pass's wall time."""
    from collections import defaultdict

    kids = defaultdict(list)
    for s in rec.spans:
        kids[s["parent"]].append(s)

    def dur(s):
        return s["end"] - s["start"]

    passes = [
        s
        for s in rec.spans
        if s["name"] == "streaming.pass" and s["traced"] and s.get("events")
    ]
    chain_s, pass_self, in_chain, ranges, batches = [], [], [], [], []
    for p in passes:
        ks = kids[p["id"]]
        b = [k for k in ks if k["name"] == "streaming.batch"]
        c = sum(dur(k) for k in ks if k["name"] in ("plans.chain_discovery", "plans.usable_chain"))
        chain_s.append(c)
        pass_self.append(dur(p) - sum(dur(x) for x in b) - c)
        in_chain.extend(len(k["receivers"]) for k in ks if "receivers" in k)
        ranges.append(sum(1 for k in ks if k["name"] == "plans.plan_next_range" and k.get("planned")))
        batches.extend(b)
    merge_s, batch_self, touched, bpe = [], [], [], []
    jobs, stages, tasks, events = [], [], [], []
    for b in batches:
        m = [k for k in kids[b["id"]] if k["name"] == "sinks.merge"]
        ms = sum(dur(k) for k in m)
        merge_s.append(ms)
        batch_self.append(dur(b) - ms)
        for k in m:
            if k.get("num_buckets"):
                touched.append(k["buckets_touched"] / k["num_buckets"])
        if b.get("events"):
            bpe.append(b.get("bytes_written", 0) / b["events"])
        jobs.append(b.get("jobs", 0))
        stages.append(b.get("stages", 0))
        tasks.append(b.get("tasks", 0))
        events.append(b.get("events", 0))
    read_s, read_files = [], []
    for r in rec.spans:
        if r["name"] == "bench.read" and r["traced"]:
            for k in kids[r["id"]]:
                if k["name"] == "sinks.read":
                    read_s.append(dur(k))
                    read_files.append(k.get("files", 0))
    total_pass = sum(dur(p) for p in passes)
    accounted = sum(pass_self) + sum(chain_s) + sum(batch_self) + sum(merge_s)
    return {
        "plans.chain_discovery_s": (median(chain_s), "s"),
        "plans.receivers_in_chain": (median(in_chain), "count"),
        "plans.ranges_per_pass": (median(ranges), "count"),
        "streaming.pass_self_s": (median(pass_self), "s"),
        "streaming.batch_self_s": (median(batch_self), "s"),
        "streaming.spark_jobs_per_batch": (median(jobs), "count"),
        "streaming.spark_stages_per_batch": (median(stages), "count"),
        "streaming.spark_tasks_per_batch": (median(tasks), "count"),
        "streaming.events_per_batch": (median(events), "count"),
        "sinks.merge_s": (median(merge_s), "s"),
        "sinks.buckets_touched_ratio": (median(touched), "ratio"),
        "sinks.bytes_written_per_entry": (median(bpe), "B"),
        "sinks.read_s": (median(read_s), "s"),
        "sinks.read_files": (median(read_files), "count"),
        "sinks.fence_skips": (
            sum(1 for s in rec.spans if s["name"] == "sinks.merge" and s.get("skipped")),
            "count",
        ),
        "trace.passes": (len(passes), "count"),
        "trace.pass_wall_s": (total_pass, "s"),
        "trace.self_time_sum_s": (accounted, "s"),
    }
