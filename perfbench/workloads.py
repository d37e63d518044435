"""The three CDC workloads.

Each runs the engine's default ``EngineConfig`` (copy-on-write sink,
``fused`` compaction, columnar journal); only paths and sizes change.
The seed feeds ``JournalGenConfig.seed``. Journal data is generated in
set-up by this process; receivers are then published into the live
journal directory by atomic directory rename.

- ``backlog_catchup``: empty target, timed ``run_to_head()`` over a
  backlog with KB-scale html, repeated on fresh targets.
- ``tail_with_readers``: closed loop, one client: publish one receiver,
  ``run_to_head()``, full reads and a fixed set of point lookups.
- ``steady_tail``: open loop: a timer thread publishes receivers at a
  fixed rate while the main thread polls ``run_to_head()``.
"""

from __future__ import annotations

import glob
import os
import threading
import time
from dataclasses import dataclass, field

from harness import Recorder, cpu_ticks, median, peak_rss_mb

DATA_TYPES = "('PT', 'PX', 'UP', 'DL', 'DR')"

SIZES = {
    "backlog_catchup": {
        "full": {"n_urls": 10_000, "n_ops": 32_000, "html_bulk_repeat": 32},
        "toy": {"n_urls": 400, "n_ops": 4_000, "html_bulk_repeat": 8},
    },
    "tail_with_readers": {
        "full": {"n_urls": 10_000, "receiver_rotation": 8_000, "receivers": 6},
        "toy": {"n_urls": 300, "receiver_rotation": 600, "receivers": 5},
    },
    "steady_tail": {
        "full": {"n_urls": 10_000, "receiver_rotation": 8_000, "rate_per_s": 0.2},
        "toy": {"n_urls": 300, "receiver_rotation": 600, "rate_per_s": 0.5},
    },
}


@dataclass
class Ctx:
    spark: object
    rec: Recorder
    run_dir: str
    seed: int
    seconds: float
    trace: bool
    size: str
    cores: int
    t_start: float
    info: dict = field(default_factory=dict)
    jvm_pid: int | None = None
    _ticks: tuple = (0, 0)

    def begin(self) -> float:
        """Open the measured phase; returns its start time."""
        self._ticks = cpu_ticks()
        return time.perf_counter()

    def measured(self, res: "Result") -> None:
        """Close the measured phase: peak memory is read here, before
        the correctness gate allocates its own."""
        self.rec.active = False
        res.peak_rss_mb = peak_rss_mb(self.jvm_pid)
        self.info["measured_end_s"] = time.perf_counter() - self.t_start
        steal, total = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        self.info["cpu_steal_share"] = steal / max(total, 1)


@dataclass
class Result:
    """What a workload measured; ``run.py`` turns it into metrics."""

    setup_s: float = 0.0
    pass_rates: list = field(default_factory=list)  # (events, secs) per applying pass
    freshness: list = field(default_factory=list)
    commit: list = field(default_factory=list)
    scan_reads: list = field(default_factory=list)
    point_reads: list = field(default_factory=list)
    snapshot_s: float | None = None
    peak_rss_mb: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    not_reflected: set = field(default_factory=set)  # receivers the gate charged
    # further figures printed as "metric" lines: name -> (value, unit)
    extra: dict = field(default_factory=dict)
    # traced runs alternate traced/untraced units of work, traced first
    # so a warming trend overstates the overhead rather than hiding it:
    # wall times per unit, for the tracing-overhead figure
    unit_walls: dict = field(default_factory=lambda: {"traced": [], "untraced": []})


# -- shared pieces ------------------------------------------------------------


def journal_receivers(con, path: str) -> dict[int, tuple[int, int]]:
    """receiver_idx -> (max seq, entries), read from the parquet."""
    rows = con.execute(
        "SELECT CAST(receiver_idx AS INTEGER), max(seq), count(*) "
        "FROM read_parquet(?, hive_partitioning = true) GROUP BY 1 ORDER BY 1",
        [f"{path}/receiver_idx=*/*.parquet"],
    ).fetchall()
    return {int(r): (int(s), int(n)) for r, s, n in rows}


def point_keys(con, path: str, table: str) -> list[str]:
    """One hot key (most journal entries) and one cold key (fewest)."""
    q = (
        "SELECT url, count(*) AS c FROM read_parquet(?, hive_partitioning = true) "
        f"WHERE journal_code = 'R' AND entry_type IN {DATA_TYPES} AND table_name = ? "
        "GROUP BY url ORDER BY c {order}, url LIMIT 1"
    )
    files = f"{path}/receiver_idx=*/*.parquet"
    hot = [r[0] for r in con.execute(q.format(order="DESC"), [files, table]).fetchall()]
    cold = [r[0] for r in con.execute(q.format(order="ASC"), [files, table]).fetchall()]
    return hot + cold


class Reader:
    """One reader client: full-table count and point lookups."""

    def __init__(self, ctx: Ctx, target, keys: list[str]):
        self.ctx = ctx
        self.target = target
        self.keys = keys
        self.log: list[tuple] = []  # (kind, key, result, prefix_tag)

    def scan(self, tag, out: list | None):
        with self.ctx.rec.span("bench.read", kind="scan"):
            t = time.perf_counter()
            n = self.target.read().count()
            dt = time.perf_counter() - t
        if out is not None:
            out.append(dt)
        self.log.append(("scan", None, n, tag))
        return dt

    def point(self, key: str, tag, out: list | None):
        from pyspark.sql import functions as F

        with self.ctx.rec.span("bench.read", kind="point"):
            t = time.perf_counter()
            rows = (
                self.target.read()
                .filter(F.col("url") == key)
                .select("receiver_idx", "seq", F.md5("html").alias("h"))
                .collect()
            )
            dt = time.perf_counter() - t
        if out is not None:
            out.append(dt)
        got = None if not rows else (rows[0]["receiver_idx"], rows[0]["seq"], rows[0]["h"])
        if len(rows) > 1:
            got = ("duplicate", len(rows), None)
        self.log.append(("point", key, got, tag))
        return dt

    def round(self, tag, res: Result | None, repeat: int = 1):
        for _ in range(repeat):
            self.scan(tag, None if res is None else res.scan_reads)
            for k in self.keys:
                self.point(k, tag, None if res is None else res.point_reads)

    def verify(self, expected_for_tag, res: Result) -> None:
        from gate import check_point

        cache = {}
        for kind, key, got, tag in self.log:
            if tag not in cache:
                cache[tag] = expected_for_tag(tag)
            exp = cache[tag]
            res.attempted += 1
            ok = got == len(exp) if kind == "scan" else check_point(exp, key, got)
            if not ok:
                res.failed += 1
                res.failures.append(f"{kind} read {key or ''} at {tag}: got {got}")


def write_journal_data(ctx: Ctx, gen, path: str) -> None:
    from debezium_connector_ibmi_spark.datagen.journal import write_journal

    write_journal(ctx.spark, gen, path, num_files=ctx.cores)


def gate_target(ref, receivers, target, res: Result, label: str) -> None:
    """Compare one target against the reference; every receiver whose
    last writes are missing counts as one failed operation."""
    from gate import charge, compare, target_keyed

    exp = ref.keyed(receivers)
    bad = compare(exp, target_keyed(target))
    charged = charge(ref, receivers, bad)
    res.attempted += len(receivers)
    res.failed += len(charged)
    res.not_reflected |= charged
    if bad:
        res.failures.append(
            f"{label}: {len(bad)} urls differ from the reference "
            f"(reference rows {len(exp)}); receivers not reflected: "
            f"{sorted(charged, key=str)[:20]}"
        )


def engine_config(journal: str, target: str):
    from debezium_connector_ibmi_spark import EngineConfig

    return EngineConfig(journal_path=journal, target_path=target)


# -- backlog_catchup ----------------------------------------------------------


def backlog_catchup(ctx: Ctx) -> Result:
    import duckdb

    from debezium_connector_ibmi_spark.datagen import JournalGenConfig
    from debezium_connector_ibmi_spark.streaming import JournalTailer
    from gate import Reference

    size = SIZES["backlog_catchup"][ctx.size]
    res = Result()
    journal = f"{ctx.run_dir}/journal"
    gen = JournalGenConfig(
        n_urls=size["n_urls"],
        n_ops=size["n_ops"],
        seed=ctx.seed,
        html_bulk_repeat=size["html_bulk_repeat"],
    )
    ctx.info["session_s"] = time.perf_counter() - ctx.t_start
    write_journal_data(ctx, gen, journal)
    ctx.info["datagen_s"] = time.perf_counter() - ctx.t_start - ctx.info["session_s"]
    con = duckdb.connect()
    heads = journal_receivers(con, journal)
    keys = point_keys(con, journal, "PAGES")
    con.close()
    n_entries = sum(n for _s, n in heads.values())
    ctx.info.update(
        journal_entries=n_entries,
        receivers=len(heads),
        n_urls=gen.n_urls,
        n_ops=gen.n_ops,
        html_bulk_repeat=gen.html_bulk_repeat,
        journal_bytes=sum(
            os.path.getsize(f) for f in glob.glob(f"{journal}/*/*.parquet")
        ),
    )

    # untimed warm-up in the same session: a catch-up over the first
    # two receivers (hard links into a second journal directory) and
    # one full read
    ctx.rec.active = False
    warm_journal = f"{ctx.run_dir}/journal-warm"
    for r in sorted(heads)[:2]:
        os.makedirs(f"{warm_journal}/receiver_idx={r}")
        for f in glob.glob(f"{journal}/receiver_idx={r}/*.parquet"):
            os.link(f, f"{warm_journal}/receiver_idx={r}/{os.path.basename(f)}")
    warm = JournalTailer(ctx.spark, engine_config(warm_journal, f"{ctx.run_dir}/target-warm"))
    warm.run_to_head()
    Reader(ctx, warm.target, keys).scan("warm", None)
    res.setup_s = time.perf_counter() - ctx.t_start
    ctx.info["warmup_s"] = res.setup_s - ctx.info["session_s"] - ctx.info["datagen_s"]

    # measured phase: catch-ups on fresh targets, then reads
    t0 = ctx.begin()
    write_until = t0 + 0.65 * ctx.seconds
    min_reps = 4 if ctx.trace else 2
    targets = []
    k = 0
    while k < min_reps or time.perf_counter() < write_until:
        traced = ctx.trace and k % 2 == 0
        ctx.rec.active = traced
        tailer = JournalTailer(ctx.spark, engine_config(journal, f"{ctx.run_dir}/target{k}"))
        t = time.perf_counter()
        stats = tailer.run_to_head()
        dt = time.perf_counter() - t
        events = sum(int(b.get("events", 0)) for b in stats)
        res.unit_walls["traced" if traced else "untraced"].append(dt)
        if not traced:
            res.pass_rates.append((events, dt))
            res.commit.append(dt)
            # every backlog receiver was available at t; it is fresh once
            # the watermark covers its last entry
            wm = tuple(tailer.target.watermark())
            for r, (last_seq, _n) in heads.items():
                if wm >= (r, last_seq):
                    res.freshness.append(dt)
        targets.append(tailer.target)
        k += 1

    reader = Reader(ctx, targets[-1], keys)
    j = 0
    while j < 5 or time.perf_counter() < t0 + ctx.seconds:
        traced = ctx.trace and j % 2 == 0
        ctx.rec.active = traced
        reader.round("final", None if traced else res)
        j += 1
    ctx.measured(res)
    ctx.info["catchups"] = k

    # gate: every rep's target and every read against the reference
    ref = Reference(journal, "PAGES")
    try:
        receivers = sorted(heads)
        for i, tgt in enumerate(targets):
            gate_target(ref, receivers, tgt, res, f"catch-up {i}")
        full = ref.keyed(receivers)
        reader.verify(lambda _tag: full, res)
    finally:
        ref.close()
    return res


# -- onboarding shared by the two tailing workloads ---------------------------


class TailSetup:
    """Generate journal receivers into a staging directory, onboard the
    target, and publish receivers into the live journal one by one.

    With ``snapshot``: pages are generated too, receiver 0 is published
    (so the snapshot's head watermark covers it) and the target is
    onboarded by ``run_cdc(snapshot_mode="initial")``. Without it the
    target starts empty and the warm-up pass materializes it."""

    def __init__(self, ctx: Ctx, name: str, n_receivers: int, snapshot: bool):
        import duckdb

        from debezium_connector_ibmi_spark.datagen import JournalGenConfig
        from debezium_connector_ibmi_spark.datagen.journal import generate_pages
        from debezium_connector_ibmi_spark.streaming import JournalTailer
        from debezium_connector_ibmi_spark.streaming.orchestrator import run_cdc

        size = SIZES[name][ctx.size]
        self.ctx = ctx
        self.staging = f"{ctx.run_dir}/staging"
        self.journal = f"{ctx.run_dir}/journal"
        self.pages = f"{ctx.run_dir}/pages" if snapshot else None
        rot = size["receiver_rotation"]
        gen = JournalGenConfig(
            n_urls=size["n_urls"],
            n_ops=rot * n_receivers,
            seed=ctx.seed,
            receiver_rotation=rot,
        )
        ctx.info["session_s"] = time.perf_counter() - ctx.t_start
        write_journal_data(ctx, gen, self.staging)
        if snapshot:
            generate_pages(ctx.spark, gen).write.parquet(self.pages)
        ctx.info["datagen_s"] = time.perf_counter() - ctx.t_start - ctx.info["session_s"]
        con = duckdb.connect()
        self.heads = journal_receivers(con, self.staging)
        self.keys = point_keys(con, self.staging, "PAGES")
        con.close()
        self.pending = sorted(self.heads)
        os.makedirs(self.journal)
        ctx.info.update(
            n_urls=gen.n_urls,
            n_ops=gen.n_ops,
            receivers=len(self.heads),
            entries_per_receiver=median([n for _s, n in self.heads.values()]),
        )
        cfg = engine_config(self.journal, f"{ctx.run_dir}/target")
        ctx.rec.active = False
        self.snapshot_s = self.journal_head_s = None
        if snapshot:
            self.publish()
            run_cdc(ctx.spark, cfg, pages=ctx.spark.read.parquet(self.pages))
            snap = next(s for s in reversed(ctx.rec.spans) if s["name"] == "sources.initial_snapshot")
            head = next(s for s in reversed(ctx.rec.spans) if s["name"] == "sources.journal_head")
            self.snapshot_s = snap["end"] - snap["start"]
            self.journal_head_s = head["end"] - head["start"]
        self.tailer = JournalTailer(ctx.spark, cfg)
        self.reader = Reader(ctx, self.tailer.target, self.keys)
        self.applied: list[int] = []

    def publish(self) -> int:
        r = self.pending.pop(0)
        os.rename(f"{self.staging}/receiver_idx={r}", f"{self.journal}/receiver_idx={r}")
        return r

    def covered(self, r: int) -> bool:
        return tuple(self.tailer.target.watermark()) >= (r, self.heads[r][0])

    def warm_up(self) -> None:
        t = time.perf_counter()
        r = self.publish()
        self.applied.append(r)
        self.tailer.run_to_head()
        self.reader.scan(len(self.applied) - 1, None)
        self.ctx.info["warmup_s"] = time.perf_counter() - t

    def gate(self, res: Result) -> None:
        from gate import Reference

        ref = Reference(self.journal, "PAGES", pages_path=self.pages)
        try:
            gate_target(ref, self.applied, self.tailer.target, res, "final state")
            prefix = {}
            for tag in {t for *_x, t in self.reader.log}:
                prefix[tag] = self.applied if tag == "final" else self.applied[: tag + 1]
            self.reader.verify(lambda tag: ref.keyed(prefix[tag], with_text=False), res)
        finally:
            ref.close()


# -- tail_with_readers --------------------------------------------------------


def tail_with_readers(ctx: Ctx) -> Result:
    size = SIZES["tail_with_readers"][ctx.size]
    res = Result()
    setup = TailSetup(ctx, "tail_with_readers", size["receivers"], snapshot=False)
    setup.warm_up()
    res.setup_s = time.perf_counter() - ctx.t_start

    t0 = ctx.begin()
    i = 0
    min_iterations = 4 if ctx.trace else 3
    while setup.pending and (i < min_iterations or time.perf_counter() < t0 + ctx.seconds):
        traced = ctx.trace and i % 2 == 0
        ctx.rec.active = traced
        t_pub = time.perf_counter()
        r = setup.publish()
        t = time.perf_counter()
        stats = setup.tailer.run_to_head()
        t_ret = time.perf_counter()
        setup.applied.append(r)
        res.unit_walls["traced" if traced else "untraced"].append(t_ret - t)
        if not traced:
            res.pass_rates.append((sum(int(b.get("events", 0)) for b in stats), t_ret - t))
            res.commit.append(t_ret - t_pub)
            if setup.covered(r):
                res.freshness.append(t_ret - t_pub)
        if not setup.covered(r):
            res.failures.append(f"receiver {r} not covered after its pass")
        # the reads see the table after receiver r; tag = index in applied
        setup.reader.round(len(setup.applied) - 1, None if traced else res, repeat=2)
        i += 1
    ctx.measured(res)
    ctx.info["iterations"] = i
    setup.gate(res)
    return res


# -- steady_tail --------------------------------------------------------------


def steady_tail(ctx: Ctx) -> Result:
    size = SIZES["steady_tail"][ctx.size]
    rate = size["rate_per_s"]
    n_pub = max(6, int(ctx.seconds * rate))
    res = Result()
    setup = TailSetup(ctx, "steady_tail", n_pub + 2, snapshot=True)
    res.snapshot_s = setup.snapshot_s
    res.extra["sources.journal_head_s"] = (setup.journal_head_s, "s")
    setup.warm_up()
    res.setup_s = time.perf_counter() - ctx.t_start - setup.snapshot_s
    poll_s = setup.tailer.cfg.poll_interval_ms / 1000.0
    ctx.rec.track_listing = True

    # open loop: the timer thread publishes on a fixed schedule that
    # does not wait for the engine
    sched: dict[int, tuple[float, float]] = {}  # receiver -> (due, actual)
    lock = threading.Lock()
    t0 = ctx.begin() + 0.05
    stop = threading.Event()

    def publisher():
        for n in range(n_pub):
            due = t0 + n / rate
            delay = due - time.perf_counter()
            if delay > 0 and stop.wait(delay):
                return
            r = setup.publish()
            with lock:
                sched[r] = (due, time.perf_counter())

    th = threading.Thread(target=publisher, name="perfbench-publisher")
    th.start()
    idle_s = busy_s = 0.0
    done: set[int] = set()
    n_pass = 0
    try:
        while True:
            with lock:
                published = dict(sched)
            finished = not th.is_alive() and len(published) == n_pub
            if finished and set(published) <= done:
                break
            traced = ctx.trace and n_pass % 2 == 0
            ctx.rec.active = traced
            t = time.perf_counter()
            stats = setup.tailer.run_to_head()
            t_end = time.perf_counter()
            events = sum(int(b.get("events", 0)) for b in stats)
            if events:
                n_pass += 1
                res.unit_walls["traced" if traced else "untraced"].append(t_end - t)
            for r, (due, actual) in published.items():
                if r not in done and setup.covered(r):
                    done.add(r)
                    res.freshness.append(t_end - due)
                    res.commit.append(t_end - actual)
            if events:
                busy_s += t_end - t
                res.pass_rates.append((events, t_end - t))
            else:
                idle_s += t_end - t
                time.sleep(poll_s)
                idle_s += poll_s
            if time.perf_counter() > t0 + 6 * ctx.seconds + 60:
                res.failures.append("tailer did not drain the published receivers")
                break
    finally:
        stop.set()
        th.join(timeout=30)
    ctx.rec.active = False
    ctx.rec.track_listing = False
    setup.applied.extend(sorted(sched))
    late = [a - d for d, a in sched.values()]
    res.extra["bench.publisher_late_p50_s"] = (median(late), "s")
    res.extra["bench.publisher_late_max_s"] = (max(late, default=0.0), "s")
    res.extra["streaming.poll_idle_share"] = (idle_s / max(idle_s + busy_s, 1e-9), "ratio")
    ctx.info["published"] = len(sched)

    # listing/chain race: receivers a pass planned (chain) but its scan
    # never listed. The window runs from the start of the journal
    # listing to the start of footer discovery; its share of the loop's
    # wall time is the chance that a publish lands inside it.
    lost, windows = set(), []
    for p in ctx.rec.spans:
        if p["name"] != "streaming.pass" or p["start"] < t0:
            continue
        kids = ctx.rec.children(p)
        listing = next((k for k in kids if k["name"] == "sources.read_journal"), None)
        footers = next((k for k in kids if k["name"] == "plans.chain_discovery"), None)
        chain = next((k.get("receivers") for k in kids if "receivers" in k), None)
        if listing is not None and "listed" in listing and chain is not None:
            lost |= set(chain) - set(listing["listed"])
        if listing is not None and footers is not None:
            windows.append(footers["start"] - listing["start"])
    res.extra["bench.race_lost_receivers"] = (len(lost), "count")
    res.extra["bench.race_window_p50_s"] = (median(windows), "s")
    res.extra["bench.race_exposure_share"] = (sum(windows) / (idle_s + busy_s), "ratio")
    ctx.info["race_lost"] = sorted(lost)

    for _j in range(3):
        setup.reader.round("final", res)
    ctx.measured(res)
    setup.gate(res)
    return res


WORKLOADS = {
    "backlog_catchup": backlog_catchup,
    "tail_with_readers": tail_with_readers,
    "steady_tail": steady_tail,
}


# -- single-core baseline for scaling.efficiency ------------------------------


def scaling_child(ctx: Ctx, journal: str, reps: int = 2) -> float:
    """Catch-up throughput over an existing journal, warm, in this
    process's own JVM (run at local[1] by the traced backlog run)."""
    from debezium_connector_ibmi_spark.streaming import JournalTailer

    JournalTailer(ctx.spark, engine_config(journal, f"{ctx.run_dir}/t-warm")).run_to_head()
    rates = []
    for k in range(reps):
        tl = JournalTailer(ctx.spark, engine_config(journal, f"{ctx.run_dir}/t{k}"))
        t = time.perf_counter()
        ev = sum(int(b.get("events", 0)) for b in tl.run_to_head())
        rates.append(ev / (time.perf_counter() - t))
    return median(rates)


__all__ = ["Ctx", "Result", "WORKLOADS", "SIZES", "scaling_child", "tail"]
