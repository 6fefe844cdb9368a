"""kpipe_spark benchmark: one workload per invocation.

    python3 benchmark/run.py --workload stream_keyed_io --seed 1 --seconds 10 --trace 0

Run from the repository root. The run is hermetic: it works in a fresh
directory under ``.bench_work/`` (Spark warehouse, checkpoints, local
dirs, the JVM's tmpdir and all generated inputs live there and are
removed at the end), puts the repository on ``PYTHONPATH`` for the
Python workers, and drives the engine only through its public surface.

Standard output ends with one JSON line:
``{"correct": .., "attempted": .., "failed": .., "metrics": {..}}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. See ``benchmark/README.md`` for the workloads and the
meaning of every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
from collections import Counter
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import verify  # noqa: E402
from spans import Tracer, median, quantile, self_times  # noqa: E402

# -- engine set-up -----------------------------------------------------------
# local[nproc - 1]: one CPU stays free for the driver's Python and JVM
# threads; runs were markedly steadier than at local[nproc] (see README.md).
# The session's default 16g driver heap exceeds a 15 GB host without swap,
# so the heap is pinned well under it.
DRIVER_MEM = "2g"


def task_slots() -> int:
    return max(1, len(os.sched_getaffinity(0)) - 1)


# records in the stream's first (cold) micro-batch; it and the next three,
# full-size ones warm the query up and are left out of capacity_rps (batch
# walls still fall by a third over the first seven batches)
WARMUP_RECORDS = 2_000
WARMUP_BATCHES = 4

# -- workloads ---------------------------------------------------------------
# offered_rps is frozen, at about a quarter of the capacity_rps measured
# on a 4-core host when the benchmark was introduced (3.5-4k rec/s): an
# open loop near saturation grows its micro-batches, and its latency then
# swings with every slow second of the host
STREAM = {
    # KEY_ORDERED, 1 ms of blocking work per delivered record in the sink
    # (the reference's workMicros=1000 row)
    "stream_keyed_io": {
        "mode": "KEY_ORDERED",
        # timed capacity batches per second of --seconds
        "backlog_files_per_s": 0.5,
        "backlog_records": 10_000,
        "open_file_records": 100,
        "offered_rps": 1_000,
        "blocking_wait_s": 0.001,
    },
}
# the PARALLEL outcome drain with a cheap sink, measured by traced runs
PARALLEL_PROBE = {
    "mode": "PARALLEL",
    "backlog_files_per_s": 0.25,
    "backlog_records": 20_000,
    "blocking_wait_s": 0.0,
}
BATCH = {
    "batch_relational": {
        # the scale of the engine's sf0.1 test tables
        "sf": 0.1,
        # query -> the tables it scans (for the rows-scanned capacity)
        "queries": {
            "q01_pricing_summary": ("lineitem",),
            "q02_revenue_by_nation": ("lineitem", "orders", "customer", "nation"),
            "q03_shipping_priority": ("customer", "orders", "lineitem"),
            "q05_local_supplier_volume": (
                "customer", "orders", "lineitem", "supplier", "nation", "region",
            ),
            "q06_revenue_forecast": ("lineitem",),
            "q11_window_topk_per_customer": ("orders",),
            "q12_window_running_total": ("orders",),
            "q22_events_hourly": ("events",),
            "p01_outcome_accounting": ("events",),
        },
    },
}
WORKLOADS = list(STREAM) + list(BATCH)

END_TO_END = [
    ("setup_s", "s"),
    ("capacity_rps", "rec/s"),
    ("latency_p50_s", "s"),
    ("latency_p90_s", "s"),
    ("mix_s", "s"),
    ("peak_rss_mb", "MB"),
]

_QUERY_NAMES = list(BATCH["batch_relational"]["queries"])
_LAYERS = ("workload", "session", "catalog", "streaming", "pipeline", "functions", "queries")
PER_LAYER = (
    [
        ("session.start_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("catalog.load_s", "s", "lower"),
        ("streaming.batches", "count", "lower"),
        ("streaming.rows_per_batch.p50", "rec", "higher"),
        ("streaming.batch_s.p50", "s", "lower"),
        ("streaming.batch_s.p90", "s", "lower"),
        ("streaming.driver_s.p50", "s", "lower"),
        ("streaming.first_batch_s", "s", "lower"),
        ("streaming.jobs_per_batch", "count", "lower"),
        ("streaming.stages_per_batch", "count", "lower"),
        ("streaming.tasks_per_batch", "count", "lower"),
        ("streaming.trigger_s.p50", "s", "lower"),
        ("streaming.wal_commit_s.p50", "s", "lower"),
        ("streaming.commit_offsets_s.p50", "s", "lower"),
        ("streaming.latest_offset_s.p50", "s", "lower"),
        ("streaming.backlog_files.max", "count", "lower"),
        ("streaming.capacity_rps_parallel", "rec/s", "higher"),
        ("streaming.capacity_rps_1core", "rec/s", "higher"),
        ("pipeline.outcome_counts_s.p50", "s", "lower"),
        ("pipeline.dlq_write_s.p50", "s", "lower"),
        ("pipeline.sink_write_s.p50", "s", "lower"),
        ("pipeline.passed", "count", "higher"),
        ("pipeline.filtered", "count", "higher"),
        ("pipeline.failed", "count", "higher"),
        ("pipeline.dlq_sent", "count", "higher"),
        ("functions.blocking.calls", "count", "higher"),
        ("functions.blocking.overlap_x", "x", "higher"),
    ]
    + [
        (f"queries.{q}.{m}", u, "lower")
        for q in _QUERY_NAMES
        for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))
    ]
    + [
        ("queries.build_s", "s", "lower"),
        ("queries.exec_s", "s", "lower"),
        ("queries.tasks", "count", "lower"),
        ("gen.late_s.max", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
    ]
    + [(f"self.{layer}_s", "s", "lower") for layer in _LAYERS]
)


_T0 = time.monotonic()


def note(msg: str) -> None:
    """Progress line on stderr, stamped with the run's elapsed time."""
    print(f"[{time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """Everything one invocation needs: args, dirs, tracer, session."""

    def __init__(self, args) -> None:
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.tr = Tracer(bool(args.trace))
        self.cpus = task_slots()
        self.work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
        self.spark = None
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, tuple[float, int]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.rss = RssSampler()
        self.conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            # the pinned heap is committed and touched at launch: a heap
            # that grows on demand makes the resident size of the process
            # tree depend on GC timing. The throughput collector: with the
            # default G1, warm mix passes differed twice as much from one
            # JVM to the next (see README.md). No perf-data file: the JVM
            # would write it to the system temp dir, outside the checkout.
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:+UseParallelGC -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
            ),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def problem(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.problems.append(f"{what}: {n}")


# -- process tree memory -----------------------------------------------------


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants, from one scan of /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(kids.get(p, []))
    return tree


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


class RssSampler:
    """Samples the summed RSS of the JVM and its Python workers from
    outside the engine, every 50 ms, re-listing the tree every 0.5 s.

    A child the JVM is still spawning shares the JVM's memory and runs
    the JVM's executable until it execs; it is left out, or the JVM
    would be counted twice."""

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self.peak_parts = (0.0, 0.0, 0)
        self.samples = 0
        self._stop = threading.Event()
        self._thread = None
        self.root = None

    def start(self, root_pid: int) -> None:
        self.root = root_pid
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pids, listed = [], 0.0
        while not self._stop.wait(0.05):
            now = time.monotonic()
            if now - listed > 0.5:
                tree = process_tree(self.root)
                pids = tree[:1] + [p for p in tree[1:] if _exe(p) != _exe(self.root)]
                listed = now
            rss = [_rss_mb(p) for p in pids]
            if sum(rss) > self.peak_mb:
                self.peak_mb = sum(rss)
                self.peak_parts = (rss[0], sum(rss[1:]), len(rss) - 1)
            self.samples += 1

    def stop(self) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join()


# -- session -----------------------------------------------------------------


def start_session(run: Run, master: str | None = None):
    from kpipe_spark.session import get_spark

    t0 = time.perf_counter()
    with run.tr.span("session.start", "session"):
        spark = get_spark(app_name="kpipe-bench", master=master, extra_conf=run.conf)
    t1 = time.perf_counter()
    with run.tr.span("session.warmup", "session"):
        spark.range(0, 200_000, 1, run.cpus).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t1 - t0, t2 - t1


def setup(run: Run, sf_dir: str | None = None, tables: tuple[str, ...] = ()) -> None:
    """The cold set-up a user pays, once per run: JVM launch and session
    start, a warm-up job, and the catalog load of the workload's tables.
    The tables go through ``load_tables``, whose memoized frames the
    queries then reuse."""
    from kpipe_spark.catalog import load_tables

    t0 = time.perf_counter()
    run.spark, st, wu = start_session(run)
    t1 = time.perf_counter()
    with run.tr.span("catalog.load", "catalog"):
        lazy = load_tables(run.spark, sf_dir) if tables else None
        for t in tables:
            getattr(lazy, t)
    t2 = time.perf_counter()
    run.e2e["setup_s"] = (t2 - t0, 1)
    run.layer["session.start_s"] = st
    run.layer["session.warmup_s"] = wu
    run.layer["catalog.load_s"] = t2 - t1


def shutdown(run: Run) -> None:
    """Stop the session, end the JVM and wait for its whole tree."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw else None
    tree = process_tree(proc.pid) if proc else []
    if run.spark is not None:
        run.spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- streaming workloads -----------------------------------------------------


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def file_batches(ckpt: str) -> dict[str, int]:
    """file name -> micro-batch id, from the checkpoint's file-source log."""
    out = {}
    log_dir = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def progress_by_batch(handle) -> dict[int, dict]:
    """batch id -> commit epoch, rows and durationMs of each data batch."""
    out = {}
    for p in handle.query.recentProgress:
        if p.numInputRows:
            d = dict(p.durationMs)
            out[p.batchId] = {
                "commit": _epoch(p.timestamp) + d.get("triggerExecution", 0) / 1000.0,
                "rows": p.numInputRows,
                "d": d,
            }
    return out


class BatchProbe:
    """Wraps ``StreamRunner.process_batch``: times every micro-batch and
    notes replays and errors. A traced run traces every other batch (with
    its own job group, so its jobs/stages/tasks can be counted) and runs
    the rest untraced, for the traced-minus-untraced overhead."""

    def __init__(self, run: Run, runner) -> None:
        self.run = run
        self.inner = runner.process_batch
        runner.process_batch = self
        self.phase = ""
        # phase -> [(batch id, wall s, parts, traced)]
        self.walls: dict[str, list[tuple[int, float, dict, bool]]] = {}
        self.seen: Counter = Counter()
        self.errors = 0
        self.calls = 0
        self.parts: dict = {}

    def __call__(self, batch, batch_id: int) -> None:
        tr = self.run.tr
        self.seen[(self.phase, batch_id)] += 1
        self.parts = {"counts": 0.0, "dlq": 0.0, "sink": 0.0}
        traced = tr.enabled and self.calls % 2 == 0
        self.calls += 1
        sc = batch.sparkSession.sparkContext
        t0 = time.perf_counter()
        if traced:
            old = sc.getLocalProperty("spark.jobGroup.id")
            group = f"kb-{self.phase}-{batch_id}"
            sc.setJobGroup(group, group, True)
        try:
            with tr.span("micro-batch", "streaming") if traced else tr.untraced():
                self.inner(batch, batch_id)
        except Exception:
            self.errors += 1
            raise
        finally:
            if traced:
                if old is None:
                    sc._jsc.clearJobGroup()
                else:
                    sc.setJobGroup(old, old, True)
        wall = time.perf_counter() - t0
        self.walls.setdefault(self.phase, []).append((batch_id, wall, self.parts, traced))


def timed_part(probe: BatchProbe, part: str, name: str, layer: str, fn):
    """Run fn() inside a span and add its wall time to the batch's parts."""
    t0 = time.perf_counter()
    with probe.run.tr.span(name, layer):
        out = fn()
    probe.parts[part] = probe.parts.get(part, 0.0) + time.perf_counter() - t0
    return out


def job_counts(sc, groups: list[str]) -> list[tuple[int, int, int]]:
    """(jobs, stages, tasks) per job group via the status tracker."""
    st = sc.statusTracker()
    out = []
    for g in groups:
        jobs = st.getJobIdsForGroup(g)
        stages = [s for j in jobs for s in (st.getJobInfo(j).stageIds if st.getJobInfo(j) else [])]
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            tasks += info.numTasks if info else 0
        out.append((len(jobs), len(stages), tasks))
    return out


def stream_pipeline():
    from pyspark.sql import functions as F

    from kpipe_spark.pipeline import Pipeline

    return (
        Pipeline()
        .fail_when(F.col("payload_error").isNotNull(), "DeserializationException")
        .fail_when(F.col("payload.kind") == "error", "ProcessingException")
        .require_field("payload.customerId")
        .filter((F.col("payload.status") == "active") & (F.col("payload.total") > 0))
        .pipe("amount_cents", (F.col("payload.total") * 100).cast("long"))
    )


def capacity(prog: dict[int, dict]) -> float:
    """Median drain rate of the timed batches: each batch's rows over the
    time from the previous batch's commit to its own (warm-up batches
    are left out)."""
    ids = sorted(prog)[WARMUP_BATCHES - 1 :]
    return median([
        prog[b]["rows"] / (prog[b]["commit"] - prog[a]["commit"])
        for a, b in zip(ids, ids[1:])
        if prog[b]["commit"] > prog[a]["commit"]
    ])


def backlog_sizes(cfg: dict, seconds: int) -> list[int]:
    """Records per backlog file: the warm-up files, then the timed ones
    (at least three, more with a longer --seconds)."""
    timed = [cfg["backlog_records"]] * max(3, round(seconds * cfg["backlog_files_per_s"]))
    return [WARMUP_RECORDS] + timed[:1] * (WARMUP_BATCHES - 1) + timed


class StreamBench:
    """One ``StreamRunner`` wired for measurement: decode_json over a
    parquet file source, the outcome pipeline, an idempotent parquet DLQ
    and a parquet sink (behind ``blocking_enrich`` when the workload has
    blocking work). Output lands in out/{sink,dlq}/<phase>/batch_id=<id>."""

    def __init__(self, run: Run, cfg: dict) -> None:
        from kpipe_spark.streaming import ProcessingMode, StreamRunner

        self.run = run
        self.wait = cfg["blocking_wait_s"]
        self.parks: dict = {}
        self.runner = StreamRunner(
            pipeline=stream_pipeline(),
            sink=self.sink,
            dlq_writer=self.dlq,
            mode=ProcessingMode[cfg["mode"]],
            key_col="key",
        )
        self.probe = BatchProbe(run, self.runner)

    def sink(self, df, batch_id: int) -> None:
        out = df.select("topic", "partition", "offset", "key", "amount_cents")
        layer = "pipeline"
        if self.wait:
            from kpipe_spark.functions.blocking import blocking_enrich

            wait = self.wait
            out = blocking_enrich(
                out, lambda r: time.sleep(wait) or 1, "io_result", "int", concurrency=64
            )
            layer = "functions"
        path = self.run.path("out", "sink", self.probe.phase, f"batch_id={batch_id}")
        timed_part(self.probe, "sink", "sink.write", layer,
                   lambda: out.write.mode("overwrite").parquet(path))

    def dlq(self, df, batch_id: int) -> None:
        from kpipe_spark.pipeline.sinks import IdempotentDlqParquet

        phase = self.probe.phase
        park = self.parks.setdefault(
            phase, IdempotentDlqParquet(self.run.path("out", "dlq", phase))
        )
        timed_part(self.probe, "dlq", "dlq.write", "pipeline", lambda: park(df, batch_id))

    def drain(self, phase: str, src: str, max_files: int, before_wait=None) -> dict:
        """Start a query over ``src``, run ``before_wait`` (the open-loop
        dropper) if given, process everything available, stop; returns
        the progress of every data batch."""
        import kpipe_spark.pipeline.result as result_mod
        from kpipe_spark.pipeline.formats import decode_json
        from kpipe_spark.streaming.sources import KAFKA_SCHEMA, file_source

        self.probe.phase = phase
        stream = decode_json(
            file_source(self.run.spark, src, KAFKA_SCHEMA, fmt="parquet",
                        max_files_per_trigger=max_files),
            gen.PAYLOAD_SCHEMA,
        )
        # the runner looks outcome_counts up on its module per batch
        orig = result_mod.outcome_counts
        result_mod.outcome_counts = lambda df: timed_part(
            self.probe, "counts", "outcome_counts", "pipeline", lambda: orig(df)
        )
        try:
            with self.run.tr.span(phase, "workload"):
                handle = self.runner.start(stream, self.run.path("ckpt", phase),
                                           query_name=f"bench-{phase}")
                try:
                    if before_wait is not None:
                        before_wait()
                    handle.process_all_available()
                finally:
                    handle.close()
        finally:
            result_mod.outcome_counts = orig
        return progress_by_batch(handle)

    def verify(self, phase: str, files: list[dict]) -> dict:
        """Delivery of one phase's input files against their truth."""
        run = self.run
        truth = {k: v for f in files for k, v in f["truth"].items()}
        consumed = file_batches(run.path("ckpt", phase))
        run.problem(sum(1 for f in files if f["name"] not in consumed),
                    f"{phase}: input files never consumed")
        rep = verify.check_stream(
            truth, run.path("out", "sink", phase), run.path("out", "dlq", phase)
        )
        for k in ("sink_missing", "sink_duplicated", "sink_unexpected",
                  "dlq_missing", "dlq_duplicated", "dlq_unexpected", "dlq_bad_envelope"):
            run.problem(rep[k], f"{phase}: {k}")
        if self.wait:
            io = verify.read_rows(run.path("out", "sink", phase), ["io_result"])
            run.problem(sum(1 for r in io if r["io_result"] != 1),
                        f"{phase}: blocking_enrich results")
        run.attempted += len(truth)
        return rep


def open_loop_schedule(run: Run, cfg: dict, files: list[dict], src: str) -> dict:
    """Due offsets at the frozen offered rate, jittered by up to a
    quarter of the interval from the seed (so drops stay in order)."""
    interval = cfg["open_file_records"] / cfg["offered_rps"]
    jitter = random.Random(run.seed)
    drops = [
        [
            run.path("stage", "open", f["name"]),
            os.path.join(src, f["name"]),
            max(0.0, i * interval + jitter.uniform(-0.25, 0.25) * interval),
        ]
        for i, f in enumerate(files)
    ]
    return {"start_at": 0.0, "drops": drops}


def run_stream(run: Run, cfg: dict) -> None:
    # -- inputs, outside every timing: the backlog (warm-up files first),
    # then the open-loop files, offsets continuing the backlog's
    backlog = gen.stream_files(
        run.seed, run.path("src", "capacity"), backlog_sizes(cfg, run.seconds), "backlog"
    )
    n_open = max(4, round(run.seconds * cfg["offered_rps"] / cfg["open_file_records"]))
    opened = gen.stream_files(
        run.seed + 1_000_003, run.path("stage", "open"),
        [cfg["open_file_records"]] * n_open, "open", backlog["next_offsets"],
    )
    note("stream inputs generated")
    setup(run)
    note("set-up done")
    from pyspark import SparkContext

    run.rss.start(SparkContext._gateway.proc.pid)
    bench = StreamBench(run, cfg)
    src_open = run.path("src", "open")
    os.makedirs(src_open)
    sched = open_loop_schedule(run, cfg, opened["files"], src_open)
    drop_log = run.path("drops.json")

    def run_dropper():
        sched["start_at"] = time.time() + 0.5
        with open(run.path("schedule.json"), "w") as f:
            json.dump(sched, f)
        rc = subprocess.call(
            [sys.executable, os.path.join(HERE, "dropper.py"), run.path("schedule.json"), drop_log]
        )
        if rc != 0:
            raise RuntimeError(f"dropper exited with {rc}")

    try:
        cap_prog = bench.drain("capacity", run.path("src", "capacity"), 1)
        note("capacity phase done")
        open_prog = bench.drain("open", src_open, 100_000, run_dropper)
        note("open-loop phase done")
    finally:
        run.rss.stop()

    note("peak rss: jvm %.0f MB, %.0f MB in %d worker processes" % run.rss.peak_parts)
    for phase, walls in bench.probe.walls.items():
        note(f"{phase} batch walls: " + " ".join(f"{w[1]:.2f}" for w in walls))
    # -- latency: file due time -> commit of the micro-batch that read it
    with open(drop_log) as f:
        drops = json.load(f)
    batch_of = file_batches(run.path("ckpt", "open"))
    lat = []
    for d in drops:
        b = batch_of.get(d["file"])
        if b in open_prog:
            lat.append(open_prog[b]["commit"] - d["due"])
    cap_walls = [w[1] for w in bench.probe.walls["capacity"][WARMUP_BATCHES:]]
    run.e2e["capacity_rps"] = (capacity(cap_prog), len(cap_prog) - WARMUP_BATCHES)
    run.e2e["latency_p50_s"] = (quantile(lat, 0.5), len(lat))
    run.e2e["latency_p90_s"] = (quantile(lat, 0.9), len(lat))
    run.e2e["mix_s"] = (median(cap_walls), len(cap_walls))
    run.e2e["peak_rss_mb"] = (run.rss.peak_mb, run.rss.samples)
    run.layer["gen.late_s.max"] = max((d["actual"] - d["due"] for d in drops), default=0.0)

    # -- correctness: delivery per phase, batches, Handle.metrics()
    reps = [bench.verify("capacity", backlog["files"]), bench.verify("open", opened["files"])]
    probe = bench.probe
    run.problem(sum(n - 1 for n in probe.seen.values() if n > 1), "replayed batches")
    run.problem(probe.errors, "batches raised")
    run.attempted += len(probe.seen)
    counters = bench.runner.metrics.counters
    tot = gen.outcome_totals(backlog["files"] + opened["files"])
    for key, want in (
        ("pipeline.processed.passed", tot["passed"]),
        ("pipeline.processed.filtered", tot["filtered"]),
        ("pipeline.processed.failed", tot["failed"]),
        ("dlq.sent", tot["failed"]),
    ):
        run.problem(int(counters.get(key, 0) != want),
                    f"Handle.metrics {key}={counters.get(key)} != {want}")
    note("stream output verified")

    if run.tr.enabled:
        stream_layers(run, cfg, bench, cap_prog, open_prog, batch_of,
                      sum(r["sink_rows"] for r in reps))
        parallel_probes(run)
        note("parallel probes done")


def stream_layers(run, cfg, bench, cap_prog, open_prog, batch_of, sink_rows) -> None:
    L = run.layer
    probe = bench.probe
    cap = probe.walls["capacity"][WARMUP_BATCHES:]
    allw = [w for phase in ("capacity", "open") for w in probe.walls.get(phase, [])]
    time.sleep(0.5)  # let the listener bus deliver the last job events
    counts = job_counts(run.spark.sparkContext,
                        [f"kb-capacity-{b}" for b, _, _, traced in cap if traced])
    L["trace.overhead_s"] = (median([w for _, w, _, traced in cap if traced])
                             - median([w for _, w, _, traced in cap if not traced]))
    L["streaming.batches"] = len(allw)
    L["streaming.rows_per_batch.p50"] = median([p["rows"] for p in cap_prog.values()])
    L["streaming.batch_s.p50"] = quantile([w[1] for w in cap], 0.5)
    L["streaming.batch_s.p90"] = quantile([w[1] for w in cap], 0.9)
    L["streaming.driver_s.p50"] = median([w - sum(p.values()) for _, w, p, _ in cap])
    L["streaming.first_batch_s"] = probe.walls["capacity"][0][1]
    L["streaming.jobs_per_batch"] = median([c[0] for c in counts])
    L["streaming.stages_per_batch"] = median([c[1] for c in counts])
    L["streaming.tasks_per_batch"] = median([c[2] for c in counts])
    prog = list(cap_prog.values()) + list(open_prog.values())
    for metric, key in (
        ("trigger_s", "triggerExecution"),
        ("wal_commit_s", "walCommit"),
        ("commit_offsets_s", "commitOffsets"),
        ("latest_offset_s", "latestOffset"),
    ):
        L[f"streaming.{metric}.p50"] = median([p["d"].get(key, 0) / 1000.0 for p in prog])
    # every trigger of the open loop takes all waiting files
    L["streaming.backlog_files.max"] = max(Counter(batch_of.values()).values(), default=0)
    L["pipeline.outcome_counts_s.p50"] = median([w[2]["counts"] for w in allw])
    L["pipeline.dlq_write_s.p50"] = median([w[2]["dlq"] for w in allw])
    L["pipeline.sink_write_s.p50"] = median([w[2]["sink"] for w in allw])
    m = bench.runner.metrics.counters
    L["pipeline.passed"] = m.get("pipeline.processed.passed", 0)
    L["pipeline.filtered"] = m.get("pipeline.processed.filtered", 0)
    L["pipeline.failed"] = m.get("pipeline.processed.failed", 0)
    L["pipeline.dlq_sent"] = m.get("dlq.sent", 0)
    if cfg["blocking_wait_s"]:
        sink_wall = sum(w[2]["sink"] for w in allw)
        L["functions.blocking.calls"] = sink_rows
        L["functions.blocking.overlap_x"] = (
            sink_rows * cfg["blocking_wait_s"] / sink_wall if sink_wall else 0.0
        )


def parallel_probes(run: Run) -> None:
    """Traced runs only: the PARALLEL outcome drain with a cheap sink,
    at local[nproc] and then local[1] (the single-core baseline)."""
    cfg = PARALLEL_PROBE
    bench = StreamBench(run, cfg)
    for k, (phase, master, metric) in enumerate((
        ("parallel", None, "streaming.capacity_rps_parallel"),
        ("one-core", "local[1]", "streaming.capacity_rps_1core"),
    ), start=1):
        files = gen.stream_files(
            run.seed + k * 2_000_029, run.path("src", phase),
            backlog_sizes(cfg, run.seconds), phase, [k * 10**12] * gen.N_PARTITIONS,
        )["files"]
        if master:
            run.spark.stop()
            run.spark, _, _ = start_session(run, master=master)
        run.layer[metric] = capacity(bench.drain(phase, run.path("src", phase), 1))
        bench.verify(phase, files)


# -- batch workloads ---------------------------------------------------------


def run_batch(run: Run, cfg: dict) -> None:
    import duckdb

    from kpipe_spark.queries import all_queries

    tr = run.tr
    sf_dir = run.path("data")
    rows = gen.relational_tables(run.seed, sf_dir, cfg["sf"])
    mix = cfg["queries"]
    tables = sorted({t for ts in mix.values() for t in ts})
    note("tables generated")
    setup(run, sf_dir, tuple(tables))
    note("set-up done")
    spark = run.spark
    sc = spark.sparkContext
    from pyspark import SparkContext

    run.rss.start(SparkContext._gateway.proc.pid)
    registry = all_queries()

    # -- correctness, once per run and outside the timed passes: every
    # query against its registry DuckDB oracle (also warms the session)
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for q in mix:
        run.attempted += 1
        try:
            got = registry[q].build(spark, sf_dir).toPandas()
            why = verify.check_query(got, con.sql(registry[q].oracle).df())
        except Exception as e:  # noqa: BLE001 — an erroring query is a failure
            why = f"error: {type(e).__name__}: {e}"
        if why:
            run.problem(1, f"{q} vs oracle: {why[:300]}")
    con.close()
    note("oracle check done")

    # -- closed loop, one client: an untimed warm-up pass (the JIT is
    # still compiling after the cold oracle pass), then whole timed
    # passes until --seconds elapse. A traced run traces every other
    # pass and runs the rest untraced, for the traced-minus-untraced
    # overhead.
    with tr.span("warm-up pass", "workload"):
        for q in mix:
            registry[q].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    order_rng = random.Random(run.seed)
    passes: list[float] = []
    lat: list[float] = []
    scanned = 0
    per_q: dict[str, list[tuple[float, float]]] = {q: [] for q in mix}
    # per pass: (build seconds, exec seconds, [(query, job group)], traced)
    pass_parts: list[tuple[float, float, list[tuple[str, str]], bool]] = []
    t_end = time.perf_counter() + run.seconds
    try:
        while time.perf_counter() < t_end or len(passes) < 3:
            order = list(mix)
            order_rng.shuffle(order)
            traced = tr.enabled and len(passes) % 2 == 0
            p0 = time.perf_counter()
            build_s = exec_s = 0.0
            pass_groups = []
            with tr.span("pass", "workload") if traced else tr.untraced():
                for q in order:
                    run.attempted += 1
                    if traced:
                        g = f"kb-{q}-{len(passes)}"
                        sc.setJobGroup(g, g)
                        pass_groups.append((q, g))
                    t0 = time.perf_counter()
                    try:
                        with tr.span(f"{q}.build", "queries"):
                            df = registry[q].build(spark, sf_dir)
                        t1 = time.perf_counter()
                        with tr.span(f"{q}.exec", "queries"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as e:  # noqa: BLE001
                        run.problem(1, f"{q} raised {type(e).__name__}")
                        continue
                    t2 = time.perf_counter()
                    per_q[q].append((t1 - t0, t2 - t1))
                    build_s += t1 - t0
                    exec_s += t2 - t1
                    lat.append(t2 - t0)
                    scanned += sum(rows[t] for t in mix[q])
            passes.append(time.perf_counter() - p0)
            pass_parts.append((build_s, exec_s, pass_groups, traced))
    finally:
        run.rss.stop()

    note("pass walls: " + " ".join(f"{p:.2f}" for p in passes))
    note("query medians: " + " ".join(
        f"{q.split('_')[0]}={median([b + e for b, e in per_q[q]]):.2f}" for q in mix))
    run.e2e["mix_s"] = (median(passes), len(passes))
    run.e2e["capacity_rps"] = (scanned / sum(passes), len(lat))
    run.e2e["latency_p50_s"] = (quantile(lat, 0.5), len(lat))
    run.e2e["latency_p90_s"] = (quantile(lat, 0.9), len(lat))
    run.e2e["peak_rss_mb"] = (run.rss.peak_mb, run.rss.samples)

    if tr.enabled:
        L = run.layer
        traced_parts = [pp for pp in pass_parts if pp[3]]
        time.sleep(0.5)  # let the listener bus deliver the last job events
        counts = [job_counts(sc, [g for _, g in groups]) for _, _, groups, _ in traced_parts]
        jobs: dict[str, list[int]] = {q: [] for q in mix}
        for (_, _, groups, _), pass_counts in zip(traced_parts, counts):
            for (q, _), c in zip(groups, pass_counts):
                jobs[q].append(c[0])
        for q in mix:
            L[f"queries.{q}.build_s"] = median([b for b, _ in per_q[q]])
            L[f"queries.{q}.exec_s"] = median([e for _, e in per_q[q]])
            L[f"queries.{q}.jobs"] = median(jobs[q])
        L["queries.build_s"] = median([b for b, _, _, _ in pass_parts])
        L["queries.exec_s"] = median([e for _, e, _, _ in pass_parts])
        L["queries.tasks"] = median([sum(c[2] for c in pc) for pc in counts])
        L["trace.overhead_s"] = (
            median([w for w, pp in zip(passes, pass_parts) if pp[3]])
            - median([w for w, pp in zip(passes, pass_parts) if not pp[3]])
        )


# -- report ------------------------------------------------------------------


def report(run: Run) -> dict:
    metrics = {}
    if run.args.trace:
        for layer, s in self_times(run.tr.spans).items():
            run.layer[f"self.{layer}_s"] = s
        for name, unit, _ in PER_LAYER:
            metrics[name] = {"value": float(run.layer.get(name, 0.0)), "unit": unit}
    else:
        for name, unit in END_TO_END:
            value, n = run.e2e.get(name, (0.0, 0))
            metrics[name] = {"value": float(value), "unit": unit}
            print(f"# {run.args.workload} {name} = {value:.6g} {unit} (n={n})")
    ratio = run.failed / max(run.attempted, 1)
    print(f"# {run.args.workload} failed_ratio = {ratio:.6g} ({run.failed}/{run.attempted})")
    return {
        "correct": run.failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "kpipe_spark", "__init__.py")):
        print(f"kpipe_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    run = Run(args)
    for d in ("tmp", "local"):
        os.makedirs(run.path(d), exist_ok=True)
    # hermetic: the Python workers import kpipe_spark from this checkout,
    # and nothing Spark or Python writes leaves the run's work dir
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(run.cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = run.path("local")
    # spark-submit's launcher JVM takes none of the session's options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run.path('tmp')}"
    os.environ["TMPDIR"] = run.path("tmp")
    os.chdir(run.work)
    try:
        with run.tr.span("run", "workload"):
            if args.workload in STREAM:
                run_stream(run, STREAM[args.workload])
            else:
                run_batch(run, BATCH[args.workload])
    finally:
        run.rss.stop()
        shutdown(run)
        os.chdir(ROOT)
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass
    note("shut down")
    result = report(run)
    if not result["correct"]:
        for p in run.problems:
            print(f"CORRECTNESS MISMATCH [{args.workload}]: {p}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
