"""Shared machinery: the run context, operation and span recording, the
Spark job ledger, stream progress, and process memory.

Untraced runs record only the workload's own operations (one timestamp
pair each). Traced runs additionally

- wrap library functions, from this package, so every call records a span
  (name, start, end, parent span, operation id) in memory;
- listen to streaming progress (``StreamingQueryProgress.durationMs``) —
  ``recentProgress`` keeps only the last 100 batches;
- read every Spark job and stage from the status store at the end and
  attribute them to operations by time window. Job groups are not used:
  the library launches jobs from ``ThreadPoolExecutor`` threads, which do
  not inherit job-group local properties.
"""

from __future__ import annotations

import functools
import json
import math
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "pyspark_etl_twitter_spark"


def pct(values, q: float) -> float:
    """Nearest-rank percentile ``q`` (0-100) of ``values``; 0.0 if empty."""
    vals = sorted(values)
    if not vals:
        return 0.0
    return float(vals[max(0, math.ceil(q / 100.0 * len(vals)) - 1)])


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` pairs."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_jiffies() -> tuple[int, int]:
    """Total and stolen CPU time of the host so far (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def tree_cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds (user + system) used so far by this process and by the
    JVM ``jvm_pid`` with every process below it (Python workers), reaped
    ones included. Time the hypervisor gives to other guests (steal) is
    charged to no process, so unlike wall time this does not grow with it."""
    stats: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stats[int(entry)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while the table was read
                continue
    ticks = sum(int(x) for x in stats[os.getpid()][11:13])
    todo = [jvm_pid] if jvm_pid in stats else []
    while todo:
        pid = todo.pop()
        ticks += sum(int(x) for x in stats[pid][11:15])
        todo += [c for c, f in stats.items() if int(f[1]) == pid]
    return ticks / os.sysconf("SC_CLK_TCK")


def process_start_time() -> float:
    """Wall-clock time this process was started (from ``/proc``)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class Op:
    """One timed operation of a workload."""

    name: str
    kind: str
    start: float  # wall clock (s), aligned with Spark job timestamps
    wall_s: float  # measured with perf_counter
    n: int = 0  # rows or items the operation handled
    cpu_s: float = 0.0  # see tree_cpu_s

    @property
    def end(self) -> float:
        return self.start + self.wall_s


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


@dataclass
class Recorder:
    """Operations (always) and spans (traced runs only)."""

    trace: bool
    ops: list[Op] = field(default_factory=list)
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    current_op: int | None = None
    jvm_pid: int | None = None

    @contextmanager
    def op(self, name: str, kind: str, n: int = 0):
        """Time one workload operation; ``n`` may be updated inside."""
        rec = Op(name, kind, time.time(), 0.0, n)
        self.current_op = len(self.ops)
        cpu0 = tree_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                yield rec
        finally:
            rec.wall_s = time.perf_counter() - t0
            rec.cpu_s = tree_cpu_s(self.jvm_pid) - cpu0
            self.current_op = None
        self.ops.append(rec)

    @contextmanager
    def span(self, name: str):
        if not self.trace:
            yield
            return
        b0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            # spans opened on callback threads (foreachBatch) have no
            # parent there but still belong to the open operation
            parent = stack[-1].sid if stack else None
            span = Span(len(self.spans), name, time.time(), 0.0, parent, self.current_op)
            self.spans.append(span)
        stack.append(span)
        self.overhead_s += time.perf_counter() - b0
        try:
            yield
        finally:
            span.end = time.time()
            stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module_name: str, attr: str, span_name: str) -> None:
        """Route every reference to ``module.attr`` inside the library
        (modules that imported it by name included) through a span."""
        original = getattr(sys.modules[module_name], attr)
        traced = self.wrap(original, span_name)
        for name, mod in list(sys.modules.items()):
            if name.startswith(PACKAGE) and getattr(mod, attr, None) is original:
                setattr(mod, attr, traced)

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total and self seconds (self = duration
        minus the part of it covered by child spans)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            agg = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s.end - s.start
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - union_length(children.get(s.sid, []))
        return out

    def span_total(self, name: str) -> tuple[int, float]:
        """Calls and total seconds of the spans called ``name``."""
        calls = [s.end - s.start for s in self.spans if s.name == name]
        return len(calls), float(sum(calls))

    def kind_walls(self, kind: str) -> list[float]:
        return [o.wall_s for o in self.ops if o.kind == kind]


class ProgressLog:
    """Collects ``StreamingQueryProgress`` of every query in the session."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                log.events.append(
                    {
                        "name": p.name,
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "ms": dict(p.durationMs),
                    }
                )

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def durations(self, key: str) -> list[float]:
        """``durationMs[key]`` of every batch that read rows."""
        return [float(e["ms"][key]) for e in self.events if key in e["ms"] and e["rows"] > 0]


def spark_ledger(spark, ops: list[Op]) -> dict[str, float]:
    """Attribute every Spark job in the status store to the operation whose
    wall-clock window holds its submission, and sum its stages."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    windows = [(o.start * 1000.0, o.end * 1000.0) for o in ops]
    per_op: list[list[tuple[float, float, list[int]]]] = [[] for _ in ops]
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub, comp = j.submissionTime(), j.completionTime()
        if sub.isEmpty():
            continue
        t0 = float(sub.get().getTime())
        t1 = float(comp.get().getTime()) if not comp.isEmpty() else t0
        for k, (w0, w1) in enumerate(windows):
            if w0 <= t0 <= w1:
                ids = j.stageIds()
                per_op[k].append((t0, t1, [ids.apply(x) for x in range(ids.size())]))
                break
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    sums = dict.fromkeys(
        (
            "jobs stages tasks executor_run_ms executor_cpu_ms gc_ms "
            "shuffle_read_bytes shuffle_write_bytes spill_bytes input_bytes "
            "output_bytes driver_gap_s"
        ).split(),
        0.0,
    )
    skews: list[float] = []
    for op, op_jobs in zip(ops, per_op):
        sums["jobs"] += len(op_jobs)
        intervals = [(a / 1000.0, b / 1000.0) for a, b, _ in op_jobs]
        sums["driver_gap_s"] += max(0.0, op.wall_s - union_length(intervals))
        for _, _, stage_ids in op_jobs:
            for sid in stage_ids:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                    continue
                sums["stages"] += 1
                sums["tasks"] += st.numTasks()
                sums["executor_run_ms"] += st.executorRunTime()
                sums["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                sums["gc_ms"] += st.jvmGcTime()
                sums["shuffle_read_bytes"] += st.shuffleReadBytes()
                sums["shuffle_write_bytes"] += st.shuffleWriteBytes()
                sums["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                sums["input_bytes"] += st.inputBytes()
                sums["output_bytes"] += st.outputBytes()
                if st.numTasks() >= 2:
                    summary = store.taskSummary(sid, st.attemptId(), quantiles)
                    if not summary.isEmpty():
                        run = summary.get().executorRunTime()
                        med, top = run.apply(0), run.apply(1)
                        if med > 0:
                            skews.append(top / med)
    n_ops = max(1, len(ops))
    out = {f"spark.{k}": v for k, v in sums.items()}
    for k in ("jobs", "stages", "tasks"):
        out[f"spark.{k}"] = sums[k] / n_ops
    out["spark.task_skew"] = statistics.median(skews) if skews else 0.0
    return out


#: Library functions a traced run wraps in spans: (module, attribute, span).
#: Functions the workloads call directly get their span at the call site.
TRACED = (
    ("sources.catalog", "load_table", "catalog.load_table"),
    ("operators.sentiment", "score_documents", "sentiment.score_documents"),
    ("operators.dedup", "minhash_index_append", "dedup.minhash_index_append"),
)


@dataclass
class Ctx:
    """State of one benchmark run, shared by ``run.py`` and a workload."""

    root: str
    work: str
    seed: int
    seconds: int
    rec: Recorder
    t_process: float
    spark: object = None
    progress: ProgressLog | None = None
    values: dict[str, float] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)
    config: dict[str, object] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    n_mismatched: int = 0
    mismatches: list[str] = field(default_factory=list)
    _gateway_proc: object = None
    _jiffies: tuple[int, int] = (0, 0)

    @property
    def trace(self) -> bool:
        return self.rec.trace

    def set(self, name: str, value: float, n: int = 1) -> None:
        self.values[name] = float(value)
        self.counts[name] = n

    def mismatch(self, what: str, count: int = 1) -> None:
        self.n_mismatched += count
        self.mismatches.append(what)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, master: str | None = None) -> None:
        import importlib

        from pyspark_etl_twitter_spark import session

        if self.trace and "session.start_s" not in self.values:
            importlib.import_module(f"{PACKAGE}.plans.registry")
            importlib.import_module(f"{PACKAGE}.streaming.incremental")
            for mod, attr, name in TRACED:
                self.rec.patch(f"{PACKAGE}.{mod}", attr, name)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.trace:
            conf["spark.ui.retainedJobs"] = "100000"
            conf["spark.ui.retainedStages"] = "100000"
        t0 = time.perf_counter()
        with self.rec.span("session.get_session"):
            self.spark = session.get_session(
                app_name="perfbench", master=master, extra_conf=conf
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        jvm = self.spark.sparkContext._jvm
        self.rec.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        if "session.start_s" in self.values:
            return  # a restart (the single-thread baseline) is not the set-up
        self.set("session.start_s", time.perf_counter() - t0)
        get = self.spark.conf.get
        self.config.update(
            {
                "master": self.spark.sparkContext.master,
                "spark": self.spark.version,
                "shuffle_partitions": get("spark.sql.shuffle.partitions"),
                "arrow": get("spark.sql.execution.arrow.pyspark.enabled"),
                "aqe": get("spark.sql.adaptive.enabled"),
            }
        )
        if self.trace:
            self.progress = ProgressLog(self.spark)

    def begin(self, at: float | None = None) -> None:
        """Mark the end of set-up: the first timed operation starts at
        ``at`` (wall clock, default now)."""
        self.set("setup_s", (at or time.time()) - self.t_process)
        self._jiffies = cpu_jiffies()

    def finish(self) -> None:
        """Metrics every workload reports: errors, memory, trace layers."""
        total, steal = (a - b for a, b in zip(cpu_jiffies(), self._jiffies))
        # CPU time the hypervisor gave to other guests while this run was timed
        self.config["host_steal_share"] = round(steal / max(1, total), 4)
        self.set("error_rate", (self.failed + self.n_mismatched) / max(1, self.attempted))
        self.set("proc.jvm_hwm_mb", hwm_mb(self.rec.jvm_pid))
        self.set("proc.py_hwm_mb", hwm_mb())
        self.set("peak_rss_mb", self.values["proc.jvm_hwm_mb"] + self.values["proc.py_hwm_mb"])
        if not self.trace:
            return
        for key, value in spark_ledger(self.spark, self.rec.ops).items():
            self.set(key, value, len(self.rec.ops))
        time.sleep(0.5)  # progress events arrive asynchronously
        for key, metric in (
            ("latestOffset", "stream.latest_offset_ms"),
            ("getBatch", "stream.get_batch_ms"),
            ("queryPlanning", "stream.query_planning_ms"),
            ("walCommit", "stream.wal_commit_ms"),
            ("commitOffsets", "stream.commit_offsets_ms"),
            ("addBatch", "stream.add_batch_ms"),
            ("triggerExecution", "stream.trigger_ms"),
        ):
            vals = self.progress.durations(key)
            self.set(metric, pct(vals, 50), len(vals))
        vals = self.progress.durations("addBatch")
        self.set("stream.add_batch_p90_ms", pct(vals, 90), len(vals))
        self.set("trace.spans", len(self.rec.spans))
        self.set("trace.overhead_s", self.rec.overhead_s)

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM this process started to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        proc = self._gateway_proc
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - a hung JVM is killed instead
                proc.kill()
                proc.wait()


def write_json(path: str, payload) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1, default=str)
