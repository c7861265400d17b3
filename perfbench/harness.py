"""Measurement plumbing shared by the workloads: the work directory and
environment, the timed session start, spans, Spark status-store counters,
the memory sampler (``/proc`` and the JVM's memory bean) and the summary
statistics.

Nothing here reaches inside the package under test: layers are timed from
outside, around calls into their public functions, and Spark's own
counters are read from its status store before and after each call.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Spark's per-stage counters this benchmark reports, as
# (metric name, StageData field, scale to the reported unit)
STAGE_COUNTERS = (
    ("spark.tasks", "numCompleteTasks", 1),
    ("spark.failed_tasks", "numFailedTasks", 1),
    ("spark.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("spark.input_bytes", "inputBytes", 1),
    ("spark.input_records", "inputRecords", 1),
    ("spark.output_bytes", "outputBytes", 1),
    ("spark.spill_bytes", "diskBytesSpilled", 1),
    ("spark.gc_s", "jvmGcTime", 1e-3),
    ("spark.executor_run_s", "executorRunTime", 1e-3),
    ("spark.executor_cpu_s", "executorCpuTime", 1e-9),
)
COUNTER_NAMES = ("spark.jobs", "spark.stages") + tuple(c[0] for c in STAGE_COUNTERS)


def process_start_time() -> float:
    """Wall-clock time at which this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_environment(root: str) -> str:
    """Create a fresh work directory inside the checkout and point every
    temporary and scratch location of Python, Spark and the package there.
    Returns the work directory."""
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # the session is the program's own (session.get_spark): only the core
    # count is pinned, to the cores this process may use; settings an
    # inherited environment could change are cleared so its defaults apply
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for var in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(var, None)
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR", "SPARK_GRAFT_SCRATCH"):
        os.environ[var] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return work


def session_conf(work: str) -> dict[str, str]:
    """What the benchmark adds to the program's session: no console
    progress bars, and every file the JVM writes kept inside the work
    directory."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


@dataclass
class SessionTimes:
    setup_s: float
    start_s: float
    first_job_s: float


def start_session(work: str):
    """``session.get_spark`` plus a first trivial job, timed from process
    start.  Returns (spark, SessionTimes)."""
    t_proc = process_start_time()
    from liatrio_otel_collector_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app_name="perfbench", extra_conf=session_conf(work))
    t1 = time.time()
    spark.range(1).collect()
    t2 = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, SessionTimes(t2 - t_proc, t1 - t0, t2 - t1)


def stop_session(spark) -> None:
    """Stop the session, then close the gateway JVM's stdin (its signal to
    exit) and wait until the JVM has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# Spark status-store counters
# ---------------------------------------------------------------------------


class StatusCounters:
    """Totals over the stages and jobs Spark's status store has recorded
    since a mark, read with one JSON serialisation per read."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = spark._jvm
        self._store = sc._jsc.sc().statusStore()
        self._jvm = jvm
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(module.__getattr__("MODULE$"))

    def _stages(self) -> list[dict]:
        lst = self._jvm.java.util.ArrayList
        seq = self._store.stageList(lst(), False, False, self._no_quantiles, lst())
        return json.loads(self._mapper.writeValueAsString(seq))

    def _job_ids(self) -> set[int]:
        seq = self._store.jobsList(self._jvm.java.util.ArrayList())
        return {j["jobId"] for j in json.loads(self._mapper.writeValueAsString(seq))}

    def mark(self) -> tuple[set, set]:
        return {(s["stageId"], s["attemptId"]) for s in self._stages()}, self._job_ids()

    def since(self, mark: tuple[set, set]) -> dict[str, float]:
        seen_stages, seen_jobs = mark
        new = [
            s for s in self._stages()
            if (s["stageId"], s["attemptId"]) not in seen_stages and s["status"] != "SKIPPED"
        ]
        out = {"spark.jobs": len(self._job_ids() - seen_jobs), "spark.stages": len(new)}
        for name, fld, scale in STAGE_COUNTERS:
            out[name] = sum(s.get(fld, 0) or 0 for s in new) * scale
        return out


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around layer calls, kept in memory until the run ends.

    Disabled, :meth:`span` only times the block (the workloads need the
    duration either way) and records nothing.  Enabled, it records a
    :class:`Span` and, for ``counters=True``, the status-store counters the
    call caused; the time spent reading counters is accumulated in
    ``overhead_s`` so the traced run can state what tracing cost."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[str] = []
        self._counters = StatusCounters(spark) if enabled else None

    @contextmanager
    def span(self, name: str, counters: bool = False):
        timing = {"s": 0.0}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield timing
            finally:
                timing["s"] = time.perf_counter() - t0
            return
        mark = None
        if counters:
            c0 = time.perf_counter()
            mark = self._counters.mark()
            self.overhead_s += time.perf_counter() - c0
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield timing
        finally:
            timing["s"] = time.perf_counter() - t0
            end = start + timing["s"]
            self._stack.pop()
            diff = {}
            if mark is not None:
                c0 = time.perf_counter()
                diff = self._counters.since(mark)
                self.overhead_s += time.perf_counter() - c0
            self.spans.append(Span(name, start, end, parent, self.run_id, diff))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def counter_totals(self, name: str) -> dict[str, float]:
        totals = dict.fromkeys(COUNTER_NAMES, 0.0)
        for s in self.named(name):
            for k, v in s.counters.items():
                totals[k] += v
        return totals

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# memory sampler
# ---------------------------------------------------------------------------


def _processes() -> dict[int, tuple[int, str]]:
    """Parent pid and command name of every process, by pid."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            procs[int(d)] = (int(tail.split()[1]), head.split("(", 1)[1])
        except (OSError, ValueError, IndexError):
            continue
    return procs


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root_pid: int, with_jvm: bool = True) -> tuple[float, float]:
    """Resident memory of the driver JVM (the child of ``root_pid``) and of
    the Python daemon below it with the workers it forks.
    Each process counts its proportional share (PSS) of pages it shares,
    so the Python workers forked from one daemon are not counted twice.
    Returns (JVM MB, Python workers MB); the JVM's is 0 unless
    ``with_jvm``, because reading it walks every page of a multi-gigabyte
    process and costs tens of milliseconds of kernel time."""
    procs = _processes()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    jvm = workers = 0
    for child in kids.get(root_pid, []):
        jvm += _pss_kb(child) if with_jvm else 0
        # only the Python daemon's tree: the JVM also spawns short-lived
        # helpers (Hadoop's shell commands) that, until they exec, share
        # the JVM's pages and would be charged half of them
        todo = [p for p in kids.get(child, []) if procs[p][1].startswith("python")]
        while todo:
            pid = todo.pop()
            workers += _pss_kb(pid)
            todo.extend(kids.get(pid, []))
    return jvm / 1024.0, workers / 1024.0


MEMORY_NAMES = (
    "memory.jvm_pss_mb",
    "memory.python_pss_mb",
    "memory.heap_used_mb",
    "memory.heap_committed_mb",
    "memory.heap_live_mb",
    "memory.non_heap_mb",
)


class MemorySampler:
    """Memory of the driver JVM and its Python workers over a timed window.

    Between :meth:`start` and :meth:`stop` a background thread samples,
    every ``interval`` seconds, the PSS of the JVM and of the Python workers
    (:func:`tree_pss_mb`) and the JVM heap's used and committed bytes (its
    ``MemoryMXBean``), keeping the peak of each.  :meth:`stop` then forces
    full collections and reads what the heap still holds and the JVM's
    non-heap memory (metaspace, code cache) in use.

    :meth:`stop` returns ``memory_mb``: the Python workers' peak PSS plus
    the live heap plus non-heap.  It is what the program holds on to, not
    the JVM's resident size: on the program's own heap setting (no initial
    size, a 12 GB maximum) G1 sizes the heap by its own GC-time goals, and
    the JVM's PSS varied between 1.7 and 4.9 GB across runs of the same
    workload.  Every part is reported per layer; the JVM's PSS is sampled
    only ``with_jvm`` (the traced run), so that its cost stays out of the
    untraced timings."""

    def __init__(self, spark, with_jvm: bool, interval: float = 0.5):
        self.interval = interval
        self.with_jvm = with_jvm
        self.parts = dict.fromkeys(MEMORY_NAMES, 0.0)
        self._jvm = spark._jvm
        self._bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        jvm, workers = tree_pss_mb(os.getpid(), self.with_jvm)
        heap = self._bean.getHeapMemoryUsage()
        now = {
            "memory.jvm_pss_mb": jvm,
            "memory.python_pss_mb": workers,
            "memory.heap_used_mb": heap.getUsed() / 2**20,
            "memory.heap_committed_mb": heap.getCommitted() / 2**20,
        }
        for name, value in now.items():
            self.parts[name] = max(self.parts[name], value)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        # the listener bus and the context cleaner release what the window
        # left behind asynchronously, so the least of three collections
        # half a second apart is what the program still holds
        live = []
        for _ in range(3):
            self._jvm.java.lang.System.gc()
            live.append(self._bean.getHeapMemoryUsage().getUsed() / 2**20)
            time.sleep(0.5)
        self.parts["memory.heap_live_mb"] = min(live)
        self.parts["memory.non_heap_mb"] = self._bean.getNonHeapMemoryUsage().getUsed() / 2**20
        return sum(self.parts[k] for k in ("memory.python_pss_mb", "memory.heap_live_mb", "memory.non_heap_mb"))


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def geomean(values) -> float:
    values = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


@dataclass
class Outcome:
    """What a workload hands back to ``run.py``."""

    attempted: int
    failed: int
    problems: list[str]
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
