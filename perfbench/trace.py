"""Measurement from outside the engine: spans around calls into its public
functions, timing proxies, Spark's own status and progress APIs, the
driver JVM's peak RSS and the CPU time of the engine's processes.

Spans are kept in memory and written once at exit. A disabled tracer
records nothing, so the untraced run pays only for the timestamps the
end-to-end metrics themselves need.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Tracer:
    """Spans (name, start, end, parent, op) plus named counters.

    ``start``/``end`` are epoch seconds, the clock Spark's progress
    timestamps use, so rebuilt micro-batch spans nest under the
    benchmark's own."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.ms: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.op: int | None = None
        self.cost_s = 0.0  # time spent inside the tracer itself

    def reset(self) -> None:
        """Forget everything recorded so far, e.g. the warm-up's calls, so
        that the layer figures cover the timed phase only."""
        self.__init__(self.enabled)

    def new_op(self) -> None:
        """Start the next operation: later spans carry its id."""
        self.op = (self.op or 0) + 1

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            op: int | None = None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start, "end": end,
                           "parent": parent, "op": self.op if op is None else op})
        return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, name: str):
        """Time the block as a span under the innermost open span. Yields
        the span id (None when disabled)."""
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sid = self.add(name, time.time(), 0.0, self._stack[-1] if self._stack else None)
        self._stack.append(sid)
        self.cost_s += time.perf_counter() - t
        try:
            yield sid
        finally:
            t = time.perf_counter()
            self._stack.pop()
            self.spans[sid]["end"] = time.time()
            self.cost_s += time.perf_counter() - t

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a span; counts the call and its
        milliseconds under ``name`` when enabled."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(name) as sid:
            out = fn(*args, **kwargs)
        self.calls[name] += 1
        self.ms[name] += (time.time() - self.spans[sid]["start"]) * 1000
        return out

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] += value

    def self_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the part its children cover
        (children of one span do not overlap: they run on one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"] - child[s["id"]]) * 1000
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# StreamingQueryProgress.durationMs phases in the order MicroBatchExecution
# runs them; rebuilt batch spans lay the phases out in this order.
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                "commitOffsets")


def batch_spans(tracer: Tracer, progress: list[dict], parent: int | None) -> None:
    """Rebuild one span per micro-batch from its progress record: start at
    the trigger timestamp, last ``triggerExecution`` ms, with one child per
    phase. Phase durations also accumulate as ``streaming.ingest.<phase>_ms``."""
    if not tracer.enabled:
        return
    for p in progress:
        d = p["durationMs"]
        t0 = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        bid = tracer.add("streaming.ingest.batch", t0, t0 + d["triggerExecution"] / 1000, parent)
        t = t0
        for ph in BATCH_PHASES:
            ms = d.get(ph, 0)
            tracer.add(f"streaming.ingest.{ph}", t, t + ms / 1000, bid)
            tracer.counters[f"streaming.ingest.{ph}_ms"] += ms
            t += ms / 1000


class Timed:
    """Proxy that runs every method call of ``inner`` through
    ``tracer.call`` under ``prefix`` — e.g. a ``ControlTable`` passed as
    ``control`` to ``backfill_range``."""

    def __init__(self, inner, tracer: Tracer, prefix: str):
        self._inner, self._tracer, self._prefix = inner, tracer, prefix

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def timed(*args, **kwargs):
            return self._tracer.call(self._prefix, attr, *args, **kwargs)

        return timed


SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "jvm_gc_ms",
                  "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "output_bytes",
                  "spill_bytes")


class SparkCounters:
    """Engine work between ``start()`` and ``stop()``, read from the
    driver's status store: jobs by id range, then each job's stages."""

    def __init__(self, spark):
        self.spark = spark
        self._first_job = None

    def _next_job_id(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def start(self) -> None:
        self._first_job = self._next_job_id()

    def stop(self) -> dict[str, float]:
        """The counters, named ``spark.<counter>``."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        last_job = self._next_job_id()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        out["jobs"] = float(last_job - self._first_job)
        seen = set()
        for j in range(self._first_job, last_job):
            info = sc.statusTracker().getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the status store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["jvm_gc_ms"] += st.jvmGcTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return {f"spark.{k}": v for k, v in out.items()}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of this machine's CPUs so far, from /proc/stat:
    steal is the time the host ran something else on them."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def jvm_peak_rss_mb(spark) -> float:
    """Driver JVM high-water resident set (VmHWM), in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


# HotSpot's JIT compiler threads. Their CPU time is warm-up, not work:
# after the benchmark's warm-ups they still took up to half of a timed
# phase's CPU, varying from run to run with when a method got hot.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as f:
        raw = f.read()
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def process_tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every process
    below it, JIT compiler threads left out: in local mode the benchmark's
    own interpreter, the Spark JVM it launched, and the Python workers and
    helper processes the JVM starts. Time the host takes from this
    machine's CPUs (steal) is charged to no process, so a busy host moves
    this figure far less than it moves wall time. Exited children count
    once their parent reaps them."""
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                procs[int(entry)] = _stat(f"/proc/{entry}/stat")[1]
            except OSError:  # exited while listing
                continue
    children: dict[int, list[int]] = defaultdict(list)
    for pid, fields in procs.items():
        children[int(fields[1])].append(pid)  # fields: state, ppid, ...
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo += children[pid]
        if pid not in procs:
            continue
        ticks += int(procs[pid][13]) + int(procs[pid][14])  # cutime, cstime
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if not name.startswith(JIT_THREADS):
                ticks += int(fields[11]) + int(fields[12])  # utime, stime
    return ticks / os.sysconf("SC_CLK_TCK")
