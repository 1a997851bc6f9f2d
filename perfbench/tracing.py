"""Measurement plumbing the benchmark uses from outside the engine.

- `Spans`: an in-memory span recorder (name, start, end, parent id).
  Disabled, it records nothing and its context manager costs one
  branch, so untraced runs time the engine alone.
- `JvmMeters`: Catalyst's `RuleExecutor` metering and codegen
  compile counters, read over py4j.
- `ProgressLog`: a `StreamingQueryListener` that keeps every
  `StreamingQueryProgress` of the landing stream.
- `event_log_totals`: executor-side totals per job group, read from
  Spark's uncompressed JSON event log.
- `cpu_seconds`, `steal_ticks`, `peak_rss_mb`, `ambient`: driver cost
  and the machine state a run was measured under.
"""

from __future__ import annotations

import json
import os
import subprocess
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    """Spans of one process; ids are list indices, parents ids."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self.open(name, **attrs)
        try:
            yield sid
        finally:
            self.close(sid)

    def open(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "parent": parent,
             "start": time.perf_counter() - self.t0, "end": None, **attrs}
        )
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter() - self.t0
        self._stack.remove(sid)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """A span timed by someone else (e.g. a progress phase);
        `start`/`end` are perf_counter readings."""
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "parent": parent,
             "start": start - self.t0, "end": end - self.t0, **attrs}
        )
        return sid

    def self_time(self, sid: int) -> float:
        """Duration minus the union of its children's intervals."""
        s = self.spans[sid]
        kids = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in self.spans
            if c["parent"] == sid and c["end"] is not None
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in kids:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return (s["end"] - s["start"]) - covered

    def self_by_name(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += self.self_time(s["id"])
        return dict(out)

    def unattributed(self, name: str) -> float:
        """Share of the time of spans called `name` (the operations)
        that none of their child spans covers: how much of each
        operation's measured wall time the layer spans leave
        unexplained."""
        ops = [s for s in self.spans if s["name"] == name and s["end"] is not None]
        total = sum(s["end"] - s["start"] for s in ops)
        return sum(self.self_time(s["id"]) for s in ops) / total if total else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JvmMeters:
    """Catalyst rule time and Janino compile counters, process-wide
    in the driver JVM (all operations run one at a time)."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._rules = getattr(
            jvm.org.apache.spark.sql.catalyst.rules, "RuleExecutor$"
        ).__getattr__("MODULE$")
        self._codegen = getattr(
            jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$"
        ).__getattr__("MODULE$")
        self._compiles = getattr(
            jvm.org.apache.spark.metrics.source, "CodegenMetrics$"
        ).__getattr__("MODULE$").METRIC_COMPILATION_TIME()

    def start(self) -> tuple[int, int]:
        self._rules.resetMetrics()
        return self._codegen.compileTime(), self._compiles.getCount()

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        return {
            "catalyst.s": self._rules.queryExecutionMeter().totalTime() / 1e9,
            "codegen.compile_s": (self._codegen.compileTime() - mark[0]) / 1e9,
            "codegen.compiles": float(self._compiles.getCount() - mark[1]),
        }


class ProgressLog(StreamingQueryListener):
    """Keeps each progress event as a dict. Events arrive
    asynchronously on the listener bus; `wait_terminated` blocks until
    a query's termination event arrived, after its last progress."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._done: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self._done.add(str(event.id))
            self._cv.notify_all()

    def wait_terminated(self, timeout: float) -> None:
        deadline = time.monotonic() + timeout
        with self._cv:
            while not self._done:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming termination event not seen")
                self._cv.wait(left)

    def batches(self) -> list[dict]:
        """Progress of the micro-batches that read input."""
        with self._cv:
            return [p for p in self.progress if p.get("numInputRows", 0) > 0]


_TASK_KEYS = {
    "exec.run_s": ("Executor Run Time", 1e-3),
    "exec.cpu_s": ("Executor CPU Time", 1e-9),
    "exec.gc_s": ("JVM GC Time", 1e-3),
    "exec.spill_mb": ("Disk Bytes Spilled", 1 / 2**20),
}


def event_log_totals(log_dir: str) -> dict[str, dict[str, float]]:
    """Executor totals per job group (`other` without one), from the
    finished event log of the newest application in `log_dir`. A
    streaming query runs its jobs under its run id as job group."""
    path = max(
        (os.path.join(log_dir, f) for f in os.listdir(log_dir)),
        key=os.path.getmtime,
    )
    stage_key: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line[:60]:
                e = json.loads(line)
                key = (e.get("Properties") or {}).get("spark.jobGroup.id") or "other"
                out[key]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_key[sid] = key
            elif '"SparkListenerTaskEnd"' in line[:60]:
                e = json.loads(line)
                m = e.get("Task Metrics") or {}
                acc = out[stage_key.get(e["Stage ID"], "other")]
                acc["tasks"] += 1
                for name, (field, scale) in _TASK_KEYS.items():
                    acc[name] += m.get(field, 0) * scale
                acc["shuffle.write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    / 2**20
                )
                rd = m.get("Shuffle Read Metrics", {})
                acc["shuffle.read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / 2**20
    return {k: dict(v) for k, v in out.items()}


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """User + system CPU seconds of this process and every live
    descendant (the driver JVM and its Python workers), including
    children they already reaped. Unlike wall time, this excludes
    time the hypervisor stole from the vCPUs."""
    stats: dict[int, tuple[int, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ppid = int(fields[1])
        stats[int(d)] = (ppid, sum(int(x) for x in fields[11:15]) / _TICK)
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _t) in stats.items():
        kids[ppid].append(pid)
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0.0))[1]
        todo.extend(kids[pid])
    return total


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def ambient() -> dict:
    """nproc, other JVMs and load1 before this run's JVM starts."""
    try:
        p = subprocess.run(["pgrep", "-c", "java"], capture_output=True, text=True)
        jvms = int(p.stdout.strip() or 0) if p.returncode <= 1 else -1
    except (OSError, ValueError):
        jvms = -1
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "other_jvms": jvms,
        "load1": round(os.getloadavg()[0], 2),
    }


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver: the JVM's VmHWM plus this
    Python process's."""
    import resource

    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0
