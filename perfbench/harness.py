"""Shared pieces of the benchmark: host pinning, statistics, spans, and the
counters read from Spark's status stores.

Nothing here changes the engine. Every measurement is taken from outside,
around calls into the engine's public functions, or read from the status
stores Spark keeps for every application.
"""

from __future__ import annotations

import json
import math
import os
import platform
import re
import statistics
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# --------------------------------------------------------------------- host


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_kib() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal not found in /proc/meminfo")


def pin_environment() -> None:
    """Pin the engine to this host through its environment knobs.

    Must run before pyspark starts the JVM: the driver heap and the
    worker ``PYTHONPATH`` are fixed at launch. The driver heap is a quarter
    of physical memory, capped at 8 GiB; the package default (32g) is sized
    for a much larger machine.
    """
    heap_gib = max(1, min(8, mem_total_kib() // (4 * 1024 * 1024)))
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": local,
        # Python workers import the engine's operators by module path, so
        # the checkout root must be importable whatever the caller's cwd.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    })


def spark_conf() -> dict[str, str]:
    """Benchmark-side session settings: keep every file Spark writes inside
    the checkout and keep stderr free of progress bars."""
    local = os.path.join(WORK, "spark-local")
    return {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "2000",
    }


def host_record(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": host_cpus(),
        "mem_total_kib": mem_total_kib(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
    }


def warm_jvm(spark) -> None:
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def descendants(pid: int) -> list[int]:
    """Pids of every live process below ``pid``, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_engine(grace_s: float = 30.0) -> None:
    """Stop the JVM pyspark launched and every process below this one, and
    wait until each has ended.

    ``SparkSession.stop`` leaves the gateway JVM running until the Python
    process exits, and the JVM's Python worker daemons outlive it briefly.
    Closing the JVM's stdin makes it exit; whatever is still running after
    ``grace_s`` is sent SIGTERM, then SIGKILL.
    """
    import signal
    import subprocess

    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in kids:
                if _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + 5.0
        while any(_alive(p) for p in kids) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not any(_alive(p) for p in kids):
            return
    raise RuntimeError(f"processes still running after stop: {[p for p in kids if _alive(p)]}")


def jvm_peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM (``VmHWM``), in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


# --------------------------------------------------------------- statistics


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it.

    With nearest-rank percentiles, the p-th percentile of ``n`` sorted
    samples is the value at rank ``ceil(p/100 * n)``; the samples beyond it
    number ``n - rank``. Returns None when even the median has fewer than
    ten samples beyond it.
    """
    best = None
    for p in range(50, 100):
        if n - math.ceil(p * n / 100) >= 10:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p * len(ordered) / 100))
    return ordered[rank - 1]


def latency_summary(samples: list[float]) -> dict:
    """Median and tail of ``samples``; the tail falls back to the maximum
    (and says so) when there are too few samples for the ten-beyond rule."""
    p = tail_percentile(len(samples))
    return {
        "n": len(samples),
        "p50": statistics.median(samples),
        "tail_pct": p if p is not None else 100,
        "tail": percentile(samples, p) if p is not None else max(samples),
    }


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# -------------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans for one run; written out once when the run ends.

    A disabled tracer still hands out spans (so the calling code has one
    shape), but keeps none.
    """

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # spans run on the perf_counter clock; this maps wall-clock times
        # (such as Spark's progress timestamps) onto it
        self._epoch_offset = time.perf_counter() - time.time()

    def from_epoch(self, t: float) -> float:
        return t + self._epoch_offset

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span whose times were measured elsewhere."""
        sid = len(self.spans)
        if self.enabled:
            self.spans.append(Span(sid, parent, name, start, end, attrs))
        return sid

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        out = [
            {
                "run": self.run_id,
                "id": s.id,
                "parent": s.parent,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "dur": s.end - s.start,
                "self": selfs[s.id],
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(out, fh)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.start = self.end = 0.0
        self.id: int | None = None

    def __enter__(self):
        t = self.tracer
        self.start = time.perf_counter()
        if t.enabled:
            self.id = len(t.spans)
            t.spans.append(Span(self.id, t.current, self.name, self.start, None, self.attrs))
            t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        t = self.tracer
        if t.enabled:
            t.spans[self.id].end = self.end
            t._stack.pop()
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cursor = s.start
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = (s.end - s.start) - covered
    return out


# ------------------------------------------------------------ py4j counting


class Py4jCounter:
    """Counts Python→JVM commands sent through the gateway client.

    py4j's garbage-collection dereference commands (``m\\nd\\n``) are sent
    whenever Python happens to collect a proxy, so they are excluded: they
    follow the interpreter's collector, not the code being measured.
    """

    _DEREF = "m\nd\n"

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.count = 0
        self.active = False
        self._orig = self.client.send_command

        def send_command(command, *a, **kw):
            if self.active and not command.startswith(self._DEREF):
                self.count += 1
            return self._orig(command, *a, **kw)

        self.client.send_command = send_command

    def close(self) -> None:
        self.client.send_command = self._orig


# ----------------------------------------------------- Spark status stores


class StatusReader:
    """Stage counters from Spark's status store.

    The stores are read through one JSON serialization per call (Spark's
    own Jackson mapper with the Scala module), not one py4j call per field.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self.jsc = sc._jsc.sc()
        jvm = sc._jvm
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self.app = self.jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._any_status = jvm.java.util.ArrayList()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.jsc.listenerBus().waitUntilEmpty()

    def job_count(self) -> int:
        self.drain()
        return self.app.jobsList(self._any_status).size()

    def stages(self) -> dict[tuple[int, int], dict]:
        """Every stage attempt the store holds, by (stage id, attempt)."""
        self.drain()
        rows = self._json(
            self.app.stageList(
                self._any_status, False, False, self._no_quantiles, self._any_status
            )
        )
        return {(r["stageId"], r["attemptId"]): r for r in rows}


def stage_delta(before: dict, after: dict) -> dict:
    """Totals over the stages present in ``after`` but not ``before``."""
    new = [s for k, s in after.items() if k not in before]
    return {
        "stages": len(new),
        "tasks": sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0) for s in new),
        "input_bytes": sum(s.get("inputBytes", 0) for s in new),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in new),
        "spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in new
        ),
        "run_s": sum(s.get("executorRunTime", 0) for s in new) / 1000.0,
        "cpu_s": sum(s.get("executorCpuTime", 0) for s in new) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in new) / 1000.0,
    }


def plan_shape(plan_text: str) -> tuple[int, int]:
    """(shuffle exchanges, broadcast exchanges) in a physical plan string."""
    broadcasts = len(re.findall(r"\bBroadcastExchange\b", plan_text))
    shuffles = len(re.findall(r"\bExchange\b", plan_text))
    return shuffles, broadcasts
