"""Shared plumbing for the benchmark: environment, Spark session, spans,
event-log attribution and small statistics helpers.

Nothing here imports the engine package at module load, so a checkout
that lacks it fails in ``run.py`` with a clear message instead of an
import error deep inside a workload.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

# One setting for every commit that is measured: local mode, one
# process, no more cores than the 4-core machine it was sized on, and
# an explicit shuffle width (the engine's own default is
# max(2 * cpu_count, 32)).
CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "1g"
# A GET's read path allocates buffers of a few MB. With a 1g heap G1
# picks 1 MB regions and treats each such buffer as humongous; every one
# that lands above the adaptive occupancy threshold forces a young
# collection, and that threshold differed from run to run, so GET
# latencies shifted a run at a time. At 16 MB they are ordinary
# allocations; the heap still grows only as the run needs it.
G1_REGION = "16m"

SPAN_PROP = "perfbench.span"


def repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def prepare_env(work: str) -> None:
    """Point every scratch location at ``work`` (inside the checkout) and
    put the checkout on PYTHONPATH before the JVM starts, so the
    pandas-UDF workers it forks can import the engine."""
    root = repo_root()
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def start_spark(work: str, event_log: str | None = None):
    from dbt_customer360_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:G1HeapRegionSize={G1_REGION}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app="perfbench",
        cores=CORES,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched (and
    with it the Python workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def jvm_peak_heap_mb(spark) -> float:
    """Peak used heap of the driver JVM, summed over its heap pools."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    heap = spark._jvm.java.lang.management.MemoryType.HEAP
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans() if p.getType() == heap
    ) / (1024.0 * 1024.0)


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the process py4j talks to)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


# --- spans ------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Spans around calls into the engine's public methods.

    Spans are always recorded (they also give the end-to-end latencies);
    with ``attribute=True`` each span additionally sets the Spark local
    property ``perfbench.span`` for its duration, so every job the call
    starts carries the id of the innermost open span into the event log.
    The time the tracing itself spends (the property calls, and any
    extra probe run under ``cost()``) is kept as intervals, so a traced
    run can report its own overhead.
    The stack is process-wide, not per thread: the only other thread
    that enters spans is the foreachBatch callback, which runs while the
    main thread is blocked waiting for the streaming query."""

    def __init__(self, sc, attribute: bool):
        self.sc = sc
        self.attribute = attribute
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0
        self.costs: list[tuple[float, float]] = []

    @contextmanager
    def cost(self):
        """Time spent on tracing's own behalf."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.costs.append((t0, time.perf_counter()))

    @contextmanager
    def span(self, name: str):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        prev = None
        if self.attribute:
            with self.cost():
                prev = self.sc.getLocalProperty(SPAN_PROP)
                self.sc.setLocalProperty(SPAN_PROP, str(sid))
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if self.attribute:
                with self.cost():
                    self.sc.setLocalProperty(SPAN_PROP, prev)
            self.spans.append(Span(sid, name, parent, t0, t1))

    def wrap(self, obj, method: str, name: str) -> None:
        """Replace ``obj.method`` (on the instance only) by a spanned call."""
        fn = getattr(obj, method)

        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, spanned)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover."""
        child = {s.sid: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None and s.parent in child:
                child[s.parent] += s.dur
        return {s.sid: s.dur - child[s.sid] for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.t0):
                f.write(json.dumps(s.__dict__) + "\n")


# --- event log --------------------------------------------------------------

_STAGE_SUMS = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "internal.metrics.output.bytesWritten": "bytes_written",
    # the SQL metric of Arrow/batch Python UDF nodes, in milliseconds
    "time to run Python workers": "python_ms",
}


@dataclass
class JobStats:
    span: int | None
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    python_ms: int = 0


def read_event_log(log_dir: str) -> list[JobStats]:
    """One entry per job in the event log under ``log_dir`` (one
    application), with the span id it was started under and its
    completed stages' shuffle-write, spill and output totals."""
    events = []
    for root, _dirs, names in sorted(os.walk(log_dir)):
        for n in sorted(names):
            with open(os.path.join(root, n)) as f:
                events += [json.loads(line) for line in f]
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    stage_sums: dict[int, dict[str, int]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(SPAN_PROP)
            jid = ev["Job ID"]
            jobs[jid] = JobStats(int(span) if span is not None else None)
            for st in ev.get("Stage IDs", []):
                stage_job[st] = jid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sums = stage_sums.setdefault(info["Stage ID"], {})
            for acc in info.get("Accumulables", []):
                key = _STAGE_SUMS.get(acc.get("Name"))
                if key is not None:
                    sums[key] = sums.get(key, 0) + int(acc.get("Value") or 0)
    for st, sums in stage_sums.items():
        job = jobs.get(stage_job.get(st, -1))
        if job is None:
            continue
        for key, v in sums.items():
            setattr(job, key, getattr(job, key) + v)
    return list(jobs.values())


# --- statistics ---------------------------------------------------------------


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 1]."""
    ys = sorted(xs)
    return ys[max(0, math.ceil(q * len(ys)) - 1)]


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def jvm_gc_s(spark) -> float:
    """Total time the driver JVM's collectors have spent so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0
