"""Spans, Spark status-store counters and host probes for the benchmark.

A ``Tracer`` records one span per layer call (name, start, end, parent,
op id) in memory and writes them out when the run ends. Each timed op runs
under its own Spark job group; after the op, the tracer reads the jobs of
that group from the live status store (readable over py4j with the UI
disabled) and keeps their job, stage and task counts, executor time and
shuffle and spill bytes.

``NullTracer`` has the same interface and does nothing, so the untraced run
carries no tracing cost.
"""

from __future__ import annotations

import gc
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1024.0 * 1024.0


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "JobStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class NullTracer:
    enabled = False

    def begin_op(self, op: int) -> None:
        pass

    @contextmanager
    def span(self, name: str, **attrs):
        yield attrs

    def job_group(self, sc, tag: str) -> None:
        pass

    def end_op(self, sc) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1
        self._groups: list[str] = []
        # job stats per op, keyed by the phase tag the op used
        self.op_jobs: dict[int, dict[str, JobStats]] = {}
        # time the tracer spends on its own bookkeeping (status-store reads)
        self.overhead_s = 0.0

    def begin_op(self, op: int) -> None:
        self.op = op
        self._groups = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, parent, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s.attrs
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def job_group(self, sc, tag: str) -> None:
        """Tag the Spark jobs that follow with ``op<id>.<tag>``."""
        group = f"op{self.op}.{tag}"
        sc.setJobGroup(group, tag, False)
        self._groups.append(group)

    def end_op(self, sc) -> None:
        t0 = time.perf_counter()
        sc.setJobGroup("bench.idle", "idle", False)
        per_tag = {}
        if self._groups:
            jsc = sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            store = jsc.statusStore()
            tracker = sc.statusTracker()
            for group in self._groups:
                tag = group.split(".", 1)[1]
                stats = per_tag.setdefault(tag, JobStats())
                for job_id in tracker.getJobIdsForGroup(group):
                    stats.add(_job_stats(store, job_id))
        self.op_jobs[self.op] = per_tag
        self.overhead_s += time.perf_counter() - t0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: its duration minus the part its
        child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [s.__dict__ for s in self.spans],
                    "jobs": {
                        str(op): {t: j.__dict__ for t, j in tags.items()}
                        for op, tags in self.op_jobs.items()
                    },
                    "self_s": self.self_times(),
                },
                f,
            )


def _job_stats(store, job_id: int) -> JobStats:
    out = JobStats(jobs=1)
    try:
        job = store.job(job_id)
    except Exception:  # evicted from the status store: count the job only
        return out
    it = job.stageIds().iterator()
    while it.hasNext():
        sd = store.lastStageAttempt(it.next())
        if str(sd.status()) != "COMPLETE":
            continue  # skipped stages reuse earlier shuffle output
        out.stages += 1
        out.tasks += sd.numCompleteTasks()
        out.run_ms += sd.executorRunTime()
        out.cpu_ms += sd.executorCpuTime() / 1e6
        out.shuffle_read_mb += sd.shuffleReadBytes() / MB
        out.shuffle_write_mb += sd.shuffleWriteBytes() / MB
        out.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
    return out


# ---------------------------------------------------------------------------
# Host and runtime probes
# ---------------------------------------------------------------------------


def floor_ms(spark, n: int = 5) -> float:
    """Median wall of a one-task, one-row job: the per-job scheduling floor."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(0, 1, 1, 1).collect()
        times.append((time.perf_counter() - t0) * 1000.0)
    times.sort()
    return times[len(times) // 2]


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus its JVM, in MB."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    return sum(_vm_hwm_kb(p) for p in pids) / 1024.0


def collect_garbage(spark) -> None:
    """Collect Python garbage, so the JVM objects only it held are released,
    then collect the JVM's, and give Spark's context cleaner time to drop
    the cached and checkpointed RDDs nothing references any more."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.3)  # the cleaner polls its reference queue every 0.1 s
    jvm.java.lang.System.gc()


def retained_mb(spark) -> tuple[float, dict]:
    """Memory the run holds on to, in MB: the Python driver's peak resident
    set plus the JVM's heap and non-heap in use after a full collection.
    Unlike the JVM's resident set, which follows its heap-sizing decisions,
    this moves only with what the engine keeps alive (caches, pins,
    checkpoints, retained plans). Returns the total and its parts."""
    jvm = spark.sparkContext._jvm
    collect_garbage(spark)
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    parts = {
        "python_peak_rss": _vm_hwm_kb(os.getpid()) / 1024.0,
        "jvm_heap": mx.getHeapMemoryUsage().getUsed() / MB,
        "jvm_non_heap": mx.getNonHeapMemoryUsage().getUsed() / MB,
    }
    return sum(parts.values()), parts


def storage(spark) -> tuple[int, float]:
    """(persistent RDD count, cached MB in memory plus disk)."""
    sc = spark.sparkContext
    n = len(sc._jsc.getPersistentRDDs())
    used = 0
    it = sc._jsc.sc().statusStore().rddList(True).iterator()
    while it.hasNext():
        r = it.next()
        used += r.memoryUsed() + r.diskUsed()
    return n, used / MB
