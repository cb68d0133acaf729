"""Shared pieces of the benchmark: the pinned Spark session, spans, the
Spark job ledger, and small statistics helpers."""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def pct(values: list[float], q: float) -> float:
    """Percentile ``q`` (0..100) with linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


@dataclass
class Outcome:
    """What a workload hands back to ``run.py``.

    ``latencies`` are the seconds of each timed operation (page freshness,
    query), ``throughput`` is work per second over ``throughput_n``
    samples. ``named`` holds
    the workload's own end-to-end figures as (value, unit, sample count);
    ``layers`` the per-layer figures of a traced run; ``detail`` goes to the
    trace file only.
    """

    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    latencies: list[float] = field(default_factory=list)
    throughput: float = 0.0
    throughput_n: int = 1
    named: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


@dataclass
class Tracer:
    """Spans kept in memory: name, start, end, parent span and the
    workload/query id they belong to. Times are seconds since ``t0``."""

    t0: float
    spans: list[dict] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, ident: str = ""):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "ident": ident,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)


def start_session(run_dir: str, trace: bool):
    """The package's own ``get_spark``, with every temporary file of the
    driver JVM kept inside ``run_dir``."""
    from spark_streaming_project_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        # the job ledger is read once, after the timed phase; untraced runs
        # keep the engine's defaults, so its memory is the program's own
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return get_spark(app_name="perfbench", extra_conf=conf)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def full_gc(spark) -> None:
    """Collect the JVM heap, so that a timed operation does not pay for the
    garbage of untimed work before it."""
    spark._jvm.java.lang.System.gc()


def jvm_live_mb(spark) -> float:
    """Memory the engine holds on to: the JVM's heap in use after a full
    collection plus its non-heap (code cache, metaspace). Unlike peak RSS it
    does not swing with the collector's heap sizing from run to run, and
    unlike this process's RSS it leaves out the benchmark's own oracle."""
    import gc

    gc.collect()  # drop Python handles so the JVM objects become garbage
    full_gc(spark)
    # Spark's ContextCleaner unpersists blocks of collected RDDs and
    # broadcasts asynchronously; let it run, then collect what it freed
    time.sleep(1.0)
    full_gc(spark)
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


LEDGER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
)


def job_ledger(spark, group: str) -> dict:
    """Jobs, stages, tasks, executor time and bytes of one job group, read
    from Spark's status tracker and status store (works with the UI off)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(LEDGER_KEYS, 0)
    out["jobs"] = len(jobs)
    out["executor_run_s"] = 0.0
    for s in stage_ids:
        try:
            sd = store.lastStageAttempt(s)
        except Py4JJavaError:  # no attempt in the store: never submitted
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["executor_run_s"] += sd.executorRunTime() / 1000.0
        out["input_bytes"] += sd.inputBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return out
