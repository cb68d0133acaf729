"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md and BENCHMARK.json for why each exists):

    stream   the dashboard pipeline: an open-loop freshness phase (5 pages/s
             into the six reference queries), then a closed-loop catch-up
             phase (multiplexed drains of a seeded backlog)
    queries  closed loop, one client, registry queries in turn

Every line but the last is for people: the environment, each check that
failed, and every end-to-end figure by name with its unit and sample count.
The last line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run also writes its spans, ledgers and
figures to ``.perfbench_run/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

PACKAGE = "spark_streaming_project_spark"
OUT_DIR = ".perfbench_run"
WORKLOADS = ("stream", "queries")
END_TO_END = {
    "setup_s": "s",
    "jvm_live_mb": "MB",
    "latency_p50_s": "s",
    "latency_p95_s": "s",
    "throughput_per_s": "1/s",
}
_CLASS_LAYERS = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.execute_s": "s",
    "plans.execute_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.wall_per_job_ms": "ms",
    "spark.executor_run_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.busy_ratio": "ratio",
}
_PHASE_LAYERS = {
    "sources.pages_per_batch_p50": "pages",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_ms_p50": "ms",
}
#: Every per-layer metric of a traced run; a workload that does not reach a
#: layer reports 0 for it. Metrics of one query class or one stream phase end
#: in its name.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.collect_s": "s",
    **{f"traced.{k}": u for k, u in END_TO_END.items()},
    **{f"{k}.{c}": u for c in ("iterative", "scan") for k, u in _CLASS_LAYERS.items()},
    "sources.lag_pages": "pages",
    "gen.late_ms_p99": "ms",
    **{f"{k}.{p}": u for p in ("freshness", "catchup") for k, u in _PHASE_LAYERS.items()},
    "pipeline.state_bytes": "bytes",
    "pipeline.state_files": "count",
}


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    trace: bool
    root: str
    run_dir: str
    cores: int
    t0: float
    tracer: object = None
    spark: object = None
    children: list = field(default_factory=list)

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", flush=True)


def git_commit(root: str) -> str:
    try:
        res = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "none"
    return res.stdout.strip() if res.returncode == 0 else "none"


def environment(run: Run) -> dict:
    import pyspark

    return {
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": int(run.trace),
        "cores": run.cores,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark": pyspark.__version__,
        "java": run.spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": git_commit(run.root),
    }


def stop_all(run: Run) -> None:
    """Stop the generator and Spark, and wait until the JVM has exited."""
    for child in run.children:
        if child.poll() is None:
            child.kill()
        child.wait()
    if run.spark is None:
        return
    gateway = run.spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        run.spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ here; run from the repository root", file=sys.stderr)
        return 2
    # import perfbench as a package from the root, never its files as
    # top-level modules from the script's own directory
    sys.path[0] = root
    # pin the engine to this machine's cores: without it session.py runs
    # local[*] with 32 shuffle partitions whatever the core count
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    run_dir = os.path.join(root, OUT_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None

    from perfbench import queries, streams
    from perfbench.common import Tracer, jvm_pid, jvm_live_mb, pct, peak_rss_mb, start_session

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), root, run_dir, cores, T0)
    run.tracer = Tracer(T0)
    workload = {
        "stream": streams.run,
        "queries": queries.run,
    }[args.workload]
    try:
        with run.tracer.span("session.start"):
            run.spark = start_session(run_dir, run.trace)
        env = environment(run)
        print("perfbench: environment " + json.dumps(env), flush=True)
        out = workload(run)
        rss = peak_rss_mb([os.getpid(), jvm_pid(run.spark)])
        live = jvm_live_mb(run.spark)
    finally:
        stop_all(run)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = {
        "setup_s": out.setup_s,
        "jvm_live_mb": live,
        "latency_p50_s": pct(out.latencies, 50),
        "latency_p95_s": pct(out.latencies, 95),
        "throughput_per_s": out.throughput,
    }
    counts = {"latency_p50_s": len(out.latencies), "latency_p95_s": len(out.latencies),
              "throughput_per_s": out.throughput_n}
    named = {k: (v, END_TO_END[k], counts.get(k, 1)) for k, v in e2e.items()}
    named["peak_rss_mb"] = (rss, "MB", 1)
    named["failed_ratio"] = (out.failed / out.attempted, "ratio", out.attempted)
    named.update(out.named)
    for name, (value, unit, count) in named.items():
        print(f"metric {name} {value:.6g} {unit} n={count}")

    if run.trace:
        tr = run.tracer
        layers = {
            "session.start_s": tr.total("session.start"),
            "session.warmup_s": tr.total("session.warmup"),
            "session.peak_rss_mb": rss,
            "trace.collect_s": tr.total("trace.collect"),
            **{f"traced.{k}": v for k, v in e2e.items()},
            **out.layers,
        }
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
        os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
        path = os.path.join(root, OUT_DIR, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as f:
            json.dump(
                {"environment": env, "end_to_end": named, "layers": layers,
                 "spans": tr.spans, "detail": out.detail},
                f, indent=1, default=str,
            )
        print(f"perfbench: trace written to {os.path.relpath(path, root)}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
