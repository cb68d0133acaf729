"""The two streaming workloads and the checkpoint readers they share.

Pages are attributed to micro-batches from each query's file-source log
(``<checkpoint>/sources/0``). Every log entry carries the ``batchId`` that
first read the file; the log file's own name does not, because
``N.compact`` re-lists the files of every earlier batch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from perfbench.common import Outcome, full_gc, pct
from perfbench.gen import page_index


def source_batches(query_ckpt: str) -> dict[int, int]:
    """Page index -> id of the micro-batch that read it."""
    log_dir = os.path.join(query_ckpt, "sources", "0")
    out: dict[int, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for fn in os.listdir(log_dir):
        if fn.startswith(".") or fn.endswith(".tmp"):
            continue
        try:
            with open(os.path.join(log_dir, fn)) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:  # compacted away while listing
            continue
        for line in lines[1:]:  # line 0 is the log version ("v1")
            if line.strip():
                entry = json.loads(line)
                page = page_index(entry["path"])
                out[page] = min(entry["batchId"], out.get(page, entry["batchId"]))
    return out


def commit_times(query_ckpt: str) -> dict[int, float]:
    """Batch id -> epoch seconds at which the batch's commit was written."""
    d = os.path.join(query_ckpt, "commits")
    if not os.path.isdir(d):
        return {}
    return {
        int(fn): os.stat(os.path.join(d, fn)).st_mtime
        for fn in os.listdir(d)
        if fn.isdigit()
    }


def page_commits(ckpt_root: str, queries: list[str]) -> dict[int, float]:
    """Page index -> time the last of ``queries`` committed a batch holding
    it. Pages some query has not committed yet are left out."""
    per_query = []
    for q in queries:
        qdir = os.path.join(ckpt_root, q)
        batches, commits = source_batches(qdir), commit_times(qdir)
        per_query.append(
            {p: commits[b] for p, b in batches.items() if b in commits}
        )
    pages = set.intersection(*(set(d) for d in per_query)) if per_query else set()
    return {p: max(d[p] for d in per_query) for p in pages}


# --------------------------------------------------------------------------
# the stream workload
# --------------------------------------------------------------------------

RATE = 5.0  # freshness phase: pages per second (500 products/s)
#: Untimed warm-up batches before the open loop starts; with one, five seeds
#: spread 0.21 on freshness p95 and 0.16 on catch-up throughput, not 0.08.
WARM_ROUNDS = 2
WARM_PAGES_PER_ROUND = 10
WARM_PAGES = WARM_ROUNDS * WARM_PAGES_PER_ROUND
SETTLE_S = 2.0  # open-loop seconds before the measured window opens
DRAIN_S = 30.0  # deadline for the last page after the generator stops
BACKLOG_PAGES = 40  # catch-up phase: backlog drained per drain
PAGES_PER_TRIGGER = 20  # 2,000 products per catch-up micro-batch
#: Catch-up throughput is the median of at least this many timed drains;
#: with one drain a run, ten seeds spread 0.29 of the median.
MIN_DRAINS = 3
DEADLINE_S = 90.0  # any single wait on the engine


def _stream(spark, src: str, max_files: int | None = None):
    from pyspark.sql import types as T

    from spark_streaming_project_spark.operators.parse import parse_envelopes
    from spark_streaming_project_spark.streaming import stream_json_dir

    schema = T.StructType([T.StructField("value", T.StringType())])
    return parse_envelopes(stream_json_dir(spark, src, schema, max_files))


def _wait_for(cond, deadline_s: float, poll_s: float = 0.1) -> bool:
    end = time.monotonic() + deadline_s
    while time.monotonic() < end:
        if cond():
            return True
        time.sleep(poll_s)
    return cond()


def _products(n_pages: int, seed: int) -> list[dict]:
    from spark_streaming_project_spark.sources.fixtures import make_products

    from perfbench.gen import PAGE_SIZE

    return make_products(n_pages * PAGE_SIZE, seed)


def expected_tables(spark, path: str, products: list[dict]) -> dict[str, list[tuple]]:
    """Each complete-mode table's sorted rows: its branch applied in batch to
    ``products``, which are written to and read back from JSON lines at
    ``path``."""
    from spark_streaming_project_spark.pipeline import BRANCHES
    from spark_streaming_project_spark.schemas import PRODUCT

    with open(path, "w") as f:
        f.writelines(json.dumps(p) + "\n" for p in products)
    batch = spark.read.schema(PRODUCT).json(path)
    return {name: sorted(map(tuple, branch(batch).collect())) for name, branch in BRANCHES.items()}


def check_tables(expected: dict[str, list[tuple]], got: dict) -> list[str]:
    """Names of the complete-mode tables in ``got`` (name -> rows) that
    differ from ``expected``."""
    return [name for name, rows in expected.items() if rows != sorted(map(tuple, got[name]))]


def expected_topk(products: list[dict], page_batch: dict[int, int], k: int = 10):
    """(batch_id, product_name, additive_count) rows each micro-batch's
    top-k must hold: products with a main-language name and at least one
    additive, by additive count desc, then name."""
    from perfbench.gen import PAGE_SIZE

    per_batch: dict[int, list[tuple[int, str]]] = {}
    for page, batch in page_batch.items():
        cands = per_batch.setdefault(batch, [])
        for p in products[page * PAGE_SIZE : (page + 1) * PAGE_SIZE]:
            main = [e["text"] for e in p["product_name"] if e["lang"] == "main"]
            n_add = sum(1 for a in p["additives_tags"] or [] if a)
            if main and main[0] is not None and n_add:
                cands.append((-n_add, main[0]))
    return {
        (b, name, -neg)
        for b, cands in per_batch.items()
        for neg, name in sorted(cands)[:k]
    }


def topk_ok(spark, out_dir: str, products, page_batch) -> bool:
    rows = spark.read.parquet(out_dir).collect()
    got = {(r["batch_id"], r["product_name"], r["additive_count"]) for r in rows}
    return len(got) == len(rows) and got == expected_topk(products, page_batch)


def _progress(query, first_batch: int = 0) -> list[dict]:
    return [
        p
        for p in query.recentProgress
        if p["batchId"] >= first_batch and p["numInputRows"] > 0
    ]


def streaming_layers(spark, queries: dict, first_batch: dict[str, int], phase: str) -> dict:
    """``streaming.*.<phase>`` figures over the data batches of ``queries``
    from ``first_batch[name]`` on, from each query's ``recentProgress`` and
    the jobs Spark ran under the query's runId job group."""
    tracker = spark.sparkContext.statusTracker()
    progs, jobs, all_batches = [], 0, 0
    for name, q in queries.items():
        progs += _progress(q, first_batch.get(name, 0))
        jobs += len(tracker.getJobIdsForGroup(str(q.runId)))
        all_batches += len({p["batchId"] for p in q.recentProgress})
    dur = lambda key: [p["durationMs"].get(key, 0) for p in progs]  # noqa: E731
    states = [s for p in progs for s in p["stateOperators"]]
    last_states = []
    for q in queries.values():
        last = q.lastProgress
        last_states += last["stateOperators"] if last else []
    p50 = lambda xs: pct(xs, 50) if xs else 0.0  # noqa: E731
    figures = {
        "streaming.batches": len(progs),
        "streaming.batch_ms_p50": p50(dur("triggerExecution")),
        "streaming.add_batch_ms_p50": p50(dur("addBatch")),
        "streaming.latest_offset_ms_p50": p50(dur("latestOffset")),
        "streaming.wal_commit_ms_p50": p50(dur("walCommit")),
        "streaming.commit_offsets_ms_p50": p50(dur("commitOffsets")),
        "streaming.query_planning_ms_p50": p50(dur("queryPlanning")),
        "streaming.jobs_per_batch": jobs / all_batches if all_batches else 0.0,
        "streaming.state_rows": sum(s["numRowsTotal"] for s in last_states),
        "streaming.state_memory_bytes": sum(s["memoryUsedBytes"] for s in last_states),
        "streaming.state_commit_ms_p50": p50([s["commitTimeMs"] for s in states]),
    }
    return {f"{k}.{phase}": v for k, v in figures.items()}


def progress_log(queries: dict) -> dict:
    """Every retained progress report of each query, as plain JSON."""
    return {name: [json.loads(p.json) for p in q.recentProgress] for name, q in queries.items()}


def pages_per_batch_p50(query_ckpts: list[str], first_page: int = 0) -> float:
    """Median number of pages per micro-batch over the given queries."""
    sizes = []
    for ckpt in query_ckpts:
        per_batch: dict[int, int] = {}
        for page, batch in source_batches(ckpt).items():
            if page >= first_page:
                per_batch[batch] = per_batch.get(batch, 0) + 1
        sizes += per_batch.values()
    return pct(sizes, 50)


def lag_pages(written: dict[int, float], committed: dict[int, float], t0: float, t1: float) -> float:
    """Median over 0.1 s samples in [t0, t1] of newest page written minus
    newest page committed by every query."""
    lags = []
    for i in range(int((t1 - t0) * 10) + 1):
        t = t0 + i / 10
        newest = max((p for p, w in written.items() if w <= t), default=-1)
        done = max((p for p, c in committed.items() if c <= t), default=-1)
        lags.append(newest - done)
    return pct(lags, 50)


def freshness_phase(ctx, out: Outcome, seconds: float) -> float:
    """Open loop: a generator process writes RATE pages/s; the reference's
    six concurrent queries (``run_per_query``, default trigger) consume
    them. Freshness of a page = commit of the last of the six batches that
    hold it - the page's scheduled creation time. Returns the seconds from
    process start to the opening of the measured window."""
    from spark_streaming_project_spark.pipeline import run_per_query

    from perfbench.gen import envelopes, write_page

    spark, tr = ctx.spark, ctx.tracer
    root = os.path.join(ctx.run_dir, "fresh")
    src, ckpt, sink = (os.path.join(root, d) for d in ("src", "ckpt", "out"))
    os.makedirs(src)
    n_settle, n_meas = int(SETTLE_S * RATE), int(seconds * RATE)
    first_meas = WARM_PAGES + n_settle
    n_pages = first_meas + n_meas

    warm = envelopes(WARM_PAGES, ctx.seed)
    with tr.span("session.warmup", "freshness"):
        with tr.span("streaming.start"):
            runner = run_per_query(spark, _stream(spark, src), sink, ckpt, available_now=False)
        names = list(runner.queries)
        # a few small batches, not one big one, so the JIT sees every path
        for r in range(WARM_ROUNDS):
            last = (r + 1) * WARM_PAGES_PER_ROUND - 1
            for i in range(r * WARM_PAGES_PER_ROUND, last + 1):
                write_page(src, i, warm[i])
            if not _wait_for(lambda: last in page_commits(ckpt, names), DEADLINE_S):
                raise RuntimeError("warm-up pages were not committed in time")

    ledger = os.path.join(root, "gen_ledger.jsonl")
    start = time.time() + 1.0
    gen = subprocess.Popen(
        [sys.executable, "-m", "perfbench.gen", src, ledger, repr(start),
         repr(RATE), str(WARM_PAGES), str(n_pages - WARM_PAGES), str(ctx.seed)],
        cwd=ctx.root,
    )
    ctx.children.append(gen)
    full_gc(spark)
    first_due = start + SETTLE_S
    time.sleep(max(0.0, first_due - time.time()))
    setup_s = time.perf_counter() - ctx.t0
    with tr.span("streaming.measure", "freshness"):
        if gen.wait(timeout=DEADLINE_S + seconds + SETTLE_S) != 0:
            raise RuntimeError("page generator failed")
        _wait_for(lambda: n_pages - 1 in page_commits(ckpt, names), DRAIN_S, 0.2)
    runner.stop_all()

    with open(ledger) as f:
        gen_rows = [json.loads(line) for line in f]
    due = {r["page"]: r["due"] for r in gen_rows}
    committed = page_commits(ckpt, names)
    meas = range(first_meas, n_pages)
    fresh = [committed[p] - due[p] for p in meas if p in committed]
    out.latencies = fresh
    out.attempted += len(meas)
    out.failed += len(meas) - len(fresh)
    out.named["freshness_p50_s"] = (pct(fresh, 50), "s", len(fresh))
    out.named["freshness_p95_s"] = (pct(fresh, 95), "s", len(fresh))

    with tr.span("check", "freshness"):
        products = _products(n_pages, ctx.seed)
        got = {n: spark.table(n).collect() for n in names if n != "top_additive_products"}
        expected = expected_tables(spark, os.path.join(root, "expected.json"), products)
        bad = check_tables(expected, got)
        topk_batches = source_batches(os.path.join(ckpt, "top_additive_products"))
        if not topk_ok(spark, os.path.join(sink, "top_additive_products"), products, topk_batches):
            bad.append("top_additive_products")
    out.attempted += len(names)
    out.failed += len(bad)
    for name in bad:
        ctx.log(f"freshness phase: {name} differs from the batch result")

    if ctx.trace:
        with tr.span("trace.collect"):
            ckpts = [os.path.join(ckpt, n) for n in names]
            first_batch = {
                n: source_batches(c).get(first_meas, 0) for n, c in zip(names, ckpts)
            }
            out.layers.update(
                streaming_layers(spark, runner.queries, first_batch, "freshness")
            )
            out.detail["progress.freshness"] = progress_log(runner.queries)
            written = {r["page"]: r["written"] for r in gen_rows}
            out.layers["sources.lag_pages"] = lag_pages(
                written, committed, first_due, first_due + seconds
            )
            out.layers["sources.pages_per_batch_p50.freshness"] = pages_per_batch_p50(
                ckpts, first_meas
            )
            out.layers["gen.late_ms_p99"] = 1000 * pct(
                [r["written"] - r["due"] for r in gen_rows], 99
            )
    return setup_s


def _drain(spark, src: str, root: str):
    """One catch-up drain of the backlog in ``src`` from fresh checkpoints:
    ``run_multiplex`` under ``availableNow``, PAGES_PER_TRIGGER per batch."""
    from spark_streaming_project_spark.pipeline import run_multiplex

    runner = run_multiplex(
        spark,
        _stream(spark, src, PAGES_PER_TRIGGER),
        os.path.join(root, "out"),
        os.path.join(root, "ckpt"),
        available_now=True,
    )
    runner.await_all(timeout_sec=DEADLINE_S)
    return runner


def catchup_phase(ctx, out: Outcome, seconds: float) -> float:
    """Closed loop: drain a pre-written backlog as fast as the multiplexed
    pipeline (one query, foreachBatch fan-out, five parquet state merges
    per batch) allows, again and again from fresh checkpoints, for
    ``seconds`` and at least MIN_DRAINS drains. Returns the seconds of the
    untimed warm-up drain."""
    from spark_streaming_project_spark.pipeline import BRANCHES, read_snapshot

    from perfbench.gen import PAGE_SIZE, envelopes, write_page

    spark, tr = ctx.spark, ctx.tracer
    src = os.path.join(ctx.run_dir, "backlog")
    os.makedirs(src)
    for i, env in enumerate(envelopes(BACKLOG_PAGES, ctx.seed)):
        write_page(src, i, env)
    with tr.span("session.warmup", "catchup") as warm:
        _drain(spark, src, os.path.join(ctx.run_dir, "drain-warm"))

    drains, rates = [], []
    begin = time.perf_counter()
    # past MIN_DRAINS, start a drain only if it should end inside the window,
    # so every run makes about the same number of drains
    while len(drains) < MIN_DRAINS or (
        time.perf_counter() - begin + BACKLOG_PAGES * PAGE_SIZE / rates[-1] <= seconds
    ):
        root = os.path.join(ctx.run_dir, f"drain-{len(drains)}")
        full_gc(spark)
        with tr.span("pipeline.drain", str(len(drains))):
            t = time.perf_counter()
            runner = _drain(spark, src, root)
            rates.append(BACKLOG_PAGES * PAGE_SIZE / (time.perf_counter() - t))
        (query,) = runner.queries.values()
        drains.append((root, query))
    batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 for _, q in drains for p in _progress(q)]
    out.throughput, out.throughput_n = pct(rates, 50), len(rates)
    out.named["catchup_products_per_s"] = (out.throughput, "1/s", len(rates))
    out.named["catchup_batch_p50_s"] = (pct(batch_s, 50), "s", len(batch_s))

    with tr.span("check", "catchup"):
        products = _products(BACKLOG_PAGES, ctx.seed)
        expected = expected_tables(spark, os.path.join(ctx.run_dir, "backlog.json"), products)
        for root, query in drains:
            page_batch = source_batches(os.path.join(root, "ckpt", query.name))
            out.attempted += BACKLOG_PAGES + len(BRANCHES) + 1
            out.failed += BACKLOG_PAGES - len(set(page_batch) & set(range(BACKLOG_PAGES)))
            got = {
                n: read_snapshot(spark, os.path.join(root, "out"), n).collect()
                for n in BRANCHES
            }
            bad = check_tables(expected, got)
            topk_dir = os.path.join(root, "out", "top_additive_products")
            if not topk_ok(spark, topk_dir, products, page_batch):
                bad.append("top_additive_products")
            out.failed += len(bad)
            for n in bad:
                ctx.log(f"catch-up phase: {n} differs from the batch result")

    if ctx.trace:
        with tr.span("trace.collect"):
            queries = {str(i): q for i, (_, q) in enumerate(drains)}
            out.layers.update(streaming_layers(spark, queries, {}, "catchup"))
            out.detail["progress.catchup"] = progress_log(queries)
            state = [
                os.path.join(d, f)
                for n in BRANCHES
                for d, _, fs in os.walk(os.path.join(drains[-1][0], "out", n, "state"))
                for f in fs
            ]
            out.layers["pipeline.state_files"] = len(state)
            out.layers["pipeline.state_bytes"] = sum(os.path.getsize(f) for f in state)
            out.layers["sources.pages_per_batch_p50.catchup"] = pages_per_batch_p50(
                [os.path.join(r, "ckpt", q.name) for r, q in drains]
            )
    return warm["end"] - warm["start"]


def run(ctx) -> Outcome:
    """The ``stream`` workload: the freshness phase, measured for two thirds
    of ``--seconds`` (a 6 s window held four or five batches per query and
    ten seeds spread up to 0.21 of the median), then the catch-up phase for
    the rest. Set-up time is the time to the freshness window plus the
    catch-up warm-up drain."""
    out = Outcome()
    fresh_s = ctx.seconds * 2 / 3
    setup_s = freshness_phase(ctx, out, fresh_s)
    out.setup_s = setup_s + catchup_phase(ctx, out, ctx.seconds - fresh_s)
    return out
