"""Streaming sinks (SURVEY.md §2.1 S4-S6, §2.9 X5).

The reference serializes all JDBC writes through a JVM-global lock and
``mode("overwrite")`` drops + recreates each table per micro-batch
(Consumer.scala:10,282-320) — readers can observe empty tables. The engine
redesign: one sink per query (no shared lock needed — Spark streaming
queries are independent) and overwrite via staging-swap so refresh is
atomic when the backend supports transactional DDL.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def foreach_batch_jdbc_overwrite(
    url: str, table: str, properties: dict[str, str]
) -> Callable[[DataFrame, int], None]:
    """Full-refresh sink for complete-mode aggregates (reference S4,
    Consumer.scala:282-300 — minus the global lock, which per-query sinks
    make unnecessary)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").jdbc(url, table, properties=properties)

    return write


def foreach_batch_jdbc_append(
    url: str, table: str, properties: dict[str, str]
) -> Callable[[DataFrame, int], None]:
    """Accumulating sink for per-batch results (reference S5,
    Consumer.scala:302-320)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").jdbc(url, table, properties=properties)

    return write


def foreach_batch_per_batch_topk(
    aggregate: Callable[[DataFrame], DataFrame],
    out_dir: str,
    k_order_desc: str,
    k: int = 10,
    tiebreak_asc: Sequence[str] = (),
) -> Callable[[DataFrame, int], None]:
    """X5 semantics (Consumer.scala:147-165): re-aggregate *within* each
    micro-batch and keep the batch-local top-k.

    Each batch overwrites its own ``batch_id=<N>`` partition under
    ``out_dir`` instead of appending, so a replayed micro-batch (foreachBatch
    is at-least-once) rewrites its partition rather than adding rows.
    Reading ``out_dir`` gives the reference's ``top_additive_products``
    table shape (batch_id column last, init.sql:39-44) through partition
    discovery.

    ``tiebreak_asc`` extends the ordering to a TOTAL order: without it, a
    tie on ``k_order_desc`` at the k boundary picks an arbitrary row per
    run (and the per_query/multiplex modes can disagree — caught by
    tests/test_pipeline.py's full-topology parity assert).
    """

    order = [F.desc(k_order_desc)] + [F.asc(c) for c in tiebreak_asc]

    def write(batch_df: DataFrame, batch_id: int) -> None:
        aggregate(batch_df).orderBy(*order).limit(k).write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch_id={batch_id}")

    return write


def foreach_batch_reaggregate(
    aggregate: Callable[[DataFrame], DataFrame],
    staging_dir: str,
    out_dir: str,
) -> Callable[[DataFrame, int], None]:
    """Streaming twin for transforms that need a GLOBAL ordered pass (e.g.
    sequence packing's per-shard running sum) and therefore have no
    incremental streaming plan: accumulate raw micro-batch rows in
    ``staging_dir``, re-run the batch transform over the accumulated corpus,
    and atomically refresh ``out_dir`` — complete-mode semantics built from
    append parts (the X5 re-aggregation family). After an availableNow
    drain, ``out_dir`` equals the batch transform over the full input
    (parity-tested in tests/test_streaming_llm.py).

    Scale note: each refresh re-reads the accumulated staging data, so cost
    per batch grows with history — the pattern fits bounded backfills and
    periodic re-packs. A 100 TB continuous pipeline would re-pack only the
    shards the micro-batch touched (shard = id % n_shards makes the dirty
    set cheap to compute); the full-refresh form keeps parity exact here.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(staging_dir)
        spark = batch_df.sparkSession
        result = aggregate(spark.read.parquet(staging_dir))
        result.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(out_dir)

    return write


def foreach_batch_ivf_append(
    path: str, id_col: str, vec_col: str
) -> Callable[[DataFrame, int], None]:
    """Streaming ANN index maintenance: each micro-batch of new vectors is
    assigned against the index's EXISTING centroid sidecar and appended to
    its ``list_id`` partitions (``similarity.append_ivf_partitioned``).
    The index stays partition-pruned for probes throughout; an index grown
    batch-by-batch is bit-identical to one built in a single pass with the
    same centroids (parity-tested in tests/test_ivf_storage.py)."""
    from ..operators.similarity import append_ivf_partitioned

    def write(batch_df: DataFrame, batch_id: int) -> None:
        append_ivf_partitioned(batch_df, id_col, vec_col, path)

    return write


def foreach_batch_dq_gate(
    rules_fn: Callable[[DataFrame], DataFrame],
    good_path: str,
    quarantine_path: str,
    max_violations: int = 0,
) -> Callable[[DataFrame, int], None]:
    """Admission-control sink: every micro-batch is scored by the
    data-quality report ``rules_fn`` (a ``operators.dataquality.dq_report``
    composition: batch_df -> (rule, violations) frame); batches whose TOTAL
    violations exceed ``max_violations`` are diverted whole to
    ``quarantine_path``, clean batches append to ``good_path``. Either way
    the per-batch report lands under ``<good_path>_reports`` with the
    batch id, so the contract trail is queryable.

    Whole-batch quarantine (not row-level filtering) is deliberate: rules
    like uniqueness and referential integrity are batch-level properties
    with no per-row blame assignment, and an over-threshold batch usually
    signals an upstream fault where partial admission makes recovery
    harder. Row-level cleansing belongs in the transform, not the gate.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        report = rules_fn(batch_df)
        rows = report.collect()  # bounded: one row per rule
        total = sum(r["violations"] for r in rows)
        target = good_path if total <= max_violations else quarantine_path
        batch_df.write.mode("append").parquet(target)
        spark = batch_df.sparkSession
        spark.createDataFrame(
            [(batch_id, r["rule"], r["violations"], total > max_violations)
             for r in rows],
            "batch_id long, rule string, violations long, quarantined boolean",
        ).write.mode("append").parquet(f"{good_path}_reports")

    return write


def foreach_batch_jdbc_idempotent_append(
    url: str,
    table: str,
    properties: dict[str, str],
    ledger_table: str = "batch_ledger",
) -> Callable[[DataFrame, int], None]:
    """EXACTLY-ONCE append: before writing, consult a batch-id ledger
    table; batches already present are skipped entirely, so a micro-batch
    REPLAYED after a failure (Spark reruns the last epoch from the
    checkpoint) does not duplicate rows. The ledger row commits AFTER the
    data write — a crash between the two replays the batch, which the
    ledger then admits exactly once more ONLY if the data write also
    failed; if data landed but the ledger didn't, the replay re-appends —
    so the data write itself must be the idempotent half on backends
    without XA. For warehouses this is the standard (batch_id, table)
    high-water-mark pattern; with a transactional backend wrap both
    writes in one transaction for true atomicity.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            seen = (
                spark.read.jdbc(url, ledger_table, properties=properties)
                .filter(
                    (F.col("tbl") == table) & (F.col("batch_id") == batch_id)
                )
                .count()
            )
        except Exception as exc:
            # ONLY a missing ledger table means "first ever batch". Any
            # other failure (transient outage, auth error) must propagate
            # so Spark retries the trigger — treating it as seen=0 would
            # re-append a replayed batch despite an intact ledger,
            # defeating the exactly-once guarantee this sink provides.
            msg = str(exc)
            missing = ledger_table.strip('"').upper() in msg.upper() and any(
                pat in msg.lower()
                for pat in ("does not exist", "not found", "doesn't exist")
            )
            if not missing:
                raise
            seen = 0  # ledger doesn't exist yet: first ever batch
        if seen:
            return
        batch_df.write.mode("append").jdbc(url, table, properties=properties)
        # VARCHAR explicitly: some backends (Derby) map StringType to CLOB,
        # which cannot appear in the ledger's pushed-down equality filter
        (
            spark.createDataFrame(
                [(table, batch_id)], "tbl string, batch_id long"
            )
            .write.mode("append")
            .option("createTableColumnTypes", "tbl VARCHAR(128), batch_id BIGINT")
            .jdbc(url, ledger_table, properties=properties)
        )

    return write


def foreach_batch_incremental_agg(
    path: str,
    agg_fn: Callable[[DataFrame], DataFrame],
    keys: list[str],
    counters: list[str],
    merge_fn: Callable[[DataFrame, DataFrame, list[str], list[str]], DataFrame]
    | None = None,
) -> Callable[[DataFrame, int], None]:
    """Incremental materialized-view sink: per micro-batch, aggregate ONLY
    the batch (``agg_fn``: rows -> additive partial aggregate) and merge
    it into the parquet state table with ``merge_agg_state`` (the state
    unioned with the delta and aggregated once per key) — a trigger reads
    the batch and the state table, never the raw history that
    foreach_batch_reaggregate's shape rescans. ``merge_fn``
    defaults to the additive ``merge_agg_state``; any monoid merge with
    the same signature works (e.g. ``sketches.merge_max_state`` for HLL
    registers).

    Exactly-once under replay: foreachBatch is at-least-once, so the
    last-applied ``batch_id`` is recorded INSIDE each published version
    (``_last_batch_id`` sidecar — the underscore prefix keeps it invisible
    to parquet readers) and a replayed batch with ``batch_id <= recorded``
    is skipped instead of re-merged into the additive counters — the same
    high-water-mark contract as ``foreach_batch_jdbc_idempotent_append``.

    Atomic publication: state versions live in ``<path>__v<batch_id>``
    directories and ``path`` itself is a SYMLINK swapped with one
    ``os.rename`` — there is no instant where ``path`` is absent (the old
    two-rename dance could crash between renames and leave no state at
    all, silently restarting history from a single delta). A crash before
    the swap leaves the previous version (and its recorded batch_id)
    intact, so the replay re-merges from the OLD state — exactly once
    either way. POSIX-only (symlink + atomic rename), like the rest of
    the local-parquet sinks."""
    from ..operators.aggregates import merge_agg_state

    combine = merge_fn or merge_agg_state

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _already_applied(path, batch_id):
            return  # replayed micro-batch: already merged
        delta = agg_fn(batch_df)
        if _state_exists(path):
            # Every version is written in the delta's schema (the merge
            # keeps each counter's input type), so the read needs no
            # schema-inference job.
            state = spark.read.schema(delta.schema).parquet(path)
            delta = combine(state, delta, keys, counters)
        _publish_versioned(delta, path, batch_id)

    return write


_BATCH_MARKER = "_last_batch_id"


def _state_exists(path: str) -> bool:
    import os

    return os.path.lexists(path)


def _already_applied(path: str, batch_id: int) -> bool:
    """High-water-mark replay guard: True iff the published state already
    merged this (or a later) micro-batch."""
    import os

    if not os.path.lexists(path):
        return False
    mpath = os.path.join(os.path.realpath(path), _BATCH_MARKER)
    if not os.path.isfile(mpath):
        return False
    with open(mpath) as fh:
        return batch_id <= int(fh.read().strip())


def _publish_versioned(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as state version ``<path>__v<batch_id>`` (carrying its
    own batch-id marker) and swap the ``path`` symlink to it with ONE
    atomic rename — ``path`` is never absent, and a crash before the swap
    leaves the previous version (and its high-water mark) intact."""
    import os
    import shutil

    prev_version = os.path.realpath(path) if os.path.lexists(path) else None
    version = f"{path}__v{batch_id}"
    df.write.mode("overwrite").parquet(version)
    with open(os.path.join(version, _BATCH_MARKER), "w") as fh:
        fh.write(str(batch_id))
    tmp = f"{path}__ptr_{batch_id}"
    if os.path.lexists(tmp):
        os.remove(tmp)
    os.symlink(os.path.abspath(version), tmp)
    if os.path.isdir(path) and not os.path.islink(path):
        # legacy real-directory layout: one-time migration aside
        os.rename(path, f"{path}__legacy_{batch_id}")
        prev_version = f"{path}__legacy_{batch_id}"
    os.rename(tmp, path)  # THE publish: atomic symlink replacement
    if prev_version and os.path.isdir(prev_version):
        shutil.rmtree(prev_version, ignore_errors=True)


def foreach_batch_cc_update(
    path: str,
    src: str = "id_a",
    dst: str = "id_b",
) -> Callable[[DataFrame, int], None]:
    """Incremental connected-components maintenance (ROADMAP #12): each
    micro-batch of EDGE INSERTS is unioned with the checkpointed label map
    re-expressed as star edges (u -> component, self-edge for singletons)
    and re-labeled. Because the map is already transitively flattened, the
    combined graph is a forest of stars plus |batch| new edges — the CC
    rounds touch O(|state nodes| + |batch|) rows and converge in 2-3
    pointer-jumping rounds regardless of how many edges history held; the
    RAW edge history is never stored or re-read. component = min reachable
    node id is order-independent, so a drained stream equals the batch
    labeling EXACTLY (parity-tested). Same exactly-once replay guard and
    atomic versioned publish as the incremental-aggregate sink.
    """
    from ..operators.graph import connected_components

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _already_applied(path, batch_id):
            return
        new_edges = batch_df.select(
            F.col(src).alias("u"), F.col(dst).alias("v")
        )
        if _state_exists(path):
            state = spark.read.parquet(path)
            star = state.select("u", F.col("component").alias("v"))
            edges = star.union(new_edges)
        else:
            edges = new_edges
        labels = connected_components(edges, "u", "v")
        _publish_versioned(labels, path, batch_id)

    return write


def foreach_batch_kcenter_update(
    path: str,
    id_col: str,
    vec_col: str,
    k: int = 8,
    quant: int = 1_000_000,
) -> Callable[[DataFrame, int], None]:
    """Streaming k-center coreset maintenance — the doubling algorithm
    (Charikar et al.) batch-adapted: state is AT MOST ``k`` centers plus
    one radius^2 scalar, NEVER the point history, so a 100 TB stream is
    summarized in k rows.

    Per micro-batch: points farther than 2r from every center (exact
    integer compare ``dist2 > 4*r2`` in the shared quantized space of
    ``kcenter_coreset``) are added as centers, farthest-first; whenever
    the center count exceeds ``k``, the radius DOUBLES (r2 *= 4) and the
    center set is thinned driver-side to pairwise distance > 2r (id-
    ordered greedy keep — deterministic). First batch bootstraps with the
    batch greedy k-center + its measured coverage radius.

    Guarantees (classic doubling analysis, pinned empirically by the
    parity test): every streamed point lies within O(r_final) of a kept
    center — each merge displaces coverage by <= 2r_new and r doubles, so
    the geometric sum stays bounded — and r_final <= 8 * OPT_k. Batch
    work per trigger: one map pass per center-distance update + one
    TakeOrdered(1) per insertion; center-set operations are pure python
    over <= k+1 rows. Same exactly-once replay guard and atomic versioned
    publish as the other state sinks."""
    from ..operators.similarity import (
        _dist2_py,
        dist2_to_center,
        greedy_kcenter_centers,
        quantize_vectors,
    )

    def thin(
        centers: list[tuple[int, list[int]]], r2: int
    ) -> list[tuple[int, list[int]]]:
        kept: list[tuple[int, list[int]]] = []
        for cid, qv in sorted(centers, key=lambda c: c[0]):
            if all(_dist2_py(qv, kqv) > 4 * r2 for _, kqv in kept):
                kept.append((cid, qv))
        return kept

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if _already_applied(path, batch_id):
            return
        pts = quantize_vectors(batch_df, id_col, vec_col, quant).persist()
        srows = (
            spark.read.parquet(path).collect() if _state_exists(path) else []
        )
        if srows:
            centers = [(int(r["id"]), list(r["qv"])) for r in srows]
            r2 = int(srows[0]["r2"])
        else:
            # No state OR a zero-row state file (ADVICE r8: [] centers
            # would make F.least(*[]) raise): bootstrap from this batch.
            centers, r2 = greedy_kcenter_centers(pts, k)
            r2 = max(r2, 1)
        if not centers:  # empty first batch: nothing to cover yet
            pts.unpersist()
            return
        cur = pts.select(
            "_id",
            "_qv",
            F.least(*[dist2_to_center(qv) for _, qv in centers]).alias(
                "_dmin"
            ),
        ).persist()
        cur.count()
        # Iteration bound DERIVED from the batch's dynamic range, not a
        # magic constant (ADVICE r8): each round either inserts a center
        # (<= k inserts between doublings) or quadruples r2, and r2 only
        # needs ceil(log4(max_dmin / r2)) doublings before everything is
        # covered — so k * (doublings + 2) rounds always suffice.
        head = cur.orderBy(F.desc("_dmin")).limit(1).collect()
        max_d = int(head[0]["_dmin"]) if head else 0
        doublings = 0
        while r2 * (4 ** (doublings + 1)) < max_d:
            doublings += 1
        bound = max(8, k * (doublings + 2))
        for _ in range(bound):
            top = cur.orderBy(F.desc("_dmin"), F.asc("_id")).limit(1).collect()
            if not top or top[0]["_dmin"] <= 4 * r2:
                break
            centers.append((int(top[0]["_id"]), list(top[0]["_qv"])))
            added = centers[-1][1]
            if len(centers) <= k:
                nxt = cur.select(
                    "_id",
                    "_qv",
                    F.least(
                        F.col("_dmin"), dist2_to_center(added)
                    ).alias("_dmin"),
                )
            else:
                while len(centers) > k:
                    r2 *= 4
                    centers = thin(centers, r2)
                nxt = pts.select(
                    "_id",
                    "_qv",
                    F.least(
                        *[dist2_to_center(qv) for _, qv in centers]
                    ).alias("_dmin"),
                )
            nxt = nxt.persist()
            nxt.count()
            cur.unpersist()
            cur = nxt
        else:
            # Publish the partial state and continue rather than failing
            # the stream (ADVICE r8): the doubling invariant degrades to
            # "covered at the next batch", which replays the same points'
            # region via their neighbors — recoverable, not fatal.
            import logging

            logging.getLogger(__name__).warning(
                "kcenter update hit its derived %d-round bound at batch "
                "%d; publishing partial state",
                bound,
                batch_id,
            )
        cur.unpersist()
        pts.unpersist()
        out = spark.createDataFrame(
            [(cid, qv, r2) for cid, qv in centers],
            schema="id BIGINT, qv ARRAY<BIGINT>, r2 BIGINT",
        )
        _publish_versioned(out, path, batch_id)

    return write
