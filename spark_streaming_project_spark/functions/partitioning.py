"""Partitioning helpers for compute-heavy narrow passes.

The engine's text/vector operators do their expensive work (md5 shingle
signatures, per-character CDC boundary hashing, n-gram zip folds, vector
dot folds) in NARROW projections directly on top of a parquet scan — the
right 100 TB shape (no shuffle of payloads). But scan parallelism is file
-layout-bound: a table stored as a few small files (or one file with one
row group) yields a handful of scan partitions, and the whole interpreted
pass serializes onto them no matter how many cores the cluster has
(guide §2.5 "input skew": one huge unsplittable file — repartition
immediately after the read).

Measured at sf0.1 / local[32] (scripts/probe_narrow_parallelism.py):
the MinHash signature pass runs 1.6 s on ONE task as-is vs 0.65 s after a
32-way spread; CDC chunking 2.2 s vs 0.30 s.

``small_side`` is the opposite placement decision: whether an iterative
operator's input is small enough to skip the cluster and run driver-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, *key_cols: Column | str) -> DataFrame:
    """Hash-repartition ``df`` to the session's configured shuffle
    parallelism ahead of an expensive narrow pass.

    Why the EXPLICIT partition count: ``repartition(col)`` without one is
    an AQE-coalescable exchange (REPARTITION_BY_COL), and on a small
    input AQE's size-based coalescing folds it back to ONE partition —
    re-serializing the very pass the repartition exists to spread
    (measured in scripts/probe_narrow_parallelism.py: the no-count form
    still ran on 1 partition). The count is NOT a constant: it reads
    ``spark.sql.shuffle.partitions``, the cluster-sized knob (session.py
    derives it from SPARK_GRAFT_CPUS locally; a real deployment raises it
    with the cluster), so the spread stays scale-adaptive.

    Cost model: one exchange of the projected input ahead of a pipeline
    of many interpreted passes per row/char. When the scan is narrow it
    converts a serialized stage into a parallel one; when the scan is
    already wide the exchange is pure shuffle tax — so the helper is
    LAYOUT-AWARE (r14, VERDICT r13 ask #3): if the frame's input files
    alone already provide >= the target parallelism (each file yields at
    least one scan partition), the repartition is skipped. At 100 TB a
    text corpus scan has thousands of files and spread() becomes a no-op
    projection; the sf bench tables are one file each, so the exchange
    still fires exactly where the narrow-scan serialization exists.
    (``inputFiles`` is analysis-level metadata — no job; file listings
    are session-cached.) Keys must be deterministic columns (never
    rand()-derived — guide §2.5 retry hazard).
    """
    import os as _os
    if _os.environ.get("SPARK_GRAFT_NO_SPREAD") == "1":  # measurement toggle
        return df
    sess = df.sparkSession
    try:
        n = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" on some platforms
        n = sess.sparkContext.defaultParallelism
    try:
        if len(df.inputFiles()) >= n:
            return df
    except Exception:  # non-file-backed plans: keep the spread
        pass
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    return df.repartition(n, *cols)


# Row count at or under which an iterative operator runs on the driver.
DRIVER_THRESHOLD = 100_000


def small_side(df: DataFrame, threshold: int) -> list | None:
    """The small-side policy shared by the iterative operators: return
    ``df``'s rows when there are at most ``threshold`` of them, so the
    caller replays its algorithm driver-side, else None.

    Fixed per-job overhead dwarfs the work on small inputs (Chukonu,
    VLDB 2021): a graph loop or BPE trainer on a few thousand rows runs
    rounds of jobs to do microseconds of arithmetic. One bounded
    ``limit(threshold + 1)`` collect tells the cases apart.

    ``df`` is persisted BEFORE the probe: ``limit`` cannot stop early
    below an upstream shuffle, so without the pin an over-threshold input
    would run its upstream pipeline once for the probe and again for the
    distributed path. When the rows fit, ``df`` is unpersisted here; when
    they do not, it stays cached and the caller unpersists it once its
    distributed path has materialized. ``threshold <= 0`` returns None
    without a job (forces the distributed path).
    """
    if threshold <= 0:
        return None
    df.persist()
    rows = df.limit(threshold + 1).collect()
    if len(rows) > threshold:
        return None
    df.unpersist()
    return rows
