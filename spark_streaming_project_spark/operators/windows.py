"""Window-function operators (SURVEY.md §2.7 W1 + the analytic surface the
reference leaves implicit but the engine exposes)."""

from __future__ import annotations

import functools
import operator
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def top_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order: list[Column],
    k: int = 1,
    rank_col: str = "rank",
) -> DataFrame:
    """W1 (Consumer.scala:106-124, the disabled ``query3``): top-k rows per
    group via ``row_number`` over a partitioned window, filter rank<=k, drop
    the rank.

    Pass a total ``order`` (include a tiebreaker) for deterministic output.
    At scale this is one shuffle on ``partition_cols``; skewed groups are
    split by AQE skew handling since each group's sort is bounded by the
    partition.
    """
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .drop(rank_col)
    )


class _Pass(NamedTuple):
    """One prefix scan for :func:`_prefix_scan`: ``df`` in the total
    ``order`` within each ``parts`` group, folding ``monoid`` over every
    ``(input_col, out_col)`` of ``values`` (``count`` reads no column)."""

    df: DataFrame
    order: list[Column]
    parts: list[str]
    monoid: str
    values: list[tuple[str | None, str]]


def _fold_max(acc, v):
    return v if v is not None and (acc is None or v > acc) else acc


# monoid -> (per-(group, slice) aggregate, intra-slice window aggregate,
#            combine(window value, offset), driver-side fold, identity)
_MONOIDS = {
    "count": (lambda _: F.count("*"), lambda _: F.row_number(),
              operator.add, operator.add, 0),
    "sum": (F.sum, F.sum, operator.add, lambda acc, v: acc + (v or 0), 0),
    "max": (F.max, F.max, F.greatest, _fold_max, None),
}


def _prefix_scan(
    passes: list[_Pass], max_sidecar_rows: int, op: str
) -> list[DataFrame]:
    """EXACT inclusive prefix aggregates (running count / sum / max) in a
    total order without a single-partition global window — the one
    mechanism behind every ``range_partitioned_*`` operator.

    ``Window.orderBy(...)`` with no partition key funnels every row
    through ONE task (Spark warns ``No Partition Defined``) — the shape
    that turns a 10^9-row rank into a single-executor job. Per pass:

    1. ``repartitionByRange`` on (parts + order): each task holds a
       contiguous slice of the (per-group) order, tagged ``_slice``.
    2. One bounded aggregate per (group, slice). The aggregates of ALL
       passes are unioned (columns prefixed ``_p{i}_`` / ``_v{i}_``) and
       fetched in ONE ``collect`` — one driver round trip per call, since
       small-job time is dominated by fixed per-job overhead.
    3. The driver folds each group's slice aggregates, in slice order,
       into exclusive per-slice offsets (and, for ``count``, the group
       total ``_n_rows``).
    4. The offsets broadcast-join back on (group, slice) — null-safe on
       the group keys, so a null group key is one group, as in
       ``Window.partitionBy`` — and
       an intra-slice window (partitioned by group and slice, never
       global) combines its running value with the offset.

    Returns one frame per pass: the input columns (``parts`` first) plus
    every ``out_col`` as BIGINT, plus ``_n_rows`` for ``count`` passes.

    Contract:

    * ``order`` must be TOTAL (include a tiebreaker): ties spanning a
      slice boundary would otherwise make the prefix values
      partition-dependent.
    * Each post-``repartitionByRange`` frame is PERSISTED before the
      sidecar action. The sidecar and the caller's final query are
      separate jobs, and range-boundary sampling re-runs per job (the
      sampler seed is tied to the RDD id), so without the pin a row near
      a boundary could change slices between them and silently corrupt
      the offsets. The guarantee is structural, not scale-dependent.
    * Sidecar bound: O(partitions + groups) rows per pass, capped at
      ``max_sidecar_rows``; past it the call raises. For many small
      groups a plain ``Window.partitionBy(*partition_cols)`` window is
      the scale-safe plan and the driver coordination buys nothing.
    * Cache lifetime: the persisted frames back the RETURNED lazy plans
      and cannot be released here; the bench harness and the driver sim
      ``clearCache`` between queries.
    """
    sliceds, sidecars = [], []
    for i, p in enumerate(passes):
        sliced = (
            p.df.repartitionByRange(*p.parts, *p.order)
            .withColumn("_slice", F.spark_partition_id())
            .persist()
        )
        sliceds.append(sliced)
        agg = _MONOIDS[p.monoid][0]
        sidecars.append(
            sliced.groupBy(*[F.col(c).alias(f"_p{i}_{c}") for c in p.parts], "_slice")
            .agg(*[agg(c).alias(f"_v{i}_{j}") for j, (c, _) in enumerate(p.values)])
            .limit(max_sidecar_rows + 1)
            .withColumn("_pass", F.lit(i))
        )
    rows = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), sidecars
    ).collect()  # ONE action for every pass's sidecar
    by_pass: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: r["_slice"]):
        by_pass.setdefault(r["_pass"], []).append(r)

    outs = []
    for i, (p, sliced) in enumerate(zip(passes, sliceds)):
        pass_rows = by_pass.get(i, [])
        if len(pass_rows) > max_sidecar_rows:
            raise ValueError(
                f"{op} sidecar for pass {i} exceeds {max_sidecar_rows} "
                "(group, slice) rows — partition_cols cardinality is too "
                "high for driver-side offset folding; use a plain "
                "Window.partitionBy(*partition_cols) window directly "
                "(scale-safe when groups are many and small)"
            )
        _agg, window_agg, combine, fold, zero = _MONOIDS[p.monoid]
        keys = [f"_p{i}_{c}" for c in p.parts]
        vals = [f"_v{i}_{j}" for j in range(len(p.values))]
        offs = [f"_off{j}" for j in range(len(p.values))]
        with_total = p.monoid == "count"
        groups: dict[tuple, list] = {}
        for r in pass_rows:
            groups.setdefault(tuple(r[k] for k in keys), []).append(r)
        lookup_rows = []
        for group, group_rows in groups.items():
            acc, pre = [zero] * len(vals), []
            for r in group_rows:
                pre.append((*group, r["_slice"], *acc))
                acc = [fold(a, r[v]) for a, v in zip(acc, vals)]
            lookup_rows += [(*t, *acc) for t in pre] if with_total else pre
        schema = T.StructType(
            [T.StructField(k, p.df.schema[c].dataType) for k, c in zip(keys, p.parts)]
            + [T.StructField(f"_p{i}__slice", T.IntegerType(), False)]
            + [T.StructField(o, T.LongType(), zero is None) for o in offs]
            + ([T.StructField("_n_rows", T.LongType(), False)] if with_total else [])
        )
        lookup = F.broadcast(p.df.sparkSession.createDataFrame(lookup_rows, schema))
        # ``_slice`` is never null: ``==`` keeps a one-long-key relation
        on = [F.col(c).eqNullSafe(lookup[k]) for c, k in zip(p.parts, keys)]
        on.append(F.col("_slice") == lookup[f"_p{i}__slice"])
        w = (
            Window.partitionBy(*p.parts, "_slice")
            .orderBy(*p.order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = sliced.join(lookup, functools.reduce(operator.and_, on))
        for (c, out_col), off in zip(p.values, offs):
            out = out.withColumn(
                out_col, combine(window_agg(c).over(w), F.col(off)).cast("long")
            )
        out = out.drop("_slice", *keys, f"_p{i}__slice", *offs)
        outs.append(out.select(*p.parts, *[c for c in out.columns if c not in p.parts]))
    return outs


def _ntile(n: int) -> Column:
    """The standard ``ntile(n)`` arithmetic over the ``_rank`` /
    ``_n_rows`` columns of a ``count`` pass: the first ``n_rows mod n``
    buckets get the extra row."""
    rank, n_rows = F.col("_rank"), F.col("_n_rows")
    q = (n_rows / n).cast("long")  # floor: both operands >= 0
    rem = n_rows % n
    threshold = rem * (q + 1)
    return F.when(
        rank <= threshold, ((rank - 1) / (q + 1)).cast("long") + 1
    ).otherwise(rem + ((rank - threshold - 1) / q).cast("long") + 1).cast("int")


def _one_pass(df, order, partition_cols, monoid, values, max_rows, op) -> DataFrame:
    return _prefix_scan(
        [_Pass(df, order, list(partition_cols or []), monoid, values)],
        max_rows,
        op,
    )[0]


def range_partitioned_ntile(
    df: DataFrame,
    n: int,
    order: list[Column],
    partition_cols: list[str] | None = None,
    out_col: str = "tile",
    max_sidecar_rows: int = 100_000,
) -> DataFrame:
    """EXACT ``ntile(n)`` over ``order`` (per ``partition_cols`` group)
    without a single-partition global sort: rank = ``row_number`` + the
    count offset of :func:`_prefix_scan`, then the ntile arithmetic.
    Matches ``Window`` ntile bit-for-bit, so DuckDB ``ntile`` oracles stay
    valid. Input columns pass through plus ``out_col``."""
    ranked = _one_pass(
        df, order, partition_cols, "count", [(None, "_rank")],
        max_sidecar_rows, "range_partitioned_ntile",
    )
    return ranked.withColumn(out_col, _ntile(n)).drop("_rank", "_n_rows")


def range_partitioned_ntiles(
    df: DataFrame,
    specs: list[tuple[int, list[Column], str]],
    key_cols: list[str],
    max_sidecar_rows: int = 100_000,
) -> DataFrame:
    """SEVERAL exact global ``ntile`` columns over the same frame with ONE
    sidecar action. ``specs`` is ``[(n, order, out_col), ...]``, each
    order TOTAL; ``key_cols`` must uniquely identify rows, since the
    per-spec tile frames (keys + one int each) re-join on them. Returns
    ``key_cols`` + every ``out_col``, one row per input row."""
    ranked = _prefix_scan(
        [_Pass(df, order, [], "count", [(None, "_rank")]) for _, order, _ in specs],
        max_sidecar_rows,
        "range_partitioned_ntiles",
    )
    tiles = [
        r.select(*key_cols, _ntile(n).alias(out_col))
        for r, (n, _order, out_col) in zip(ranked, specs)
    ]
    return functools.reduce(lambda a, b: a.join(b, key_cols), tiles)


def range_partitioned_running_sum(
    df: DataFrame,
    order: list[Column],
    value_cols: list[str],
    partition_cols: list[str] | None = None,
    prefix: str = "running_",
    max_sidecar_rows: int = 100_000,
) -> DataFrame:
    """EXACT inclusive running sums of ``value_cols`` in ``order`` (per
    ``partition_cols`` group) without a single-partition global window —
    cumulative counts, Pareto curves, rank sums, CDF-style statistics.
    Input columns pass through plus ``{prefix}{col}`` per value column."""
    return _one_pass(
        df, order, partition_cols, "sum",
        [(c, f"{prefix}{c}") for c in value_cols],
        max_sidecar_rows, "range_partitioned_running_sum",
    )


def range_partitioned_running_sum_batch(
    inputs: list[tuple[DataFrame, list[Column], str]],
    prefix: str = "running_",
    max_sidecar_rows: int = 100_000,
) -> list[DataFrame]:
    """:func:`range_partitioned_running_sum` for several independent
    ungrouped ``(frame, order, value_col)`` passes with ONE sidecar
    action. Per pass: input columns pass through plus
    ``{prefix}{value_col}``."""
    return _prefix_scan(
        [
            _Pass(df, order, [], "sum", [(vc, f"{prefix}{vc}")])
            for df, order, vc in inputs
        ],
        max_sidecar_rows,
        "range_partitioned_running_sum_batch",
    )


def range_partitioned_running_max(
    df: DataFrame,
    order: list[Column],
    value_cols: list[str],
    partition_cols: list[str] | None = None,
    prefix: str = "runmax_",
    max_sidecar_rows: int = 100_000,
) -> DataFrame:
    """EXACT inclusive running MAX of ``value_cols`` in ``order`` (per
    ``partition_cols`` group) without a single-partition global window.
    The first slice's offset is NULL and ``greatest`` skips it (the max
    identity). ``value_cols`` must be BIGINT-compatible (cast timestamps
    to epoch seconds first). Input columns pass through plus
    ``{prefix}{col}``."""
    return _one_pass(
        df, order, partition_cols, "max",
        [(c, f"{prefix}{c}") for c in value_cols],
        max_sidecar_rows, "range_partitioned_running_max",
    )


def sharded_top_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order: list[Column],
    k: int = 1,
    shards: int = 32,
    shard_key: Column | None = None,
) -> DataFrame:
    """Exact top-k per group for EXTREME group cardinalities — the
    two-phase answer to ``top_per_group``'s one giant window partition
    per group (a handful of labels over a 10M-row vocab each would sort
    10M rows in one task; see nb_lang_top_features' stated bound).

    Phase 1 splits every group into ``shards`` deterministic sub-groups
    (``pmod(xxhash64(shard_key), shards)``; default shard key = the
    first order column) and takes top-k within each (group, shard) —
    parallelism is groups x shards, each sort bounded by its shard.
    Phase 2 re-ranks the <= shards*k survivors per group with the SAME
    order — a window whose partitions are k*shards rows by construction.

    With a TOTAL ``order`` the result is bit-identical to
    ``top_per_group`` (pinned by pytest): shard assignment can never
    change WHICH rows are top-k, only where their phase-1 rank was
    computed — any row in the true global top-k is necessarily in its
    own shard's top-k.
    """
    key = shard_key if shard_key is not None else order[0]
    sharded = df.withColumn(
        "_shard", F.pmod(F.xxhash64(key), F.lit(shards))
    )
    w1 = Window.partitionBy(*partition_cols, "_shard").orderBy(*order)
    survivors = (
        sharded.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", "_shard")
    )
    w2 = Window.partitionBy(*partition_cols).orderBy(*order)
    return (
        survivors.withColumn("_r2", F.row_number().over(w2))
        .filter(F.col("_r2") <= k)
        .drop("_r2")
    )


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    minimize_x: bool = True,
    maximize_y: bool = True,
) -> DataFrame:
    """The 2-D skyline (Pareto-optimal set): rows no other row beats on
    both dimensions (x lower-is-better, y higher-is-better by default;
    flip with the flags — internally both reduce to min-x/max-y by
    negation). Equal points do not strictly dominate each other, so
    exact duplicates of a skyline point all survive.

    Scale shape — never the O(n^2) nested loop: (1) one keyed aggregate
    folds the corpus to DISTINCT x values with their best y; (2) the
    range-partitioned running max gives each x the best y over all
    better-or-equal x; (3) an x survives iff its own best y achieves
    that prefix max AND it is the FIRST x to reach that value (the
    first-owner pattern — a later x re-achieving the same y is
    dominated on x); (4) survivors broadcast back to pick the actual
    rows. Everything is aggregates + the bounded-sidecar prefix max —
    no self-join, no global single-task window.
    """
    sx = F.col(x_col) if minimize_x else -F.col(x_col)
    sy = F.col(y_col) if maximize_y else -F.col(y_col)
    pts = df.withColumn("_sx", sx).withColumn("_sy", sy)
    per_x = pts.groupBy("_sx").agg(F.max("_sy").alias("_mx"))
    rm = range_partitioned_running_max(
        per_x, order=[F.asc("_sx")], value_cols=["_mx"]
    )
    frontier = (
        rm.filter(F.col("_mx") == F.col("runmax__mx"))
        .groupBy("_mx")
        .agg(F.min("_sx").alias("_sx"))
        .select("_sx", "_mx")
    )
    return (
        pts.join(
            F.broadcast(frontier),
            (pts["_sx"] == frontier["_sx"]) & (pts["_sy"] == frontier["_mx"]),
        )
        .drop("_sx", "_mx", "_sy")
    )
