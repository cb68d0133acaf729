"""Mergeable quantile sketches (DDSketch-style log-binned histograms).

ROADMAP #11: percentile state that can be maintained incrementally like
``merge_agg_state``'s additive counters. The classic mergeable quantile
structures (t-digest, GK, KLL) merge correctly but not CANONICALLY — the
merged sketch depends on merge order, so a streamed build and a batch
build disagree bit-for-bit even when both are within error bounds. A
DDSketch-style sketch (Masson, Rim & Lee, VLDB 2019) has the property
that makes exact streaming parity possible: the bin of a value is a pure
function of the value (bin = ceil(ln|x| / ln gamma), gamma = (1+a)/(1-a)),
so the sketch IS an additive (key, bin) -> count frame —

  - building from the whole corpus, building from parts and merging, and
    maintaining under foreachBatch all yield the IDENTICAL frame;
  - merge = counter addition (``merge_agg_state`` verbatim, union +
    per-bin sum), commutative and associative with no order term;
  - quantile answers carry a RELATIVE-error guarantee <= alpha, from the
    log spacing of the bin boundaries.

Scale shape (100 TB): the build is one map-side-combinable hash aggregate
on (keys, sign, bin) — bin cardinality is ~log(max/min)/log(gamma) per
key (alpha=0.01 spans 1e-9..1e9 in ~2000 bins), so the shuffle carries a
bounded sketch per key regardless of row count, and the quantile walk is
a window over those bounded frames. Nothing here touches a driver.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "dd_gamma",
    "dd_bin_cols",
    "ddsketch_build",
    "ddsketch_merge",
    "ddsketch_quantiles",
]


def dd_gamma(alpha: float) -> float:
    """Bin base for a relative-error target: gamma = (1+alpha)/(1-alpha)."""
    return (1.0 + alpha) / (1.0 - alpha)


def dd_bin_cols(value: Column, alpha: float) -> tuple[Column, Column]:
    """(sign, bin) encoding of a value: sign in {-1, 0, 1}; for x != 0 the
    bin is ceil(ln|x| / ln gamma). Ascending value order is exactly
    ORDER BY (sign, sign * bin) — negatives mirror, the zero bucket sits
    between — which is what keeps the quantile walk pure SQL."""
    lg = math.log(dd_gamma(alpha))
    sgn = F.when(value > 0, F.lit(1)).when(value < 0, F.lit(-1)).otherwise(
        F.lit(0)
    )
    b = F.when(
        value != 0, F.ceil(F.log(F.abs(value)) / F.lit(lg)).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    return sgn, b


def ddsketch_build(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    alpha: float = 0.01,
) -> DataFrame:
    """Sketch frame (keys..., sgn, bin, cnt) — one combinable aggregate.
    NULL values are excluded (matching every SQL percentile function)."""
    keys = list(keys or [])
    sgn, b = dd_bin_cols(F.col(value_col), alpha)
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, sgn.alias("sgn"), b.alias("bin"))
        .groupBy(*keys, "sgn", "bin")
        .agg(F.count("*").alias("cnt"))
    )


def ddsketch_merge(
    state: DataFrame, delta: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """state (+) delta: the additive-counter merge, shared with the
    incremental materialized-view sink (so ``foreach_batch_incremental_agg``
    maintains a live sketch with ``keys + ["sgn", "bin"]`` / ``["cnt"]``)."""
    from .aggregates import merge_agg_state

    return merge_agg_state(
        state, delta, list(keys or []) + ["sgn", "bin"], ["cnt"]
    )


def ddsketch_quantiles(
    sketch: DataFrame,
    qs: list[float],
    keys: list[str] | None = None,
    alpha: float = 0.01,
) -> DataFrame:
    """Quantile estimates from a sketch frame: for each key and q, the
    first bin (in value order) whose cumulative count exceeds
    floor(q * (n - 1)), estimated at the bin's log-midpoint
    2*gamma^bin/(gamma+1) — relative error <= alpha by construction.

    The cumulative window partitions by key over the BOUNDED per-key bin
    set (~log(range)/alpha rows), so there is no unbounded global sort
    even for keys=None (the frame is the bin set itself).
    """
    keys = list(keys or [])
    g = dd_gamma(alpha)
    w = Window.partitionBy(*keys).orderBy(
        F.col("sgn"), (F.col("sgn") * F.col("bin"))
    )
    cum = sketch.withColumn("_cum", F.sum("cnt").over(w)).withColumn(
        "_n", F.sum("cnt").over(Window.partitionBy(*keys))
    )
    qdf = sketch.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    est = (
        F.when(F.col("sgn") == 0, F.lit(0.0))
        .otherwise(
            F.col("sgn")
            * 2.0
            * F.pow(F.lit(g), F.col("bin"))
            / F.lit(g + 1.0)
        )
        .alias("estimate")
    )
    ranked = (
        cum.join(F.broadcast(qdf))
        .filter(
            F.col("_cum") > F.floor(F.col("q") * (F.col("_n") - 1))
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*keys, "q").orderBy(
                    F.col("sgn"), F.col("sgn") * F.col("bin")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
    )
    return ranked.select(*keys, "q", F.round(est, 6).alias("estimate"))
