"""Deterministic mergeable distinct-count sketch (HyperLogLog registers).

Companion to the DDSketch quantiles (operators/quantiles.py): the other
sketch a 100 TB pipeline maintains incrementally is approximate
COUNT(DISTINCT). Spark's ``approx_count_distinct`` is a black-box HLL
whose registers are neither exposed nor engine-portable — fine for ad-hoc
queries, useless as MAINTAINED STATE. This is the classic HyperLogLog
(Flajolet et al. 2007) built so that every piece is deterministic and
engine-replayable:

  - hash = md5 of the value (seedable by prefix), so bucket and rho are
    identical in any engine;
  - rho is computed from INTEGER arithmetic (bit-length of a 32-bit hash
    slice via ``bin()``), no floating logs — bit-exact everywhere;
  - registers are a (keys, bucket) -> max_rho frame: a MAX-monoid
    additive state, merged by ``merge_max_state`` (the max twin of
    ``merge_agg_state``) — order-independent, streamable, and the merge
    of two sketches IS the sketch of the union (the HLL property);
  - the estimator's harmonic sum adds dyadic rationals 2^-rho with
    rho <= 33 to a total <= m: every partial sum is EXACTLY representable
    in float64, so even the floating-point reduction is order-independent
    and cross-engine stable.

Standard error ~1.04/sqrt(m) (13% at the default m=64; raise m for
tighter bounds — the state is m rows per key either way, vs the full
distinct shuffle an exact count needs).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggregates import merge_monoid_state

__all__ = [
    "hll_build",
    "hll_merge",
    "hll_estimate",
    "merge_max_state",
    "cms_build",
    "cms_merge",
    "cms_estimate",
]

_BITS = 32  # rho slice width: keeps every 2^-rho sum term dyadic-exact


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_build(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    m: int = 64,
    salt: str = "hll",
) -> DataFrame:
    """Register frame (keys..., bucket, max_rho) for distinct counting of
    ``value_col`` (NULLs excluded, matching COUNT(DISTINCT)). One
    combinable aggregate; the shuffle carries <= m rows per key."""
    keys = list(keys or [])
    h = F.md5(
        F.concat(F.lit(f"{salt}:"), F.col(value_col).cast("string"))
    )
    bucket = (F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint") % m).alias(
        "bucket"
    )
    v = F.conv(F.substring(h, 5, 8), 16, 10).cast("bigint")
    # rho = leading zeros in the 32-bit slice + 1 == 33 - bitlength(v);
    # bin() gives the bit length as STRING LENGTH — pure integers, no logs
    rho = F.when(v == 0, F.lit(_BITS + 1)).otherwise(
        F.lit(_BITS + 1) - F.length(F.bin(v))
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(*keys, bucket, rho.alias("rho"))
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def merge_max_state(
    state: DataFrame, delta: DataFrame, keys: list[str], counters: list[str]
) -> DataFrame:
    """MAX-monoid twin of ``merge_agg_state``: union, then ``max`` per
    key, so a key on one side only keeps its value. Drop-in ``merge_fn``
    for ``foreach_batch_incremental_agg``."""
    return merge_monoid_state(state, delta, keys, counters, F.max)


def hll_merge(
    state: DataFrame, delta: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """sketch(A) (+) sketch(B) == sketch(A ∪ B): bucket-wise max."""
    return merge_max_state(
        state, delta, list(keys or []) + ["bucket"], ["max_rho"]
    )


def hll_estimate(
    registers: DataFrame, keys: list[str] | None = None, m: int = 64
) -> DataFrame:
    """Distinct estimates from a register frame: the HLL harmonic-mean
    estimator with the standard small-range (linear counting) correction.
    Empty buckets contribute 2^0 = 1 to the harmonic sum and count toward
    the zero-register tally without being materialized."""
    keys = list(keys or [])
    alpha = _alpha(m)
    agg = registers.groupBy(*keys).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("_present_sum"),
        F.count("*").alias("_present"),
    )
    zeros = F.lit(m) - F.col("_present")  # empty buckets: rho "0"
    harm = F.col("_present_sum") + zeros.cast("double")
    raw = F.lit(alpha * m * m) / harm
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return (
        # a GLOBAL aggregate over an empty register frame yields one
        # (count=0, sum=NULL) row — an empty sketch has no estimate
        agg.filter(F.col("_present") > 0)
        .select(*keys, F.round(est, 4).alias("distinct_estimate"))
    )


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005): the FREQUENCY member of
# the mergeable-sketch family (DDSketch = quantiles, HLL = distinct, CMS =
# counts). Counters are a (row, bucket) -> SUM frame: an additive monoid
# merged by merge_agg_state, so the same incremental-agg sink maintains it
# under streaming ingest, and sketch(A) (+) sketch(B) == sketch(A ++ B)
# exactly. Estimates are biased UP only (min over d rows bounds the
# overcount by eps*N with prob 1-delta; never an undercount) — the property
# heavy-hitter triage relies on. md5 bucketing keeps every cell
# engine-replayable.
# ---------------------------------------------------------------------------


def _cms_bucket(value: Column, row: int, width: int, salt: str) -> Column:
    h = F.md5(F.concat(F.lit(f"{salt}{row}:"), value.cast("string")))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint") % width


def cms_build(
    df: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    width: int = 256,
    depth: int = 4,
    salt: str = "cms",
    weight_col: str | None = None,
) -> DataFrame:
    """Counter frame (keys..., row, bucket, cnt) for frequency estimation
    of ``value_col`` (NULLs excluded). One combinable aggregate; the
    shuffle carries <= depth*width rows per key regardless of input size
    — the whole point at 100 TB, where an exact per-value count would
    shuffle the full value domain. ``weight_col`` generalizes to weighted
    counts (e.g. token counts instead of row counts)."""
    keys = list(keys or [])
    v = F.col(value_col)
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    rows = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _cms_bucket(v, r, width, salt).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    return (
        df.filter(v.isNotNull())
        .select(*keys, F.explode(rows).alias("_rb"), w.alias("_w"))
        .select(*keys, F.col("_rb.row").alias("row"),
                F.col("_rb.bucket").alias("bucket"), "_w")
        .groupBy(*keys, "row", "bucket")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_merge(
    state: DataFrame, delta: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """sketch(A) (+) sketch(B) == sketch(A ++ B): cell-wise sum (the
    additive merge_agg_state monoid)."""
    from .aggregates import merge_agg_state

    return merge_agg_state(
        state, delta, list(keys or []) + ["row", "bucket"], ["cnt"]
    )


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    value_col: str,
    width: int = 256,
    depth: int = 4,
    salt: str = "cms",
    keys: list[str] | None = None,
) -> DataFrame:
    """Point-frequency estimates for every row of ``queries``: min over
    the d counters each value hashes to. The sketch is <= depth*width rows
    per key group — broadcast it; the join is then map-side against any
    number of query values. Missing cells count 0 (value never seen).
    Returns queries + ``cms_est``; guarantees cms_est >= true count.

    ``keys`` MUST match the ``keys`` the sketch was built with (ADVICE r5:
    probing a keyed sketch without them would min across all key groups'
    cells and undercount, breaking the one-sided guarantee); ``queries``
    must carry the same key columns."""
    keys = list(keys or [])
    sketch_extra = [
        c for c in sketch.columns if c not in {"row", "bucket", "cnt"}
    ]
    if sorted(sketch_extra) != sorted(keys):
        raise ValueError(
            f"sketch was built with keys {sorted(sketch_extra)} but "
            f"cms_estimate was called with keys {sorted(keys)}; a keyed "
            "sketch probed keyless takes min across unrelated key groups "
            "and undercounts"
        )
    v = F.col(value_col)
    rows = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _cms_bucket(v, r, width, salt).alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    probes = queries.select(
        *keys, value_col, F.explode(rows).alias("_rb")
    ).select(
        *keys,
        value_col,
        F.col("_rb.row").alias("row"),
        F.col("_rb.bucket").alias("bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), keys + ["row", "bucket"], "left")
        .groupBy(*keys, value_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_est"))
        .join(queries, keys + [value_col])
    )
