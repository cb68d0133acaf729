"""Reference aggregation operators (SURVEY.md §2.5 A1-A5, A7) over the flat
products frame. Each is a pure DataFrame -> DataFrame transform, composable
with ``df.transform`` (reference pattern, Consumer.scala:63-84), and runs
unchanged on batch or streaming inputs.

Scale notes: every operator here is a keyed hash aggregate — Spark plans
partial (map-side) + final HashAggregate, so the shuffle carries one row per
distinct key per map partition, not per input row. Cardinalities are tiny
(grades, categories, brands), so these hold at 100 TB as long as AQE
coalesces the post-shuffle partitions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import (
    clean_tag,
    first_tag,
    is_valid_tag,
    normalize_grade,
)


def _nutriscore_keys(df: DataFrame) -> DataFrame:
    return df.filter(F.col("nutriscore_grade").isNotNull()).select(
        normalize_grade("nutriscore_grade").alias("nutriscore")
    )


def _category_keys(df: DataFrame) -> DataFrame:
    return (
        df.select(first_tag("categories_tags").alias("raw_tag"))
        .filter(is_valid_tag(F.col("raw_tag")))
        .select(clean_tag(F.col("raw_tag")).alias("main_category"))
    )


def _first_tag_keys(tags: str, key_name: str) -> Callable[[DataFrame], DataFrame]:
    def project(df: DataFrame) -> DataFrame:
        return (
            df.filter(first_tag(tags).isNotNull())
            .select(clean_tag(first_tag(tags)).alias(key_name))
            .filter(F.col(key_name).isNotNull())
        )

    return project


NOVA_LABELS = {
    1: "Unprocessed or minimally processed",
    2: "Processed culinary ingredients",
    3: "Processed foods",
    4: "Ultra-processed food and drink products",
}


def _nova_keys(df: DataFrame) -> DataFrame:
    tag = first_tag("nova_groups_tags")
    digit = F.regexp_extract(tag, r"(\d)", 1)
    label = F.lit(None).cast("string")
    for grp, text in sorted(NOVA_LABELS.items()):
        label = F.when(F.col("nova_group") == grp, F.lit(text)).otherwise(label)
    return (
        df.filter(tag.isNotNull() & (F.length(tag) > 0))
        .select(digit.alias("nova_digit"))
        .filter(F.col("nova_digit") != "")
        .select(F.col("nova_digit").cast("int").alias("nova_group"))
        .withColumn("nova_label", label)
    )


#: table -> (key projection, count column) of the five reference count
#: tables. Each table is its projection grouped by every projected column
#: and counted; the multiplex pipeline counts all five projections in one
#: tagged aggregate.
COUNT_KEYS: dict[str, tuple[Callable[[DataFrame], DataFrame], str]] = {
    "nutriscore_counts": (_nutriscore_keys, "product_count"),
    "category_counts": (_category_keys, "category_count"),
    "brand_counts": (_first_tag_keys("brands_tags", "brand"), "product_count"),
    "packaging_distribution": (
        _first_tag_keys("packaging_tags", "packaging"),
        "packaging_count",
    ),
    "nova_group_classification": (_nova_keys, "product_count"),
}


def _count_table(table: str, df: DataFrame) -> DataFrame:
    project, count_col = COUNT_KEYS[table]
    keys = project(df)
    return keys.groupBy(*keys.columns).agg(F.count("*").alias(count_col))


def nutriscore_counts(df: DataFrame) -> DataFrame:
    """A1 (Consumer.scala:187-199): grade-normalized product counts.

    NULL grades are dropped *before* normalization (the reference filters
    ``isNotNull`` on the raw column), then a..e map to uppercase and anything
    else to UNKNOWN.
    """
    return _count_table("nutriscore_counts", df)


def category_counts(df: DataFrame) -> DataFrame:
    """A2 (Consumer.scala:201-215): main-category counts.

    main_category = first categories tag, sentinel-blacklisted *before*
    prefix-stripping (the reference blacklists the raw first tag), then
    ``^[a-z]{2,3}:`` stripped.
    """
    return _count_table("category_counts", df)


def brand_counts(df: DataFrame) -> DataFrame:
    """A3 (Consumer.scala:239-250): first-brand counts, prefix-stripped."""
    return _count_table("brand_counts", df)


def packaging_distribution(df: DataFrame) -> DataFrame:
    """A4 (Consumer.scala:252-262): first-packaging-tag counts, prefix-stripped."""
    return _count_table("packaging_distribution", df)


def nova_group_classification(df: DataFrame) -> DataFrame:
    """A5 (Consumer.scala:264-280): NOVA group extraction + labeling.

    First nova tag -> regexp_extract first digit -> int; rows whose tag has no
    digit are dropped; two-column group key (group, label).
    """
    return _count_table("nova_group_classification", df)


def weighted_average(
    df: DataFrame, value_col: str, weight_col: str, out_col: str = "weighted_avg"
) -> DataFrame:
    """A7 (streamlit/app.py:214-216): global Σ(value·weight)/Σ(weight) — the
    dashboard's pandas weighted-mean, engine-side as a single-row aggregate."""
    return df.agg(
        (
            F.sum(F.col(value_col) * F.col(weight_col)) / F.sum(F.col(weight_col))
        ).alias(out_col)
    )


def merge_monoid_state(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    counters: list[str],
    combine: Callable[[Column, Column], Column],
) -> DataFrame:
    """One keyed monoid merge: null-safe full-outer join of ``state`` and
    ``delta`` on ``keys``, then ``combine(state_col, delta_col)`` per
    counter, with the absent side of an unmatched key as null. Keys are
    matched with ``eqNullSafe`` (an equi-join never matches NULL to NULL,
    so a null key would come back as one more row on every merge) and
    come out as ``coalesce(state_key, delta_key)``."""
    s = state.select(*[F.col(c).alias(f"_s_{c}") for c in keys + counters])
    d = delta.select(*[F.col(c).alias(f"_d_{c}") for c in keys + counters])
    on = [F.col(f"_s_{k}").eqNullSafe(F.col(f"_d_{k}")) for k in keys]
    return s.join(d, on, "full_outer").select(
        *[F.coalesce(F.col(f"_s_{k}"), F.col(f"_d_{k}")).alias(k) for k in keys],
        *[combine(F.col(f"_s_{c}"), F.col(f"_d_{c}")).alias(c) for c in counters],
    )


def merge_agg_state(state, delta, keys, counters):
    """Merge ADDITIVE aggregate frames (counts, sums — anything with a
    commutative monoid): full-outer join on the grouping keys, missing
    sides contribute the identity. Null keys are ordinary groups: two
    partials of the same null-keyed group sum into one row. The primitive
    behind incremental materialized-view maintenance: state' = state (+)
    delta, so refreshing a 10^9-group dashboard table costs O(|delta| +
    touched groups), never a fact-table rescan.

    Non-additive measures (min/max are semigroup-mergeable too and could
    be added; averages must travel as (sum, count) pairs; distinct counts
    need sketches) — callers decompose before merging.
    """
    zero = F.lit(0)
    return merge_monoid_state(
        state,
        delta,
        keys,
        counters,
        lambda s, d: F.coalesce(s, zero) + F.coalesce(d, zero),
    )
