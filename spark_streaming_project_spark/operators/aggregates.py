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


#: A count table's spec: the condition a row must meet to be counted, and
#: the table's key Columns by name (the count groups by all of them).
CountSpec = tuple[Column, dict[str, Column]]


def _nutriscore_spec() -> CountSpec:
    grade = F.col("nutriscore_grade")
    return grade.isNotNull(), {"nutriscore": normalize_grade(grade)}


def _category_spec() -> CountSpec:
    tag = first_tag("categories_tags")
    return is_valid_tag(tag), {"main_category": clean_tag(tag)}


def _first_tag_spec(tags: str, key_name: str) -> Callable[[], CountSpec]:
    def spec() -> CountSpec:
        key = clean_tag(first_tag(tags))
        return first_tag(tags).isNotNull() & key.isNotNull(), {key_name: key}

    return spec


NOVA_LABELS = {
    1: "Unprocessed or minimally processed",
    2: "Processed culinary ingredients",
    3: "Processed foods",
    4: "Ultra-processed food and drink products",
}


def _nova_spec() -> CountSpec:
    tag = first_tag("nova_groups_tags")
    digit = F.regexp_extract(tag, r"(\d)", 1)
    group = digit.cast("int")
    label = F.lit(None).cast("string")
    for grp, text in sorted(NOVA_LABELS.items()):
        label = F.when(group == grp, F.lit(text)).otherwise(label)
    cond = tag.isNotNull() & (F.length(tag) > 0) & (digit != "")
    return cond, {"nova_group": group, "nova_label": label}


#: table -> (spec builder, count column) of the five reference count
#: tables. Each table is ``filter(cond).select(keys)`` grouped by every key
#: and counted; the multiplex pipeline counts all five specs in one pass.
#: Builders, not Columns: a Column needs a running SparkContext.
COUNT_KEYS: dict[str, tuple[Callable[[], CountSpec], str]] = {
    "nutriscore_counts": (_nutriscore_spec, "product_count"),
    "category_counts": (_category_spec, "category_count"),
    "brand_counts": (_first_tag_spec("brands_tags", "brand"), "product_count"),
    "packaging_distribution": (
        _first_tag_spec("packaging_tags", "packaging"),
        "packaging_count",
    ),
    "nova_group_classification": (_nova_spec, "product_count"),
}


def _count_table(table: str, df: DataFrame) -> DataFrame:
    spec, count_col = COUNT_KEYS[table]
    cond, keys = spec()
    return (
        df.filter(cond)
        .select(*[c.alias(k) for k, c in keys.items()])
        .groupBy(*keys)
        .agg(F.count("*").alias(count_col))
    )


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
    combine: Callable[[Column], Column],
) -> DataFrame:
    """One keyed monoid merge: ``state`` and ``delta`` unioned by column
    name and grouped by ``keys``, each counter folded by the aggregate
    ``combine`` (``F.sum``, ``F.max``, ``F.bit_or``) and cast back to its
    input type (``sum`` widens its type: a decimal sum would grow in
    precision on every merge). ``groupBy`` puts all null keys in one
    group, so a null-keyed group merges into one row like any other."""
    both = state.select(*keys, *counters).unionByName(
        delta.select(*keys, *counters)
    )
    types = both.schema
    return both.groupBy(*keys).agg(
        *[combine(F.col(c)).cast(types[c].dataType).alias(c) for c in counters]
    )


def merge_agg_state(state, delta, keys, counters):
    """Merge ADDITIVE aggregate frames (counts, sums — anything with a
    commutative monoid): union, then sum per key, with a null counter
    contributing 0. Null keys are ordinary groups: two partials
    of the same null-keyed group sum into one row. The primitive behind
    incremental materialized-view maintenance: state' = state (+) delta,
    so refreshing a 10^9-group dashboard table costs O(|state| + |delta|)
    in one aggregate, never a fact-table rescan.

    Non-additive measures (min/max are semigroup-mergeable too and could
    be added; averages must travel as (sum, count) pairs; distinct counts
    need sketches) — callers decompose before merging.
    """
    return merge_monoid_state(
        state, delta, keys, counters, lambda c: F.coalesce(F.sum(c), F.lit(0))
    )
