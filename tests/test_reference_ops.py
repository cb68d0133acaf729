"""Food-domain semantics tests: the reference's operators over the
OpenFoodFacts-shaped fixture, asserted against independently-computed
pure-Python expectations (there are no golden outputs to import — SURVEY.md §5)."""

from __future__ import annotations

import re
from collections import Counter

import pytest

from spark_streaming_project_spark.operators.aggregates import (
    brand_counts,
    category_counts,
    nova_group_classification,
    nutriscore_counts,
    packaging_distribution,
)
from spark_streaming_project_spark.operators.parse import (
    main_product_name,
    nutriment_value,
    parse_envelopes,
)
from spark_streaming_project_spark.operators.topk import (
    top_additive_products,
    top_n_with_other,
)
from spark_streaming_project_spark.operators.windows import top_per_group
from spark_streaming_project_spark.sources.fixtures import (
    envelopes_df,
    make_products,
    products_df,
)

SENTINELS = {"en:undefined", "en:null", "undefined", "null", ""}
PREFIX = re.compile(r"^[a-z]{2,3}:")


@pytest.fixture(scope="module")
def fixture_products():
    return make_products(1000, seed=42)


@pytest.fixture(scope="module")
def pdf(spark):
    return products_df(spark, 1000, seed=42).cache()


def test_parse_envelopes_roundtrip(spark, fixture_products):
    """Envelope JSON -> parse -> flat rows must equal the direct flat frame."""
    parsed = parse_envelopes(envelopes_df(spark, 1000, seed=42))
    assert parsed.columns == [
        "nutriscore_grade",
        "categories_tags",
        "nutriments",
        "product_name",
        "packaging_tags",
        "brands_tags",
        "additives_tags",
        "nova_groups_tags",
    ]
    assert parsed.count() == len(fixture_products)
    # spot-check grade distribution survives the round trip
    got = {
        (r["nutriscore_grade"],): None for r in parsed.select("nutriscore_grade").collect()
    }
    want = {(p["nutriscore_grade"],): None for p in fixture_products}
    assert set(got) == set(want)


def test_parse_malformed_and_empty(spark):
    """Malformed JSON -> NULL struct -> dropped by inner explode; empty rows
    array -> dropped (reference explode semantics, Consumer.scala:60)."""
    df = spark.createDataFrame(
        [("{not json",), ('{"rows": []}',), (None,), ('{"rows":[{"row":{}}]}',)],
        "value string",
    )
    out = parse_envelopes(df)
    assert out.count() == 1  # only the empty-but-present row survives
    row = out.collect()[0]
    assert row["nutriscore_grade"] is None  # absent fields -> NULL


def test_nutriscore_counts(spark, pdf, fixture_products):
    got = {r["nutriscore"]: r["product_count"] for r in nutriscore_counts(pdf).collect()}
    want = Counter(
        g.upper() if g.lower() in "abcde" and g else "UNKNOWN"
        for g in (p["nutriscore_grade"] for p in fixture_products)
        if g is not None
    )
    assert got == dict(want)


def test_category_counts(spark, pdf, fixture_products):
    got = {r["main_category"]: r["category_count"] for r in category_counts(pdf).collect()}
    want: Counter = Counter()
    for p in fixture_products:
        tags = p["categories_tags"]
        first = tags[0] if tags else None
        if first is None or first in SENTINELS:
            continue
        want[PREFIX.sub("", first).strip()] += 1
    assert got == dict(want)


def test_brand_and_packaging(spark, pdf, fixture_products):
    got_b = {r["brand"]: r["product_count"] for r in brand_counts(pdf).collect()}
    want_b: Counter = Counter()
    for p in fixture_products:
        tags = p["brands_tags"]
        if tags:
            want_b[PREFIX.sub("", tags[0])] += 1
    assert got_b == dict(want_b)

    got_p = {
        r["packaging"]: r["packaging_count"] for r in packaging_distribution(pdf).collect()
    }
    want_p: Counter = Counter()
    for p in fixture_products:
        tags = p["packaging_tags"]
        if tags:
            want_p[PREFIX.sub("", tags[0])] += 1
    assert got_p == dict(want_p)


def test_nova_group_classification(spark, pdf, fixture_products):
    got = {
        (r["nova_group"], r["nova_label"]): r["product_count"]
        for r in nova_group_classification(pdf).collect()
    }
    want: Counter = Counter()
    labels = {
        1: "Unprocessed or minimally processed",
        2: "Processed culinary ingredients",
        3: "Processed foods",
        4: "Ultra-processed food and drink products",
    }
    for p in fixture_products:
        tags = p["nova_groups_tags"]
        first = tags[0] if tags else None
        if not first:
            continue
        m = re.search(r"(\d)", first)
        if not m:
            continue
        g = int(m.group(1))
        want[(g, labels.get(g))] += 1
    assert got == dict(want)


def test_main_name_and_nutriment_lookup(spark, pdf, fixture_products):
    rows = nutriment_value(main_product_name(pdf), "sugars", "sugar").select(
        "main_name", "sugar"
    ).collect()
    want_names = []
    for p in fixture_products:
        main = next((e["text"] for e in p["product_name"] if e["lang"] == "main"), None)
        sugar = next((n["value"] for n in p["nutriments"] if n["name"] == "sugars"), None)
        want_names.append((main, sugar))
    key = lambda t: (t[0] is not None, t[0] or "", t[1] is not None, t[1] or 0.0)
    got = sorted(((r["main_name"], r["sugar"]) for r in rows), key=key)
    assert got == sorted(want_names, key=key)


def test_top_additive_products(spark, pdf, fixture_products):
    got = [
        (r["product_name"], r["additive_count"], r["most_common_additive"])
        for r in top_additive_products(pdf, 10).collect()
    ]
    per_product: dict[str, list[str]] = {}
    for p in fixture_products:
        main = next((e["text"] for e in p["product_name"] if e["lang"] == "main"), None)
        if main is None or not p["additives_tags"]:
            continue
        adds = [PREFIX.sub("", a) for a in p["additives_tags"] if a]
        if adds:
            per_product.setdefault(main, []).extend(adds)
    ranked = sorted(
        ((name, len(adds), min(adds)) for name, adds in per_product.items()),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert got == ranked


def test_top_n_with_other(spark, pdf):
    counts = category_counts(pdf)
    out = {
        r["main_category"]: r["category_count"]
        for r in top_n_with_other(counts, "main_category", "category_count", 2).collect()
    }
    all_counts = {r["main_category"]: r["category_count"] for r in counts.collect()}
    top2 = sorted(all_counts.items(), key=lambda t: (-t[1], t[0]))[:2]
    assert len(out) == 3
    for k, v in top2:
        assert out[k] == v
    assert out["Autres"] == sum(all_counts.values()) - sum(v for _, v in top2)


def test_top_per_group_sugariest(spark, pdf, fixture_products):
    """W1: sugariest named product per main category (the disabled query3)."""
    from pyspark.sql import functions as F
    from spark_streaming_project_spark.functions.cleaning import (
        clean_tag,
        first_tag,
        is_valid_tag,
    )

    enriched = (
        nutriment_value(main_product_name(pdf), "sugars", "sugar")
        .filter(is_valid_tag(first_tag("categories_tags")))
        .select(
            clean_tag(first_tag("categories_tags")).alias("main_category"),
            F.col("main_name").alias("product_name"),
            "sugar",
        )
        .filter(F.col("product_name").isNotNull() & F.col("sugar").isNotNull())
    )
    got = {
        r["main_category"]: (r["product_name"], r["sugar"])
        for r in top_per_group(
            enriched,
            ["main_category"],
            [F.desc("sugar"), F.asc("product_name")],
        ).collect()
    }

    best: dict[str, tuple[str, float]] = {}
    for p in fixture_products:
        tags = p["categories_tags"]
        first = tags[0] if tags else None
        if first is None or first in SENTINELS:
            continue
        cat = PREFIX.sub("", first).strip()
        main = next((e["text"] for e in p["product_name"] if e["lang"] == "main"), None)
        sugar = next((n["value"] for n in p["nutriments"] if n["name"] == "sugars"), None)
        if main is None or sugar is None:
            continue
        cur = best.get(cat)
        if cur is None or (-sugar, main) < (-cur[1], cur[0]):
            best[cat] = (main, sugar)
    assert got == best


def test_range_partitioned_ntile_matches_window_ntile(spark):
    """range_partitioned_ntile must equal Window ntile BIT-FOR-BIT for
    every n / grouping / partition-count combination — it exists so the
    decile plans drop the single-task global sort without changing one
    output row."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_streaming_project_spark.operators.windows import (
        range_partitioned_ntile,
    )

    rows = [(i % 7, (i * 37) % 101, i) for i in range(523)]
    df = spark.createDataFrame(rows, "g int, v int, id int")
    # null group keys form one group, as in Window.partitionBy
    df_null = df.withColumn(
        "g", F.when(F.col("id") % 5 != 0, F.col("g"))
    )
    order = [F.desc("v"), F.asc("id")]
    for n in (1, 2, 10, 523, 1000):
        # global (no partition key)
        want = {
            (r["id"], r["t"])
            for r in df.select(
                "id", F.ntile(n).over(Window.orderBy(*order)).alias("t")
            ).collect()
        }
        got = {
            (r["id"], r["tile"])
            for r in range_partitioned_ntile(df, n, order).collect()
        }
        assert got == want, f"global ntile({n})"
        # per-group
        for frame in (df, df_null):
            want_g = {
                (r["id"], r["t"])
                for r in frame.select(
                    "id",
                    F.ntile(n)
                    .over(Window.partitionBy("g").orderBy(*order))
                    .alias("t"),
                ).collect()
            }
            got_g = {
                (r["id"], r["tile"])
                for r in range_partitioned_ntile(
                    frame, n, order, partition_cols=["g"]
                ).collect()
            }
            assert got_g == want_g, f"grouped ntile({n})"
    # stability under a different shuffle-partition setting
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        got3 = {
            (r["id"], r["tile"])
            for r in range_partitioned_ntile(df, 10, order).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    want10 = {
        (r["id"], r["t"])
        for r in df.select(
            "id", F.ntile(10).over(Window.orderBy(*order)).alias("t")
        ).collect()
    }
    assert got3 == want10


def test_range_partitioned_ntile_guards_high_cardinality_groups(spark):
    """VERDICT r5 #4: the slice-count sidecar is O(partitions + groups);
    past ``max_sidecar_rows`` the operator must fail loudly (pointing at
    the per-group window alternative) instead of silently collecting an
    unbounded driver-side lookup."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from spark_streaming_project_spark.operators.windows import (
        range_partitioned_ntile,
    )

    df = spark.range(500).select(
        F.col("id"), (F.col("id")).alias("g")  # every row its own group
    )
    with _pytest.raises(ValueError, match="cardinality is too high"):
        range_partitioned_ntile(
            df,
            4,
            [F.col("id")],
            partition_cols=["g"],
            max_sidecar_rows=100,
        )
    # and the guard does not bind for sane group counts
    out = range_partitioned_ntile(
        df.withColumn("g", F.col("id") % 5),
        4,
        [F.col("id")],
        partition_cols=["g"],
        max_sidecar_rows=100_000,
    )
    assert out.count() == 500


def test_range_partitioned_running_sum_matches_window(spark):
    """range_partitioned_running_sum == a plain global/grouped window
    running sum BIT-FOR-BIT, including under a different shuffle-partition
    setting, and its sidecar guard fails loudly at high cardinality."""
    import random

    import pytest as _pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_streaming_project_spark.operators.windows import (
        range_partitioned_running_sum,
    )

    random.seed(7)
    rows = [
        (i, random.randint(0, 5), random.randint(0, 100), f"g{i % 3}")
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, v long, w long, g string")
    got = {
        r["id"]: (r["running_v"], r["running_w"])
        for r in range_partitioned_running_sum(
            df, [F.asc("id")], ["v", "w"]
        ).collect()
    }
    glob = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["id"]: (r["rv"], r["rw"])
        for r in df.select(
            "id",
            F.sum("v").over(glob).alias("rv"),
            F.sum("w").over(glob).alias("rw"),
        ).collect()
    }
    assert got == want
    # grouped + different shuffle partitioning; null group keys form
    # one group, as in Window.partitionBy
    df_null = df.withColumn("g", F.when(F.col("id") % 5 != 0, F.col("g")))
    wg = (
        Window.partitionBy("g")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for frame in (df, df_null):
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        try:
            got_g = {
                (r["g"], r["id"]): r["running_v"]
                for r in range_partitioned_running_sum(
                    frame, [F.asc("id")], ["v"], partition_cols=["g"]
                ).collect()
            }
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "32")
        want_g = {
            (r["g"], r["id"]): r["rv"]
            for r in frame.select(
                "g", "id", F.sum("v").over(wg).alias("rv")
            ).collect()
        }
        assert got_g == want_g
    # loud guard at high group cardinality
    with _pytest.raises(ValueError, match="cardinality is too high"):
        range_partitioned_running_sum(
            df.withColumn("hg", F.col("id")),
            [F.asc("id")],
            ["v"],
            partition_cols=["hg"],
            max_sidecar_rows=50,
        )


def test_range_partitioned_ntiles_batch_matches_single(spark):
    """The batched multi-axis ntile equals a plain ``Window`` ntile
    axis-for-axis — the rfm_segments exactness contract."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_streaming_project_spark.operators.windows import (
        range_partitioned_ntiles,
    )

    rows = [((i * 37) % 101, (i * 17) % 53, i) for i in range(523)]
    df = spark.createDataFrame(rows, "a int, b int, id int")
    specs = [
        (5, [F.desc("a"), F.asc("id")], "ta"),
        (4, [F.asc("b"), F.asc("id")], "tb"),
        (10, [F.asc("a"), F.asc("id")], "tc"),
    ]
    got = {
        r["id"]: (r["ta"], r["tb"], r["tc"])
        for r in range_partitioned_ntiles(df, specs, key_cols=["id"]).collect()
    }
    want = {
        r["id"]: (r["ta"], r["tb"], r["tc"])
        for r in df.select(
            "id",
            *[
                F.ntile(n).over(Window.orderBy(*order)).alias(out)
                for n, order, out in specs
            ],
        ).collect()
    }
    assert got == want


def test_range_partitioned_running_sum_batch_matches_single(spark):
    """The batched multi-pass running sum equals a plain ``Window``
    running sum pass-for-pass — the sorted_neighborhood_pairs exactness
    contract."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_streaming_project_spark.operators.windows import (
        range_partitioned_running_sum_batch,
    )

    rows = [((i * 37) % 101, (i * 17) % 53, i) for i in range(523)]
    df = spark.createDataFrame(rows, "a int, v int, id int")
    inputs = [
        (df, [F.asc("a"), F.asc("id")], "v"),
        (df, [F.desc("v"), F.asc("id")], "v"),
    ]
    outs = range_partitioned_running_sum_batch(inputs)
    for (src, order, vc), got_df in zip(inputs, outs):
        got = {r["id"]: r[f"running_{vc}"] for r in got_df.collect()}
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        want = {
            r["id"]: r["rv"]
            for r in src.select("id", F.sum(vc).over(w).alias("rv")).collect()
        }
        assert got == want


def test_range_partitioned_ungrouped_lookup_joins_on_slice_alone(spark):
    """Without partition columns the offset lookup joins on the non-null
    ``_slice`` alone: one integral broadcast key, not a null-safe
    (coalesce, isnull) key pair, whose hashed relation is larger and
    lingers in driver memory until the broadcast is cleaned."""
    from pyspark.sql import functions as F

    from spark_streaming_project_spark.operators.windows import (
        range_partitioned_ntile,
        range_partitioned_running_sum,
    )

    df = spark.range(200).select("id", (F.col("id") * 7 % 13).alias("a"))
    for out in (
        range_partitioned_ntile(df, 4, [F.asc("a"), F.asc("id")]),
        range_partitioned_running_sum(df, [F.asc("id")], ["a"]),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin [_slice" in plan
        assert "isnull(_slice" not in plan


def test_range_partitioned_batches_fetch_sidecars_in_one_collect(
    spark, monkeypatch
):
    """Building a 3-spec ntile batch or a 2-pass running-sum batch runs
    exactly ONE driver collect (all sidecars unioned) — job counts vary
    with warm-up, the collect count does not."""
    from pyspark.sql import functions as F

    from spark_streaming_project_spark.operators.windows import (
        range_partitioned_ntiles,
        range_partitioned_running_sum_batch,
    )

    df = spark.range(200).select(
        F.col("id"), (F.col("id") * 7 % 13).alias("a")
    )
    calls = []
    # the session's concrete DataFrame class (a subclass of the public
    # pyspark.sql.DataFrame that overrides collect)
    real_collect = type(df).collect

    def counting_collect(self):
        calls.append(1)
        return real_collect(self)

    monkeypatch.setattr(type(df), "collect", counting_collect)
    range_partitioned_ntiles(
        df,
        [
            (5, [F.asc("a"), F.asc("id")], "ta"),
            (4, [F.desc("a"), F.asc("id")], "tb"),
            (10, [F.asc("id")], "tc"),
        ],
        key_cols=["id"],
    )
    assert len(calls) == 1
    calls.clear()
    range_partitioned_running_sum_batch(
        [(df, [F.asc("a"), F.asc("id")], "a"), (df, [F.desc("id")], "a")]
    )
    assert len(calls) == 1
