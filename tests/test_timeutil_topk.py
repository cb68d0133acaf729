"""Regression pins for the round-3 fixes.

1. ``epoch_seconds`` must work on BOTH timestamp flavors — the driver
   testdata ships TIMESTAMP_NTZ, where Spark 4 rejects a bare
   ``CAST(... AS BIGINT)`` (the round-2 driver gate lost ``user_sessions``
   and ``error_aftermath_clicks`` to exactly that).
2. ``top_n_with_other`` must preserve the grand total on the inputs the
   ADVICE flagged: NULL keys in the top-n, non-pre-aggregated (duplicate
   key) input, and a winner key colliding with the residual label.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from spark_streaming_project_spark.functions.timeutil import epoch_seconds
from spark_streaming_project_spark.operators.topk import top_n_with_other

UTC = datetime.timezone.utc


def test_epoch_seconds_ntz_and_ltz_agree(spark):
    rows = [
        ("1970-01-01 00:00:00", 0),
        ("2024-01-01 00:09:58", 1704067798),
        ("1999-12-31 23:59:59", 946684799),
    ]
    df = spark.createDataFrame([(s,) for s, _ in rows], "s string").select(
        F.col("s").cast("timestamp").alias("ltz"),
        F.col("s").cast("timestamp_ntz").alias("ntz"),
    )
    got = df.select(
        epoch_seconds(df, "ltz").alias("a"), epoch_seconds(df, "ntz").alias("b")
    ).collect()
    want = [e for _, e in rows]
    # session tz is UTC, so LTZ and NTZ must agree and match the true epoch
    assert [r["a"] for r in got] == want
    assert [r["b"] for r in got] == want


def test_epoch_seconds_rejects_non_timestamp(spark):
    import pytest

    df = spark.range(1)
    with pytest.raises(TypeError):
        epoch_seconds(df, "id")


def test_top_n_with_other_null_key_not_double_counted(spark):
    # NULL has the highest count -> wins a top-2 slot; its 50 must NOT also
    # leak into the residual (the old null-unsafe anti-join double-counted).
    df = spark.createDataFrame(
        [(None, 50), ("a", 10), ("b", 5), ("c", 3)], "k string, cnt long"
    )
    rows = {r["k"]: r["cnt"] for r in top_n_with_other(df, "k", "cnt", 2).collect()}
    assert rows == {None: 50, "a": 10, "Autres": 8}
    assert sum(rows.values()) == 68


def test_top_n_with_other_null_key_in_residual(spark):
    # NULL does not win -> its count belongs to the residual, not dropped.
    df = spark.createDataFrame(
        [("a", 10), ("b", 9), (None, 2), ("c", 1)], "k string, cnt long"
    )
    rows = {r["k"]: r["cnt"] for r in top_n_with_other(df, "k", "cnt", 2).collect()}
    assert rows == {"a": 10, "b": 9, "Autres": 3}


def test_top_n_with_other_preaggregates_duplicate_keys(spark):
    # Raw (unaggregated) input: per-key sums decide winners and every row's
    # count lands somewhere (the old version silently dropped non-winning
    # duplicates of a winner key).
    df = spark.createDataFrame(
        [("a", 6), ("a", 6), ("b", 10), ("c", 2), ("c", 1)], "k string, cnt long"
    )
    rows = {r["k"]: r["cnt"] for r in top_n_with_other(df, "k", "cnt", 1).collect()}
    assert rows == {"a": 12, "Autres": 13}


def test_top_n_with_other_merges_other_label_collision(spark):
    # A genuine key named like the residual label folds into ONE output row.
    df = spark.createDataFrame(
        [("Autres", 7), ("x", 5), ("y", 1)], "k string, cnt long"
    )
    rows = top_n_with_other(df, "k", "cnt", 1).collect()
    got = {r["k"]: r["cnt"] for r in rows}
    assert len(rows) == 1 and got == {"Autres": 13}


def test_sharded_top_per_group_equals_plain_window(spark):
    """Two-phase sharded top-k must be bit-identical to top_per_group
    under a total order — at several k and shard counts, including
    shards >> group size (many empty shards)."""
    from spark_streaming_project_spark.functions.text import tokens as toks
    from spark_streaming_project_spark.operators.windows import (
        sharded_top_per_group,
        top_per_group,
    )
    from spark_streaming_project_spark.sources.batch import load_table

    from .conftest import SF_CORRECT

    docs = load_table(spark, SF_CORRECT, "documents").filter(
        F.col("text").isNotNull()
    )
    cnt = (
        docs.select("source", F.explode(toks("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("n_occ"))
    )
    order = [F.desc("n_occ"), F.asc("token")]
    for k, shards in ((1, 4), (3, 8), (5, 64), (2, 1000)):
        plain = {
            (r["source"], r["token"], r["n_occ"])
            for r in top_per_group(cnt, ["source"], order, k=k).collect()
        }
        sharded = {
            (r["source"], r["token"], r["n_occ"])
            for r in sharded_top_per_group(
                cnt, ["source"], order, k=k, shards=shards,
                shard_key=F.col("token"),
            ).collect()
        }
        assert sharded == plain, (k, shards)


def test_range_partitioned_running_max_matches_global_window(spark):
    """The MAX-monoid prefix operator equals a plain global running-max
    window, per value, at several partitionings — including a grouped
    variant."""
    from pyspark.sql import Window as W

    from spark_streaming_project_spark.operators.windows import (
        range_partitioned_running_max,
    )

    df = spark.range(5000).select(
        (F.col("id") % 7).alias("g"),
        F.col("id").alias("i"),
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("v"),
    )
    for prev in ("3", "8"):
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        got = {
            (r["i"], r["runmax_v"])
            for r in range_partitioned_running_max(
                df, order=[F.asc("i")], value_cols=["v"]
            ).collect()
        }
        want = {
            (r["i"], r["w"])
            for r in df.withColumn(
                "w",
                F.max("v").over(
                    W.orderBy(F.asc("i")).rowsBetween(
                        W.unboundedPreceding, W.currentRow
                    )
                ),
            ).collect()
        }
        assert got == want
        # null group keys form one group, as in Window.partitionBy
        df_null = df.withColumn("g", F.when(F.col("i") % 5 != 0, F.col("g")))
        for frame in (df, df_null):
            got_g = {
                (r["g"], r["i"], r["runmax_v"])
                for r in range_partitioned_running_max(
                    frame, order=[F.asc("i")], value_cols=["v"],
                    partition_cols=["g"],
                ).collect()
            }
            want_g = {
                (r["g"], r["i"], r["w"])
                for r in frame.withColumn(
                    "w",
                    F.max("v").over(
                        W.partitionBy("g")
                        .orderBy(F.asc("i"))
                        .rowsBetween(W.unboundedPreceding, W.currentRow)
                    ),
                ).collect()
            }
            assert got_g == want_g
    spark.conf.set("spark.sql.shuffle.partitions", "8")


def test_skyline_2d_matches_bruteforce_with_ties_and_duplicates(spark):
    """Hand + randomized corpus: skyline equals the brute-force dominance
    filter, including tie rows and exact-duplicate skyline points (which
    all survive — equal points don't strictly dominate)."""
    from spark_streaming_project_spark.operators.windows import skyline_2d

    rows = [(1, 1.0, 5), (2, 1.0, 5), (3, 1.0, 4), (4, 2.0, 7),
            (5, 2.0, 7), (6, 3.0, 7), (7, 0.5, 1), (8, 4.0, 9),
            (9, 4.0, 8), (10, 0.5, 1)]
    extra = [
        (100 + i, float((i * 37) % 11), (i * 53) % 13) for i in range(80)
    ]
    data = rows + extra
    df = spark.createDataFrame(data, ["id", "x", "y"])

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
            for q in data
        )

    want = {p[0] for p in data if not dominated(p)}
    got = {r["id"] for r in skyline_2d(df, "x", "y").collect()}
    assert got == want
    # flipped objectives: maximize x, minimize y
    def dominated_flip(p):
        return any(
            q[1] >= p[1] and q[2] <= p[2] and (q[1] > p[1] or q[2] < p[2])
            for q in data
        )

    want_f = {p[0] for p in data if not dominated_flip(p)}
    got_f = {
        r["id"]
        for r in skyline_2d(
            df, "x", "y", minimize_x=False, maximize_y=False
        ).collect()
    }
    assert got_f == want_f
