"""Bloom-filter membership state (operators/bloom.py): the no-false-
negative guarantee, OR-monoid merge algebra (split build == one-shot
build, idempotent under replay), streaming incremental build parity
through foreach_batch_incremental_agg, and the shuffle-free probe plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_project_spark.operators.bloom import (
    bloom_build,
    bloom_probe,
    merge_bitor_state,
)
from spark_streaming_project_spark.sources.batch import load_table
from spark_streaming_project_spark.streaming import (
    StreamRunner,
    foreach_batch_incremental_agg,
    stream_parquet_dir,
)

from .conftest import SF_CORRECT

_SMALL_BITS = 1 << 11  # overload the filter so FPs are observable


def _hist(spark):
    docs = load_table(spark, SF_CORRECT, "documents").filter(
        F.col("text").isNotNull()
    )
    return docs.select("doc_id", F.md5("text").alias("h"))


def _words(df) -> dict[int, int]:
    return {r["word_idx"]: r["word"] for r in df.collect()}


def test_no_false_negatives_even_when_overloaded(spark):
    """Every inserted key probes seen — even in a filter far too small
    for its load (where FPs abound, FNs must still be structurally
    impossible)."""
    hist = _hist(spark)
    bloom = bloom_build(hist, "h", num_bits=_SMALL_BITS)
    probed = bloom_probe(hist, "h", bloom, num_bits=_SMALL_BITS)
    assert probed.filter(~F.col("probably_seen")).count() == 0


def test_fresh_keys_mostly_unseen_with_measured_fp_rate(spark):
    """Fresh (never-inserted) keys probe unseen except for a bounded
    false-positive fraction; with a roomy filter the FP count is 0."""
    hist = _hist(spark)
    fresh = hist.select(
        "doc_id", F.md5(F.concat("h", F.lit("#fresh"))).alias("h")
    )
    small = bloom_build(hist, "h", num_bits=_SMALL_BITS)
    n_fresh = fresh.count()
    fp_small = (
        bloom_probe(fresh, "h", small, num_bits=_SMALL_BITS)
        .filter(F.col("probably_seen"))
        .count()
    )
    assert 0 < fp_small < 0.4 * n_fresh  # ~15% expected at this load
    roomy = bloom_build(hist, "h")  # default 16384 bits for 500 keys
    fp_roomy = (
        bloom_probe(fresh, "h", roomy).filter(F.col("probably_seen")).count()
    )
    assert fp_roomy < 0.01 * n_fresh


def test_merged_halves_equal_one_shot_build_and_merge_is_idempotent(spark):
    hist = _hist(spark)
    h1 = hist.filter(F.col("doc_id") % 2 == 0)
    h2 = hist.filter(F.col("doc_id") % 2 == 1)
    full = bloom_build(hist, "h")
    b1, b2 = bloom_build(h1, "h"), bloom_build(h2, "h")
    merged = merge_bitor_state(b1, b2, ["word_idx"], ["word"])
    assert _words(merged) == _words(full)
    # idempotent: re-merging an already-absorbed delta changes nothing
    again = merge_bitor_state(merged, b1, ["word_idx"], ["word"])
    assert _words(again) == _words(full)
    # a NULL key is an ordinary group: present on both sides, it merges
    # into ONE row, however often the merge repeats
    nk = spark.createDataFrame([(None, 1)], "word_idx long, word long")
    merged = merge_bitor_state(
        b1.unionByName(nk), b2.unionByName(nk), ["word_idx"], ["word"]
    )
    again = merge_bitor_state(merged, nk, ["word_idx"], ["word"])
    assert _words(again) == {**_words(full), None: 1}
    assert again.count() == len(_words(full)) + 1


def test_streaming_incremental_build_matches_batch(spark, tmp_path):
    """Build the filter from a 3-micro-batch stream through the
    incremental-agg sink with the OR-monoid merge: final state words ==
    the one-shot batch build, bit for bit."""
    hist = _hist(spark)
    src = str(tmp_path / "bloom_src")
    for i in range(3):
        hist.filter(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema

    state = str(tmp_path / "bloom_state")
    stream = stream_parquet_dir(spark, src, schema, max_files_per_trigger=1)
    runner = StreamRunner(spark, str(tmp_path / "ckpt_bloom"))
    runner.add(
        "bloom_state",
        stream,
        foreach_batch=foreach_batch_incremental_agg(
            state,
            lambda df: bloom_build(df, "h"),
            ["word_idx"],
            ["word"],
            merge_fn=merge_bitor_state,
        ),
    )
    runner.start_all(available_now=True)
    runner.await_all(timeout_sec=120)

    assert _words(spark.read.parquet(state)) == _words(
        bloom_build(hist, "h")
    )


def test_probe_plan_is_broadcast_no_probe_side_shuffle(spark):
    """The probe attaches the dense word array by broadcast nested-loop
    join: the plan must contain that join and no SortMergeJoin; the only
    hash Exchange allowed is the filter-build groupBy (261-word frame),
    never a shuffle of the probed corpus."""
    hist = _hist(spark)
    bloom = bloom_build(hist, "h")
    probed = bloom_probe(hist, "h", bloom)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    hash_exchanges = plan.count("Exchange hashpartitioning")
    assert hash_exchanges <= 1, plan
