"""Distributed BPE training vs the pure-Python reference: the merge
sequence (pairs, order, counts) must match EXACTLY on constructed corpora
and on the real documents table — the rows-only pin for an operator whose
iterative argmax loop has no SQL oracle (like k-means)."""

from __future__ import annotations

from spark_streaming_project_spark.functions.partitioning import (
    DRIVER_THRESHOLD,
)
from spark_streaming_project_spark.operators.bpe import (
    bpe_reference,
    bpe_train_merges,
    bpe_train_merges_from_dict,
    word_freq_dict,
)
from spark_streaming_project_spark.sources.batch import load_table

from .conftest import SF_CORRECT


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def _train(df, n_merges):
    """The merge table at the default threshold (driver path, which IS
    bpe_reference) and at 0 (the distributed trainer), so the reference
    pins below hold the distributed loop too."""
    wd = word_freq_dict(df, "text")
    return [
        bpe_train_merges_from_dict(wd, n_merges, driver_threshold=t)
        for t in (DRIVER_THRESHOLD, 0)
    ]


def test_bpe_hand_checked(spark):
    # classic toy corpus: "low low low lower newest newest"
    df = _docs(spark, ["low low low lower", "newest newest"])
    want = bpe_reference(
        {"low": 3, "lower": 1, "newest": 2}, n_merges=4
    )
    for got in _train(df, 4):
        assert got == want
        # first merge must be the most frequent pair: 'l o' appears 4 times
        assert got[0][:2] == ("l", "o") and got[0][2] == 4


def test_bpe_overlapping_run_merges_left_first(spark):
    df = _docs(spark, ["aaa aaa"])
    want = bpe_reference({"aaa": 2}, n_merges=2)
    for got in _train(df, 2):
        assert got == want
        # merge 1: (a,a) count 4 (two per word, greedy); merge 2: (aa,a)
        assert got[0] == ("a", "a", 4)
        assert got[1][:2] == ("aa", "a")


def test_bpe_matches_reference_on_testdata(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    wc = {
        r["word"]: r["cnt"]
        for r in word_freq_dict(docs, "text").collect()
    }
    want = bpe_reference(wc, n_merges=6)
    for got in _train(docs, 6):
        assert got == want
        assert len(got) == 6


def test_bpe_encode_matches_reference(spark):
    from spark_streaming_project_spark.operators.bpe import (
        bpe_encode_words,
        bpe_reference_encode,
    )

    df = _docs(spark, ["low low low lower", "newest newest widest"])
    merges = bpe_train_merges(df, "text", n_merges=5)
    wdict = word_freq_dict(df, "text")
    encoded = {
        r["word"]: list(r["subwords"])
        for r in bpe_encode_words(wdict, merges).collect()
    }
    for w in ["low", "lower", "newest", "widest"]:
        assert encoded[w] == bpe_reference_encode(w, merges), w
    # subwords reassemble the word exactly
    for w, subs in encoded.items():
        assert "".join(subs) == w


def test_bpe_encode_on_testdata_reassembles(spark):
    from spark_streaming_project_spark.operators.bpe import bpe_encode_words

    docs = load_table(spark, SF_CORRECT, "documents")
    merges = bpe_train_merges(docs, "text", n_merges=6)
    wdict = word_freq_dict(docs, "text")
    enc = bpe_encode_words(wdict, merges)
    from pyspark.sql import functions as F

    bad = enc.filter(
        F.concat_ws("", F.col("subwords")) != F.col("word")
    ).count()
    assert bad == 0
    # merges actually compress: mean subwords/word < mean chars/word
    stats = enc.agg(
        F.avg(F.size("subwords")).alias("s"),
        F.avg(F.length("word")).alias("c"),
    ).collect()[0]
    assert stats["s"] < stats["c"]


def test_incremental_trainer_exact_parity(spark):
    """bpe_train_merges_incremental must produce the IDENTICAL merge table
    (pairs, counts, order, tie-breaks) as the full-recompute trainer and
    the pure-Python reference — integer-exact count maintenance."""
    from spark_streaming_project_spark.operators.bpe import (
        bpe_reference,
        bpe_train_merges,
        bpe_train_merges_incremental,
        word_freq_dict,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    inc = bpe_train_merges_incremental(docs, "text", n_merges=12)
    full = bpe_train_merges(docs, "text", n_merges=12)
    assert inc == full
    wc = {
        r["word"]: r["cnt"]
        for r in word_freq_dict(docs, "text").collect()
    }
    assert inc == bpe_reference(wc, n_merges=12)


def test_driver_path_parity_with_distributed(spark):
    """Adaptive driver path: a dictionary under the threshold trains
    driver-side; merges AND the token curve must be identical to the
    distributed loop, both when the probe finds the dictionary too big
    (driver_threshold=1) and when there is no probe (0). No call may
    leave a cached frame behind."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    wd = word_freq_dict(docs, "text")
    cache = spark._jsparkSession.sharedState().cacheManager()
    runs = []
    for t in (DRIVER_THRESHOLD, 1, 0):
        spark.catalog.clearCache()
        curve: list = []
        merges = bpe_train_merges_from_dict(
            wd, n_merges=10, token_curve=curve, driver_threshold=t
        )
        assert cache.isEmpty(), t
        runs.append((merges, curve))
    (drv, curve_drv), (probed, curve_probed), (dist, curve_dist) = runs
    assert drv == dist
    assert curve_drv == curve_dist
    assert (probed, curve_probed) == (dist, curve_dist)
