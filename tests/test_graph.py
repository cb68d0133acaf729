"""connected_components: the transitive-closure semantics greedy pair
policies can't express, pinned on hand-built graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_project_spark.functions.partitioning import (
    DRIVER_THRESHOLD,
    small_side,
)
from spark_streaming_project_spark.operators.graph import connected_components

# every topology runs through BOTH physical paths: the driver union-find
# (small-graph fast path) and the distributed pointer-jumping loop
# (driver_threshold=0 forces it)
THRESHOLDS = (100_000, 0)


def _cc(spark, edges, threshold, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["u"]: r["component"]
        for r in connected_components(df, driver_threshold=threshold, **kw).collect()
    }


@pytest.mark.parametrize("threshold", THRESHOLDS)
def test_chain_collapses_to_one_component(spark, threshold):
    # a 6-node path: the case where greedy drop-id_b never links the ends
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], threshold)
    assert got == {n: 1 for n in range(1, 7)}


@pytest.mark.parametrize("threshold", THRESHOLDS)
def test_two_components_and_orientation_independence(spark, threshold):
    # second component's edges written "backwards" (larger id first)
    got = _cc(spark, [(1, 2), (2, 3), (30, 10), (20, 30)], threshold)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 20: 10, 30: 10}


@pytest.mark.parametrize("threshold", THRESHOLDS)
def test_star_and_triangle(spark, threshold):
    got = _cc(
        spark,
        [(7, 3), (7, 9), (7, 11), (100, 101), (101, 102), (100, 102)],
        threshold,
    )
    assert got == {3: 3, 7: 3, 9: 3, 11: 3, 100: 100, 101: 100, 102: 100}


@pytest.mark.parametrize("threshold", THRESHOLDS)
def test_empty_edges(spark, threshold):
    got = _cc(spark, [], threshold)
    assert got == {}


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("threshold", (*THRESHOLDS, 1))
def test_null_endpoints_dropped_on_both_paths(spark, threshold):
    # an edge with a null endpoint is no edge: 5 is in no component, and
    # no null node appears (threshold 1: probed, then distributed)
    spark.catalog.clearCache()
    got = _cc(
        spark, [(1, 2), (2, 3), (5, None), (None, 6), (6, 7)], threshold
    )
    assert got == {1: 1, 2: 1, 3: 1, 6: 6, 7: 6}
    assert _cache_empty(spark)


def test_small_side_probe_and_cache_rule(spark):
    sc = spark.sparkContext
    df = spark.range(3).select((F.col("id") * 2).alias("x"))
    spark.catalog.clearCache()
    # at or under the threshold: the rows, and the probe cache released
    assert sorted(r["x"] for r in small_side(df, 3)) == [0, 2, 4]
    assert _cache_empty(spark)
    # over it: None, and the frame stays cached for the distributed path
    assert small_side(df, 2) is None
    assert df.storageLevel.useMemory and not _cache_empty(spark)
    df.unpersist()
    assert _cache_empty(spark)
    # threshold 0: None without a job
    sc.setJobGroup("small_side_zero", "small_side at threshold 0")
    try:
        assert small_side(df, 0) is None
        jobs = sc.statusTracker().getJobIdsForGroup
        assert list(jobs("small_side_zero")) == []
        assert _cache_empty(spark)
        small_side(df, 1)  # the group does record a probe job
        assert jobs("small_side_zero")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        df.unpersist()


def test_long_path_converges_within_log_rounds(spark):
    # 64-node path through the DISTRIBUTED loop: diameter 63, but pointer
    # jumping must converge well inside the default 25 rounds.
    edges = [(i, i + 1) for i in range(64)]
    got = _cc(spark, edges, 0)
    assert set(got.values()) == {0}


def test_max_iter_exhaustion_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(20)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(df, max_iter=1, driver_threshold=0)


def test_checkpoint_storage_stays_bounded_across_rounds(spark):
    """Each round must release the previous round's localCheckpoint blocks
    (ADVICE r3): after a multi-round distributed run, the storage manager
    must not hold one cached RDD per round."""
    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(2000)], "id_a long, id_b long"
    )
    stats: dict = {}
    out = connected_components(edges, driver_threshold=0, stats=stats)
    assert out.select("component").distinct().count() == 1
    assert stats["rounds"] >= 5  # long chain -> genuinely multi-round

    after = len(sc._jsc.sc().getRDDStorageInfo())
    # the final label frame (referenced by `out`) may legitimately remain;
    # anything O(rounds) means the release regressed
    assert after - before <= 2, (before, after, stats)


def _pagerank_reference(edges, damping=0.85, iters=10, directed=False):
    """Pure-Python power iteration with identical semantics."""
    e = set()
    for a, b in edges:
        e.add((a, b))
        if not directed:
            e.add((b, a))
    nodes = sorted({x for p in e for x in p})
    n = len(nodes)
    out = {}
    for s, d in e:
        out.setdefault(s, []).append(d)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dangling = sum(r for v, r in rank.items() if v not in out)
        base = (1 - damping) / n + damping * dangling / n
        new = {v: 0.0 for v in nodes}
        for s, ds in out.items():
            c = rank[s] / len(ds)
            for d in ds:
                new[d] += c
        rank = {v: base + damping * new[v] for v in nodes}
    return rank


def test_pagerank_matches_reference_on_star_and_cycle(spark):
    from spark_streaming_project_spark.operators.graph import pagerank

    # star: hub 0 <-> leaves 1..4, plus a disconnected 3-cycle 10-11-12
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (10, 11), (11, 12), (12, 10)]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    want = _pagerank_reference(edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    # ranks form a distribution
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # hub of the star outranks its leaves
    assert got[0] > got[1]
    # cycle nodes are symmetric
    assert got[10] == pytest.approx(got[11], abs=1e-12)


def test_pagerank_directed_dangling_mass(spark):
    from spark_streaming_project_spark.operators.graph import pagerank

    # chain 1 -> 2 -> 3 with 3 dangling
    edges = [(1, 2), (2, 3)]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["node"]: r["rank"]
           for r in pagerank(df, directed=True).collect()}
    want = _pagerank_reference(edges, directed=True)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-9), v
    assert got[3] > got[2] > got[1]  # rank accumulates down the chain


def test_triangle_stats_known_graph(spark):
    """Crafted graph: a 4-clique (4 triangles) plus a pendant chain —
    counts verified by hand against the census definitions."""
    from spark_streaming_project_spark.operators.graph import (
        degree_counts,
        triangle_stats,
    )

    # 4-clique on 1..4, chain 4-5-6
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")

    deg = {r["node"]: r["degree"] for r in degree_counts(pairs, "id_a", "id_b").collect()}
    assert deg == {1: 3, 2: 3, 3: 3, 4: 4, 5: 2, 6: 1}

    row = triangle_stats(pairs, "id_a", "id_b").first()
    assert row["n_edges"] == 8
    # wedges: 3+3+3+6+1+0 = 16
    assert row["n_wedges"] == 16
    assert row["n_triangles"] == 4
    assert abs(row["clustering"] - 3.0 * 4 / 16) < 1e-9


def test_triangle_stats_empty_graph(spark):
    from spark_streaming_project_spark.operators.graph import triangle_stats

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    row = triangle_stats(pairs, "id_a", "id_b").first()
    assert (row["n_edges"], row["n_wedges"], row["n_triangles"]) == (0, 0, 0)
    assert row["clustering"] == 0.0


# ---------------------------------------------------------------------------
# k-core peeling (operators/graph.kcore_subgraph)
# ---------------------------------------------------------------------------


def test_kcore_peels_chain_keeps_clique(spark):
    """4-clique + pendant chain: the 2-core is exactly the clique (each
    member with core degree 3); the chain peels away entirely. A
    triangle is a 2-core but NOT a 3-core."""
    from spark_streaming_project_spark.operators.graph import kcore_subgraph

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(3, 10), (10, 11), (11, 12)]
    pairs = spark.createDataFrame(clique + chain, "id_a long, id_b long")
    got = {
        r["node_id"]: r["core_degree"]
        for r in kcore_subgraph(pairs, "id_a", "id_b", k=2).collect()
    }
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    assert kcore_subgraph(tri, "id_a", "id_b", k=2).count() == 3
    assert kcore_subgraph(tri, "id_a", "id_b", k=3).count() == 0


def test_kcore_fixed_rounds_converged_on_testdata(spark):
    """The pinned 8-round peel has CONVERGED on the registered graph:
    one extra round changes nothing (so the fixed-round output equals
    the true k-core), and an empty graph survives the loop."""
    from spark_streaming_project_spark.operators.dedup import (
        ngram_jaccard_pairs_adaptive,
    )
    from spark_streaming_project_spark.operators.graph import kcore_subgraph
    from spark_streaming_project_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = ngram_jaccard_pairs_adaptive(
        docs, "text", "doc_id", n=3, threshold=0.5
    )
    r8 = {
        (r["node_id"], r["core_degree"])
        for r in kcore_subgraph(pairs, "id_a", "id_b", k=2, rounds=8).collect()
    }
    r9 = {
        (r["node_id"], r["core_degree"])
        for r in kcore_subgraph(pairs, "id_a", "id_b", k=2, rounds=9).collect()
    }
    assert r8 == r9

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert kcore_subgraph(empty, "id_a", "id_b", k=2).count() == 0


def test_pagerank_quantized_matches_integer_reference_and_float_ranking(spark):
    """Quantized PageRank equals a pure-Python integer reference EXACTLY
    (same fixed-point algorithm, independent implementation), and its
    ranking agrees with float pagerank on a star graph (hub on top)."""
    from spark_streaming_project_spark.operators.graph import (
        pagerank,
        pagerank_quantized,
    )

    edges = [(0, i) for i in range(1, 6)] + [(10, 11), (11, 12)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    q, iters = 1_000_000_000, 4
    got = {
        r["node"]: r["rank"]
        for r in pagerank_quantized(df, iters=iters, q=q).collect()
    }

    sym = set()
    for a, b in edges:
        sym.add((a, b)); sym.add((b, a))
    deg: dict = {}
    for s, d in sym:
        deg[s] = deg.get(s, 0) + 1
    rank = {n: q for n in deg}
    base = (15 * q) // 100
    for _ in range(iters):
        nxt = {n: base for n in deg}
        for s, d in sym:
            nxt[d] += (85 * rank[s]) // (100 * deg[s])
        rank = nxt
    assert got == rank

    fl = {
        r["node"]: r["rank"] for r in pagerank(df, iters=iters).collect()
    }
    # hub 0 dominates its component in both arithmetics
    assert max(got, key=got.get) == 0 and max(fl, key=fl.get) == 0

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert pagerank_quantized(empty).count() == 0


def test_local_clustering_and_assortativity_hand_graph(spark):
    """K4 plus a pendant: hand-checkable coefficients and assortativity.
    K4 nodes (1,2,3,4) each touch 3 triangles; node 5 hangs off node 4."""
    from spark_streaming_project_spark.operators.graph import (
        degree_assortativity,
        local_clustering,
    )

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    lc = {
        r["node"]: (r["degree"], r["triangles"], r["coefficient"])
        for r in local_clustering(df, "id_a", "id_b").collect()
    }
    # nodes 1-3: degree 3, 3 triangles, coef 2*3/(3*2)=1.0
    for n in (1, 2, 3):
        assert lc[n] == (3, 3, 1.0)
    # node 4: degree 4, 3 triangles, coef 6/12=0.5; node 5: pendant
    assert lc[4] == (4, 3, 0.5)
    assert lc[5] == (1, 0, 0.0)

    row = degree_assortativity(df, "id_a", "id_b").collect()[0]
    assert row["n_edges"] == 7
    import math

    xs = []
    deg = {1: 3, 2: 3, 3: 3, 4: 4, 5: 1}
    for a, b in edges:
        xs.append((deg[a], deg[b]))
        xs.append((deg[b], deg[a]))
    n = len(xs)
    sx = sum(x for x, _ in xs)
    sy = sum(y for _, y in xs)
    sxy = sum(x * y for x, y in xs)
    sxx = sum(x * x for x, _ in xs)
    syy = sum(y * y for _, y in xs)
    want = round(
        (n * sxy - sx * sy)
        / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
        6,
    )
    assert row["assortativity"] == want


# --- driver/distributed parity for the adaptive small-graph paths ----
# pagerank_quantized / kcore_subgraph / bfs_hops share the small_side
# driver path with connected_components; every operation in all three is
# exact integer/set arithmetic, so the paths must agree BIT-FOR-BIT on
# any graph (not just to a tolerance), null endpoints included. Each
# runs at the default threshold (driver path), at 1 (probed, then the
# distributed path reads the probe's cache) and at 0 (no probe), and
# must leave no cached frame behind.

NULL_EDGES = [(5, None), (None, 6)]


def _random_pairs(seed: int, n_nodes: int = 40, n_edges: int = 80):
    import random

    rng = random.Random(seed)
    out = set()
    while len(out) < n_edges:
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            out.add((min(a, b), max(a, b)))
    return sorted(out)


def _by_threshold(spark, run, key, value):
    """{key: value} of ``run(t).collect()`` for t = default, 1, 0."""
    out = []
    for t in (DRIVER_THRESHOLD, 1, 0):
        spark.catalog.clearCache()
        out.append({r[key]: r[value] for r in run(t).collect()})
        assert _cache_empty(spark), t
    return out


@pytest.mark.parametrize("seed", [1, 7])
def test_pagerank_quantized_driver_distributed_parity(spark, seed):
    from spark_streaming_project_spark.operators.graph import (
        pagerank_quantized,
    )

    df = spark.createDataFrame(
        _random_pairs(seed) + NULL_EDGES, "id_a long, id_b long"
    )
    drv, probed, dist = _by_threshold(
        spark,
        lambda t: pagerank_quantized(
            df, "id_a", "id_b", iters=4, driver_threshold=t
        ),
        "node",
        "rank",
    )
    assert drv == dist and drv
    assert probed == dist


@pytest.mark.parametrize("seed", [2, 9])
def test_kcore_driver_distributed_parity(spark, seed):
    from spark_streaming_project_spark.operators.graph import kcore_subgraph

    df = spark.createDataFrame(
        _random_pairs(seed) + NULL_EDGES, "id_a long, id_b long"
    )
    drv, probed, dist = _by_threshold(
        spark,
        lambda t: kcore_subgraph(
            df, "id_a", "id_b", k=3, rounds=8, driver_threshold=t
        ),
        "node_id",
        "core_degree",
    )
    assert drv == dist
    assert probed == dist


@pytest.mark.parametrize("seed", [3, 11])
def test_bfs_hops_driver_distributed_parity(spark, seed):
    from spark_streaming_project_spark.operators.graph import bfs_hops

    pairs = _random_pairs(seed)
    df = spark.createDataFrame(pairs + NULL_EDGES, "id_a long, id_b long")
    seeds = spark.createDataFrame(
        [(pairs[0][0],), (pairs[-1][1],), (None,)], "node_id long"
    )
    drv, probed, dist = _by_threshold(
        spark,
        lambda t: bfs_hops(
            df, "id_a", "id_b", seeds, rounds=4, driver_threshold=t
        ),
        "node_id",
        "hops",
    )
    assert drv == dist and drv
    assert probed == dist


def test_bfs_hops_seed_probe_cache_released(spark):
    # the edges fit under the threshold but the seeds do not: the second
    # probe leaves the seeds cached, and the distributed path releases them
    from spark_streaming_project_spark.operators.graph import bfs_hops

    pairs = _random_pairs(5)
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    seeds = spark.range(len(pairs) + 10).withColumnRenamed("id", "node_id")
    got = []
    for t in (DRIVER_THRESHOLD, len(pairs)):
        spark.catalog.clearCache()
        out = bfs_hops(df, "id_a", "id_b", seeds, driver_threshold=t)
        got.append({r["node_id"]: r["hops"] for r in out.collect()})
        assert _cache_empty(spark), t
    assert got[0] == got[1] and got[0]
