"""Distributed graph helpers for dedup canonicalization.

Near-dup detection emits PAIRS; production dedup needs CLUSTERS — the
transitive closure of those pairs — so each document maps to one canonical
representative (min id of its component). A greedy "drop id_b" keep-list is
not transitive: for a chain a-b, b-c it never links a and c, and which docs
survive depends on pair orientation. Connected components is the standard
answer (cf. MinHashLSH dedup pipelines; large-star/small-star in Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14).

Implementation: min-label propagation with pointer jumping (path halving) —
each round every node takes the min of (its label, its neighbors' labels,
its label's label). The extra label-of-label hop is what turns O(diameter)
rounds into O(log n): long chains collapse by halving. Per round the driver
sees ONE scalar (the monotonically decreasing label sum) for the convergence
test; label frames are persisted per round and the previous round's cache is
released, so lineage never grows past one round's plan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.partitioning import DRIVER_THRESHOLD, small_side


def _edges(df: DataFrame, src: str, dst: str, a: str, b: str) -> DataFrame:
    """``df``'s endpoints as columns ``a`` and ``b``, minus edges with a
    null endpoint. SQL joins never match a null key, and filtering before
    the :func:`small_side` probe gives the driver and distributed paths
    the same edge set, so neither emits a null node."""
    return df.select(F.col(src).alias(a), F.col(dst).alias(b)).filter(
        F.col(a).isNotNull() & F.col(b).isNotNull()
    )


def _driver_frame(
    proj: DataFrame,
    node: str,
    value: str,
    vtype: T.DataType | None,
    items: list,
    *more: DataFrame,
) -> DataFrame:
    """The driver path's result frame of ``(node, value)`` ``items``.

    The node type is widened over both endpoint columns of ``proj`` (and
    the single column of each frame in ``more``, e.g. the seeds), as the
    distributed path's union widens it. ``vtype=None`` types the value
    column like the node column."""
    cols = [proj.select(F.col(c).alias(node)) for c in proj.columns]
    cols += [m.select(F.col(m.columns[0]).alias(node)) for m in more]
    node_f = reduce(DataFrame.unionByName, cols).schema.fields[0]
    schema = T.StructType(
        [node_f, T.StructField(value, vtype or node_f.dataType, True)]
    )
    return proj.sparkSession.createDataFrame(items, schema)


def _release_checkpoint(df: DataFrame) -> None:
    """Free the storage blocks behind a ``localCheckpoint(eager=True)`` frame.

    ``Dataset.unpersist`` only clears cache-manager entries, not checkpoint
    blocks; the blocks belong to the RDD inside the checkpoint's LogicalRDD
    scan. Best-effort: if the internal shape ever changes, the ContextCleaner
    still reclaims blocks on GC — this just makes release deterministic so
    checkpoint storage stays O(1) rounds instead of O(rounds).
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        plan.rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = DRIVER_THRESHOLD,
    stats: dict | None = None,
    symmetrized: bool = False,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; ``component``
    is the minimum node id reachable through any chain of edges. Edges
    with a null endpoint are dropped.

    Adaptive physical strategy (:func:`small_side`):

    - **small edge sets** (≤ ``driver_threshold`` rows) collapse in a
      driver-side union-find — a dedup pair graph is usually tiny
      relative to its corpus, and ~5 distributed rounds of fixed job
      overhead would dwarf the microseconds of actual work;
    - **large edge sets** run the distributed loop: every round is two
      equi-joins + a keyed min aggregate, all hash-partitioned on node id —
      no driver-side graph, no crossJoin. Rounds needed = O(log n) thanks
      to pointer jumping; real dedup graphs (many small near-clique
      clusters) converge in 2-4 rounds. Raises RuntimeError if ``max_iter``
      rounds don't converge rather than returning a partially propagated
      (wrong) labeling.

    Both paths produce identical labelings (property-tested, null
    endpoints included); pass ``driver_threshold=0`` to force the
    distributed path. When a ``stats`` dict is supplied it receives
    ``{"rounds": n, "path": ...}`` — the scale-stress harness uses it to
    pin the O(log n) round claim on pathological topologies (long chain,
    giant component).
    """
    sym = _edges(edges, src, dst, "u", "v")
    rows = small_side(sym, driver_threshold)
    if rows is not None:
        if stats is not None:
            stats["path"] = "driver"
            stats["rounds"] = 0
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in rows:
            ru, rv = find(u), find(v)
            if ru != rv:  # min root wins -> roots are component minima
                parent[max(ru, rv)] = min(ru, rv)
        return _driver_frame(
            sym, "u", "component", None, [(x, find(x)) for x in parent]
        )

    # symmetrized=True: the caller already provides BOTH edge directions
    # (e.g. a pre-written bucketed table, connected_components_bucketed) —
    # skipping the union preserves the input's physical layout, which is
    # the whole point of feeding a bucketed scan: the per-round join on
    # "v" then needs no Exchange on the edge side.
    base = None
    if not symmetrized:
        # r13: the symmetrizing union consumes the caller's pipeline
        # twice — persist it so it runs once (see pagerank)
        base = sym.persist()
        sym = base.union(
            base.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    sym = sym.persist()

    try:
        # localCheckpoint (not persist): each round's frame must TRUNCATE
        # lineage, or the logical plan nests one level per round and analysis
        # stack-overflows after ~6 rounds. r13 (guide §1.2 — one action per
        # round, not two): the checkpoint is LAZY; the convergence-sum
        # aggregate right below is the action that materializes it, so each
        # round costs ONE job instead of an eager-checkpoint job plus a
        # separate sum job. The previous round's blocks are released only
        # after the new round's sum has materialized it, so checkpoint
        # storage stays O(1) rounds and no round recomputes predecessors.
        lbl = (
            sym.select("u")
            .distinct()
            .withColumn("lbl", F.col("u"))
            .localCheckpoint(eager=False)
        )
        if stats is not None:
            stats["path"] = "distributed"
        prev_sum = lbl.agg(F.sum("lbl")).collect()[0][0]
        if prev_sum is None:  # empty edge set
            return lbl.select("u", F.col("lbl").alias("component"))

        for _round in range(max_iter):
            if stats is not None:
                stats["rounds"] = _round + 1
            nmin = (
                sym.join(lbl.select(F.col("u").alias("v"), "lbl"), "v")
                .groupBy("u")
                .agg(F.min("lbl").alias("_nlbl"))
            )
            stepped = lbl.join(nmin, "u", "left").select(
                "u", F.least("lbl", F.coalesce("_nlbl", "lbl")).alias("lbl")
            )
            # pointer jumping: also adopt the label of the current label
            hop = stepped.select(F.col("u").alias("_t"), F.col("lbl").alias("_tl"))
            new = (
                stepped.join(hop, stepped["lbl"] == hop["_t"], "left")
                .select("u", F.least("lbl", F.coalesce("_tl", "lbl")).alias("lbl"))
                .localCheckpoint(eager=False)
            )
            # labels only ever decrease, so an unchanged sum == convergence;
            # this one scalar is all that reaches the driver per round — and
            # the sum is also the action that materializes the lazy
            # checkpoint above (one job per round, r13).
            new_sum = new.agg(F.sum("lbl")).collect()[0][0]
            _release_checkpoint(lbl)  # new is materialized; round N-1 blocks free
            lbl = new
            if new_sum == prev_sum:
                return lbl.select("u", F.col("lbl").alias("component"))
            prev_sum = new_sum
    finally:
        sym.unpersist()
        if base is not None:
            base.unpersist()

    raise RuntimeError(
        f"connected_components: no convergence after {max_iter} rounds "
        f"(pathological graph or max_iter too small)"
    )


def connected_components_bucketed(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    table: str = "cc_edges_bucketed",
    num_buckets: int = 16,
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Write-once bucketed co-located connected components (VERDICT r8
    ask #7): persist the SYMMETRIZED edge list as a parquet table
    bucketed (and sorted) by ``v`` — the per-round join key — then run
    the pointer-jumping loop over the bucketed scan.

    Why: in the plain loop every round re-Exchanges the EDGE-sized frame
    to join labels on ``v`` (the cached pair graph carries the pair
    generator's partitioning, not the join key's). A bucketed scan
    reports HashPartitioning(v, num_buckets), so the edge side joins with
    NO Exchange in every round — only the node-sized label frame
    shuffles. The bucketing shuffle is paid ONCE at the write; at 100 TB
    that is the classic ingest-amortized layout (the edge list is the
    data-sized side; labels are node-sized). Exchange counts are pinned
    in tests/test_plan_audit.py.
    """
    from ..sources.bucketed import write_bucketed

    spark = edges.sparkSession
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    write_bucketed(sym, table, ["v"], num_buckets, sort_keys=["v"])
    symb = spark.table(table)
    return connected_components(
        symb,
        "u",
        "v",
        max_iter=max_iter,
        driver_threshold=0,  # the point is the distributed loop's layout
        stats=stats,
        symmetrized=True,
    )


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    damping: float = 0.85,
    iters: int = 10,
    directed: bool = False,
) -> DataFrame:
    """Power-iteration PageRank over an edge list (undirected edges are
    symmetrized). Returns (node, rank) with ranks summing to ~1.

    Distributed shape (the connected-components coordination pattern):
    per round ONE join (ranks x out-edges) + one keyed sum; the dangling
    mass is a single scalar aggregate to the driver (nodes with no
    out-edges redistribute uniformly); lineage truncates per round via
    localCheckpoint with the previous round's blocks freed, so ``iters``
    rounds cost O(1) plan depth and checkpoint storage each. Fixed
    iteration count, no convergence collect beyond the scalar — at 10^12
    edges each round is exactly one shuffle on dst.

    No SQL oracle can replay the iteration (like k-means/BPE) — pytest
    pins hand-checkable graphs and a pure-Python reference to 1e-9.
    """
    # r13: symmetrizing consumes ``edges`` twice (both orientations) —
    # persist the caller's pipeline so an expensive upstream pair
    # generator (e.g. the banded MinHash pass in neardup_centrality)
    # runs once, not twice (guide §1.2; block locks make the cached
    # partitions compute-once even under the union's concurrent reads).
    if not directed:
        edges = edges.persist()
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))
        )
    e = e.distinct().persist()
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    deg = e.groupBy("_s").agg(F.count("*").alias("_deg"))
    # r13 (guide §3.4 loop-invariant hoist): (edge, source-degree) never
    # changes across rounds — join it ONCE and persist, instead of the old
    # per-round ranks⋈deg then ⋈edges chain. Per-edge arithmetic is
    # unchanged (still rank/_deg on the same rows), so results are
    # identical; the per-round plan drops one node-sized join.
    ew = e.join(deg, "_s").select("_s", "_d", "_deg").persist()
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    ranks = ranks.localCheckpoint()
    last_ckpt = ranks
    try:
        for _i in range(iters):
            if directed:
                # dangling mass: ONE scalar per round (nodes with no
                # out-edges redistribute uniformly)
                dangling = (
                    ranks.join(
                        deg, ranks["node"] == deg["_s"], "left_anti"
                    )
                    .agg(F.sum("rank"))
                    .collect()[0][0]
                    or 0.0
                )
            else:
                # symmetrized graphs have no dangling nodes BY
                # CONSTRUCTION (every node in ``nodes`` appears as a
                # source in ``e``), so the old per-round dangling job
                # always returned exactly 0.0 — skip the 1 job/round
                # (guide §1: don't pay for work whose answer is known).
                dangling = 0.0
            contribs = (
                ew.join(
                    ranks.select(F.col("node").alias("_s"), "rank"), "_s"
                )
                .select(
                    F.col("_d").alias("node"),
                    (F.col("rank") / F.col("_deg")).alias("_c"),
                )
                .groupBy("node")
                .agg(F.sum("_c").alias("_in"))
            )
            base = (1.0 - damping) / n_nodes + damping * dangling / n_nodes
            ranks = nodes.join(contribs, "node", "left").select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
            # r13 (guide §1.2/§2.6 — fewer sequential driver barriers):
            # truncate lineage every SECOND round instead of every round.
            # ``ranks`` is referenced exactly once per round (the contribs
            # join; ``nodes`` is a separate persisted frame), so the
            # un-checkpointed intermediate round nests linearly — plan
            # depth 2, no recompute fan-out — and the eager checkpoint
            # (one driver-coordinated job each) fires half as often. The
            # per-edge arithmetic is untouched, so ranks are identical.
            # Directed graphs keep the per-round truncation: the dangling
            # collect is a per-round ACTION on ``ranks`` and would
            # re-execute the open lineage.
            if directed or (_i + 1) % 2 == 0 or _i == iters - 1:
                ranks = ranks.localCheckpoint()
                _release_checkpoint(last_ckpt)
                last_ckpt = ranks
    finally:
        e.unpersist()
        nodes.unpersist()
        ew.unpersist()
        if not directed:
            edges.unpersist()
    return ranks


def degree_counts(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Per-node degree of an undirected, deduplicated edge list (each edge
    once, ``src < dst``). One union + one combinable groupBy — the exchange
    is keyed by node, so skew follows the graph's own degree skew (bounded
    here by LSH band sizes upstream). Returns (node, degree)."""
    nodes = pairs.select(F.col(src).alias("node")).unionAll(
        pairs.select(F.col(dst).alias("node"))
    )
    return nodes.groupBy("node").agg(F.count("*").alias("degree"))


def triangle_stats(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Global triangle census of an undirected edge list (edges stored once
    with ``src < dst``): edge count, wedge count (sum of d*(d-1)/2), triangle
    count, and the global clustering coefficient 3T/W.

    Triangle enumeration uses the oriented a<b<c join (each triangle counted
    exactly once, no orientation step needed because the input is already
    min-max ordered). Scale shape: two self-joins keyed on node ids — the
    classic MapReduce triangle join; at web scale you'd pre-bucket the edge
    list by both endpoints so the joins co-locate (sources/bucketed.py
    provides that), and the near-dup graphs this runs on are banded-LSH
    outputs, orders of magnitude smaller than the corpus.

    Returns a single row (n_edges, n_wedges, n_triangles, clustering).

    ``pairs`` is persisted (same reasoning as degree_assortativity): the
    plan reads it six ways (three triangle-join copies, two degree
    orientations, the edge count), and an un-materialized banded pair
    pipeline would re-run per consumer. Cache lifetime: the persisted
    input outlives the returned LAZY frame, so it cannot be unpersisted
    here — callers composing several graph ops outside the bench harness
    (which calls ``spark.catalog.clearCache()`` between queries) should
    ``pairs.unpersist()`` after materializing the result.
    """
    pairs = pairs.persist()
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    deg = degree_counts(pairs, src, dst)
    wedges = deg.agg(
        F.sum(F.expr("degree * (degree - 1) div 2")).alias("n_wedges")
    )
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tris = (
        e.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    edges = e.agg(F.count("*").alias("n_edges"))
    return (
        edges.crossJoin(wedges)
        .crossJoin(tris)
        .select(
            "n_edges",
            F.coalesce("n_wedges", F.lit(0)).cast("long").alias("n_wedges"),
            "n_triangles",
            F.round(
                F.when(
                    F.coalesce("n_wedges", F.lit(0)) > 0,
                    3.0
                    * F.col("n_triangles").cast("double")
                    / F.col("n_wedges").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering"),
        )
    )


def kcore_subgraph(
    pairs: DataFrame,
    src: str,
    dst: str,
    k: int = 3,
    rounds: int = 8,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """``k``-core of the (undirected) pair graph by FIXED-ROUND peeling:
    repeatedly drop nodes with degree < k and the edges touching them.
    After enough rounds the subgraph is stable and equals the true k-core;
    pinning ``rounds`` (instead of a data-dependent convergence loop)
    keeps the whole computation a static dataflow, so it unrolls into SQL
    CTEs and replays exactly in any engine — callers assert convergence
    separately (one extra round changing nothing). Dedup reading: k-core
    members sit in densely duplicated regions (template farms), while
    chains and stars peel away — the signal that separates "crawled the
    same boilerplate" from "copied this specific document".

    Scale shape per round: one degree aggregate + two semi-join prunes,
    all keyed on node ids — the same join family as the census above; the
    edge set only SHRINKS, so later rounds cost less. Returns
    (node_id, core_degree) for surviving nodes; edges with a null
    endpoint are dropped.

    Pair graphs of at most ``driver_threshold`` rows peel driver-side
    (:func:`small_side`); every round is exact set/integer arithmetic, so
    the two paths are bit-identical. ``driver_threshold=0`` forces the
    distributed loop.
    """
    proj = _edges(pairs, src, dst, "a", "b")
    rows = small_side(proj, driver_threshold)
    if rows is not None:
        sym = set()
        for a, b in rows:
            if a != b:
                sym.add((a, b))
                sym.add((b, a))
        for _ in range(rounds):
            deg: dict = {}
            for a, _b in sym:
                deg[a] = deg.get(a, 0) + 1
            keep = {n for n, d in deg.items() if d >= k}
            sym = {(a, b) for a, b in sym if a in keep and b in keep}
        core: dict = {}
        for a, _b in sym:
            core[a] = core.get(a, 0) + 1
        return _driver_frame(
            proj, "node_id", "core_degree", T.LongType(), sorted(core.items())
        )

    # ``edges`` is consumed twice by the symmetrizing union —
    # persist so the upstream pair pipeline runs once (see pagerank)
    edges = (
        proj
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    # each round references the previous edge set THREE times (degree agg
    # + two semi-joins), so an un-truncated unroll grows the logical plan
    # 3^rounds — checkpoint per round (same discipline as
    # connected_components; previous blocks freed as we go)
    sym = sym.localCheckpoint(eager=True)
    edges.unpersist()  # sym is materialized; the input cache can go
    proj.unpersist()  # and so can the probe's
    for _ in range(rounds):
        deg = sym.groupBy("a").agg(F.count("*").alias("_dg"))
        keep = deg.filter(F.col("_dg") >= k).select("a")
        nxt = sym.join(keep, "a").join(
            keep.select(F.col("a").alias("b")), "b"
        ).localCheckpoint(eager=True)
        _release_checkpoint(sym)
        sym = nxt
    return (
        sym.groupBy("a")
        .agg(F.count("*").alias("core_degree"))
        .select(F.col("a").alias("node_id"), "core_degree")
    )


def pagerank_quantized(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 4,
    q: int = 1_000_000_000,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """Integer-quantized PageRank: ranks live in fixed-point units of
    ``1/q`` node-mass and every operation — the 0.85 damping, the
    out-degree split, the teleport — is exact integer arithmetic
    (``(85 * r) div (100 * deg)``), so the whole power iteration is
    deterministic, summation-order-free, and replays bit-for-bit as
    unrolled SQL CTEs (the logreg/k-core exactness recipe applied to the
    one batch-graph tier that was still oracle-less; float
    :func:`pagerank` remains the reference algorithm, pytest-pinned).

    Semantics note: integral division drops sub-unit remainders, so total
    mass decays by < 1 unit per node per round — a deterministic bias
    orders of magnitude below rank gaps at any practical ``q``; node set
    is the edge endpoints (symmetrized undirected graph: no dangling
    nodes by construction). Per round: one join + one keyed integer sum,
    lineage checkpoint-truncated. Returns (node, rank) in 1/q units.

    Edge sets of at most ``driver_threshold`` rows run the power loop
    driver-side (:func:`small_side`); every operation is exact integer
    arithmetic, so the two paths are bit-identical. Edges with a null
    endpoint are dropped. ``driver_threshold=0`` forces the distributed
    loop (the 100 TB path: one shuffle per round).
    """
    proj = _edges(edges, src, dst, "u", "v")
    rows = small_side(proj, driver_threshold)
    if rows is not None:
        sym = set()
        for u, v in rows:
            sym.add((u, v))
            sym.add((v, u))
        deg: dict = {}
        for s, _d in sym:
            deg[s] = deg.get(s, 0) + 1
        base = (15 * q) // 100
        ranks = {n: q for n in deg}
        for _ in range(iters):
            contrib: dict = {}
            for s, d in sym:
                # same integral div as the SQL expression: operands
                # are positive, so // == div exactly
                contrib[d] = contrib.get(d, 0) + (85 * ranks[s]) // (
                    100 * deg[s]
                )
            ranks = {n: base + contrib.get(n, 0) for n in deg}
        return _driver_frame(
            proj, "node", "rank", T.LongType(), sorted(ranks.items())
        )

    proj.persist()  # the symmetrizing union reads it twice
    e = proj.select(F.col("u").alias("_s"), F.col("v").alias("_d"))
    e = e.unionByName(
        proj.select(F.col("v").alias("_s"), F.col("u").alias("_d"))
    ).distinct().persist()
    deg = e.groupBy("_s").agg(F.count("*").alias("_deg"))
    # r13: the (edge, source-degree) join is loop-invariant — build it
    # once instead of re-joining e⋈deg every round (guide §3.4); the
    # per-edge integer expression below is unchanged.
    ew = e.join(deg, "_s").select("_s", "_d", "_deg").persist()
    ranks = deg.select(
        F.col("_s").alias("node"), F.lit(q).cast("long").alias("rank")
    ).localCheckpoint(eager=True)
    base = (15 * q) // 100
    # NOTE r13: the float :func:`pagerank` truncates lineage every SECOND
    # round (measured ~10% win); the same batching was micro-benchmarked
    # here (/tmp-level A/B, OPTIMIZATION_r13.md) and read neutral-to-worse
    # — the 4-round integer loop is shuffle-bound, not barrier-bound — so
    # this loop deliberately keeps the per-round eager checkpoint.
    for _ in range(iters):
        contrib = (
            ew
            .join(ranks.withColumnRenamed("node", "_s"), "_s")
            .select(
                F.col("_d").alias("node"),
                F.expr("(85 * rank) div (100 * _deg)").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_in"))
        )
        nxt = (
            ranks.select("node")
            .join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce("_in", F.lit(0)))
                .cast("long")
                .alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        _release_checkpoint(ranks)
        ranks = nxt
    e.unpersist()
    ew.unpersist()
    proj.unpersist()
    return ranks


def local_clustering(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Per-node local clustering coefficient of an undirected edge list
    (edges stored once, ``src < dst``): (node, degree, triangles,
    coefficient = 2T_v / d_v(d_v - 1), 0 when degree < 2).

    The node-level refinement of ``triangle_stats``' global 3T/W: a
    node-level coefficient near 1 marks clique members (true duplicate
    groups); low-coefficient high-degree nodes are hubs stitching
    unrelated docs — exactly the rows a dedup reviewer audits first.
    Same oriented a<b<c triangle join, then each triangle credits its
    three corners via one explode; per-node counts join the degree
    frame. Divisions are single double ops over exact integers.

    ``pairs`` is persisted (same reasoning as degree_assortativity /
    triangle_stats): five consumers, one expensive upstream pipeline.
    Cache lifetime: the persisted input outlives the returned LAZY frame —
    callers outside the bench harness (which clearCache()s between
    queries) should ``pairs.unpersist()`` after materializing."""
    pairs = pairs.persist()
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    corners = (
        e.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    deg = degree_counts(pairs, src, dst)
    return deg.join(corners, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
        F.round(
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.coalesce("triangles", F.lit(0)).cast("double")
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("coefficient"),
    )


def degree_assortativity(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Degree assortativity of an undirected edge list: Pearson
    correlation of endpoint degrees over BOTH orientations of every edge
    (the standard definition). Positive: hubs pair with hubs (dense
    template farms); negative: hubs stitch leaves (star-shaped
    boilerplate). All sums are DECIMAL(38,0)-exact over integer degrees
    with one terminal double expression — order-free, engine-exact.
    Returns one row (n_edges, assortativity; NULL when degenerate).

    ``pairs`` is persisted here: the plan consumes it four ways (degree
    counts over both endpoint columns + both orientations of the edge
    union), and when the caller passes the banded near-dup pair pipeline
    un-materialized, Spark would re-run that whole pass per consumer —
    measured as the widest jitter band on the bench board (3.4-11.1 s at
    sf0.1 depending on heap pressure). Cache lifetime is bounded by the
    harness-level clearCache (ROADMAP r09 unpersist adjudication)."""
    pairs = pairs.persist()
    deg = degree_counts(pairs, src, dst)
    du = deg.select(F.col("node").alias("_u"), F.col("degree").alias("dx"))
    dv = deg.select(F.col("node").alias("_v"), F.col("degree").alias("dy"))
    directed = pairs.select(
        F.col(src).alias("_u"), F.col(dst).alias("_v")
    ).unionAll(
        pairs.select(F.col(dst).alias("_u"), F.col(src).alias("_v"))
    )
    xy = directed.join(du, "_u").join(dv, "_v")
    dec = lambda c: c.cast("decimal(38,0)")
    agg = xy.agg(
        F.count("*").alias("n"),
        F.sum(dec(F.col("dx"))).alias("sx"),
        F.sum(dec(F.col("dy"))).alias("sy"),
        F.sum(dec(F.col("dx") * F.col("dy"))).alias("sxy"),
        F.sum(dec(F.col("dx") * F.col("dx"))).alias("sxx"),
        F.sum(dec(F.col("dy") * F.col("dy"))).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    vx = n * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    vy = n * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    return agg.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.round(
            F.when((vx > 0) & (vy > 0), num / F.sqrt(vx * vy)), 6
        ).alias("assortativity"),
    )


def bfs_hops(
    pairs: DataFrame,
    src: str,
    dst: str,
    seeds: DataFrame,
    rounds: int = 4,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> DataFrame:
    """Multi-source BFS: for every node reachable from ``seeds`` within
    ``rounds`` hops over the undirected ``pairs`` edge set, the exact
    hop distance to the NEAREST seed. Unreached nodes are absent (inner
    semantics). ``seeds`` is a one-column frame named ``node_id``; null
    seeds and edges with a null endpoint are dropped.

    Shape: the classic frontier relaxation unrolled a fixed number of
    rounds — each round is ONE equi-join of the edge set against the
    current distance frame plus a min-aggregate, and the distance frame
    never exceeds |reachable nodes|. Fixed unrolling (same rounds, same
    answer on any engine) is what makes the DuckDB oracle an exact twin;
    at 100 TB you would add a convergence check on the frontier count,
    which is a bounded driver-side aggregate per round.

    When both the pair graph and the seed set have at most
    ``driver_threshold`` rows (:func:`small_side`), the relaxation runs
    driver-side with the same per-round batch-min update, so the two
    paths are bit-identical. ``driver_threshold=0`` forces the
    distributed loop.
    """
    proj = _edges(pairs, src, dst, "a", "b")
    seed_ids = seeds.select("node_id").filter(F.col("node_id").isNotNull())
    rows = small_side(proj, driver_threshold)
    seed_rows = None
    if rows is not None:
        seed_rows = small_side(seed_ids, driver_threshold)
    if seed_rows is not None:
        sym = set()
        for a, b in rows:
            sym.add((a, b))
            sym.add((b, a))
        dist = {s: 0 for (s,) in seed_rows}
        for _ in range(rounds):
            nxt = dict(dist)
            for a, b in sym:
                if a in dist:
                    cand = dist[a] + 1
                    if b not in nxt or cand < nxt[b]:
                        nxt[b] = cand
            dist = nxt
        return _driver_frame(
            proj, "node_id", "hops", T.IntegerType(), sorted(dist.items()),
            seed_ids,
        )

    proj.persist()  # the symmetrizing union reads it twice
    # checkpoint the edge set once and each round's distance frame:
    # dist_r references dist_{r-1} twice (carry + expansion) and edges
    # once, so an unchecked unroll recomputes the upstream pair
    # generator 2^rounds times (measured 67 s at sf0.1 before this; the
    # same lineage discipline as kcore_subgraph / connected_components)
    edges = (
        proj
        .unionByName(
            proj.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    proj.unpersist()  # edges is materialized; the input cache can go
    dist = seed_ids.select(
        F.col("node_id"), F.lit(0).cast("int").alias("hops")
    ).localCheckpoint(eager=True)
    seed_ids.unpersist()
    for _ in range(rounds):
        expanded = edges.join(
            dist, edges["a"] == dist["node_id"]
        ).select(
            F.col("b").alias("node_id"),
            (F.col("hops") + 1).cast("int").alias("hops"),
        )
        nxt = (
            dist.unionByName(expanded)
            .groupBy("node_id")
            .agg(F.min("hops").alias("hops"))
            .localCheckpoint(eager=True)
        )
        _release_checkpoint(dist)
        dist = nxt
    _release_checkpoint(edges)
    return dist
