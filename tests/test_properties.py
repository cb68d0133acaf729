"""Property-based invariants (hypothesis) for the operators whose edge cases
bit us in review: top-N residuals must conserve totals on ANY input,
connected components must equal a reference union-find on ANY graph, and
epoch conversion must agree across timestamp flavors on ANY instant.

Example counts are kept small — every example is a real Spark job — but the
generators hit the nasty regions deliberately (NULL keys, duplicate keys,
keys equal to the residual label, self-loops, disconnected nodes)."""

from __future__ import annotations

import pytest

import datetime

from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from spark_streaming_project_spark.operators.graph import connected_components
from spark_streaming_project_spark.operators.topk import top_n_with_other

# derandomize=True: property findings must be reproducible run-to-run
# (VERDICT r5 #1c — the NULL tie-break red was drawn probabilistically, so
# the suite was flaky by construction; every falsifying example found that
# way is also pinned below as an explicit @example).
SETTINGS = settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.one_of(st.none(), st.sampled_from(["a", "b", "c", "d", "Autres"]))
rows = st.lists(st.tuples(keys, st.integers(0, 1000)), min_size=1, max_size=30)


@given(data=rows, n=st.integers(1, 5))
# r5's Hypothesis-found red: on a count tie a NULL key must NOT beat a real
# key (operator now uses asc_nulls_last, matching DuckDB's ASC default).
@example(data=[(None, 0), ("a", 0)], n=1)
@SETTINGS
@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_top_n_with_other_conserves_totals(spark, data, n):
    df = spark.createDataFrame(data, "k string, cnt long")
    out = top_n_with_other(df, "k", "cnt", n).collect()
    # grand total conserved for any input (NULLs, dup keys, label collisions)
    assert sum(r["cnt"] for r in out) == sum(c for _, c in data)
    # at most n winners + one residual row, one row per output key
    assert len(out) <= n + 1
    out_keys = [r["k"] for r in out]
    assert len(out_keys) == len(set(out_keys))
    # winners are the true top-n of the per-key sums
    sums: dict = {}
    for k, c in data:
        sums[k] = sums.get(k, 0) + c
    ranked = sorted(sums.items(), key=lambda t: (-t[1], t[0] is None, t[0] or ""))
    winner_counts = {k: v for k, v in ranked[:n]}
    for k, v in winner_counts.items():
        got = {r["k"]: r["cnt"] for r in out}
        if k != "Autres":  # label collisions merge into the residual row
            assert got[k] == v


# null endpoints included: an edge with a null endpoint is no edge, on
# the driver and the distributed path alike
node = st.one_of(st.integers(0, 15), st.none())
edges = st.lists(st.tuples(node, node), min_size=0, max_size=25)


def _union_find(pairs):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical = min of component
    return {x: find(x) for x in parent}


@given(pairs=edges)
@SETTINGS
@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_connected_components_matches_union_find(spark, pairs):
    df = spark.createDataFrame(pairs or [(0, 0)], "id_a long, id_b long")
    if not pairs:
        df = df.limit(0)
    # driver_threshold=0 forces the distributed loop — comparing the
    # driver union-find fast path against itself would prove nothing
    got = {
        r["u"]: r["component"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    # roots are component minima by construction (max root reparented under
    # min root on every union), and the final find() fully resolves chains
    want = _union_find(pairs)
    assert got == want


instants = st.datetimes(
    min_value=datetime.datetime(1971, 1, 1),
    max_value=datetime.datetime(2100, 1, 1),
)


@given(ts=st.lists(instants, min_size=1, max_size=20))
@SETTINGS
def test_epoch_seconds_flavors_agree(spark, ts):
    from spark_streaming_project_spark.functions.timeutil import epoch_seconds

    df = spark.createDataFrame([(t.isoformat(sep=" "),) for t in ts], "s string").select(
        F.col("s").cast("timestamp").alias("ltz"),
        F.col("s").cast("timestamp_ntz").alias("ntz"),
    )
    rows_ = df.select(
        epoch_seconds(df, "ltz").alias("a"), epoch_seconds(df, "ntz").alias("b")
    ).collect()
    for r, t in zip(rows_, ts):
        want = int(t.replace(tzinfo=datetime.timezone.utc).timestamp())
        assert r["a"] == want and r["b"] == want


# ---------------------------------------------------------------------------
# Join operators vs brute-force references: asof_join and range_join_binned
# have the subtlest semantics in the tree (tie-breaks, boundary inclusivity,
# bucket fan-out) — random inputs vs an O(n*m) python oracle pin them.
# ---------------------------------------------------------------------------

ts_vals = st.integers(0, 50)
ids = st.integers(0, 3)

left_rows = st.lists(
    st.tuples(ids, ts_vals, st.integers(1000, 1999)), min_size=1, max_size=15
)
right_rows = st.lists(
    st.tuples(ids, ts_vals, st.integers(2000, 2999)), min_size=0, max_size=15
)


@given(left=left_rows, right=right_rows)
@SETTINGS
@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_asof_join_matches_bruteforce(spark, left, right):
    from spark_streaming_project_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(left, "k long, lts long, lid long")
    rdf = spark.createDataFrame(right, "k long, rts long, rid long")
    nkey = lambda t: tuple((x is None, 0 if x is None else x) for x in t)
    got = sorted(
        (
            (r["k"], r["lts"], r["lid"], r["rid"])
            for r in asof_join(
                ldf, rdf, on="k", left_ts="lts", right_ts="rts",
                right_tiebreak="rid",
            ).collect()
        ),
        key=nkey,
    )
    want = []
    for k, lts, lid in left:
        cands = [(rts, rid) for (rk, rts, rid) in right if rk == k and rts <= lts]
        want.append((k, lts, lid, max(cands)[1] if cands else None))
    # multiset compare: duplicate left rows (even cross-key id collisions)
    # each produce exactly one output row
    assert got == sorted(want, key=nkey)


intervals = st.lists(
    st.tuples(ids, ts_vals, st.integers(0, 20), st.integers(3000, 3999)),
    min_size=0,
    max_size=10,
)


@given(points=left_rows, ivals=intervals, bucket=st.sampled_from([1, 3, 7, 100]))
@SETTINGS
@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_range_join_binned_matches_bruteforce(spark, points, ivals, bucket):
    from pyspark.sql import functions as F

    from spark_streaming_project_spark.operators.joins import range_join_binned

    pdf = spark.createDataFrame(points, "k long, ts long, pid long")
    pdf = pdf.select("k", F.timestamp_seconds("ts").alias("ts"), "pid")
    idf = spark.createDataFrame(
        [(k, s, s + w, iid) for (k, s, w, iid) in ivals],
        "k long, s long, e long, iid long",
    ).select(
        "k",
        F.timestamp_seconds("s").alias("s"),
        F.timestamp_seconds("e").alias("e"),
        "iid",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join_binned(
            pdf, idf, on="k", ts_col="ts", start_col="s", end_col="e",
            bucket_seconds=bucket,
        ).collect()
    )
    want = sorted(
        (pid, iid)
        for (pk, pts, pid) in points
        for (ik, s, w, iid) in ivals
        if pk == ik and s <= pts < s + w
    )
    assert got == want


# ---------------------------------------------------------------------------
# round-4 session-3 operators
# ---------------------------------------------------------------------------

_event_rows = st.lists(
    st.tuples(
        st.integers(0, 5),                 # user
        st.integers(0, 10_000),            # seconds offset
        st.sampled_from(["view", "click", "purchase", "error"]),
    ),
    min_size=1,
    max_size=40,
)


@given(data=_event_rows)
@SETTINGS
@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_funnel_counts_monotone_for_any_events(spark, data):
    """Funnel stage counts are non-increasing for ANY event set, and every
    count is bounded by the distinct-user count."""
    from spark_streaming_project_spark.operators.funnel import funnel_conversion

    ev = spark.createDataFrame(
        [
            (i, datetime.datetime(2024, 1, 1)
             + datetime.timedelta(seconds=s), u, t, 0.0)
            for i, (u, s, t) in enumerate(data)
        ],
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double",
    )
    rows = (
        funnel_conversion(ev, ["view", "click", "purchase"])
        .orderBy("stage_idx")
        .collect()
    )
    users = [r["users"] for r in rows]
    assert users == sorted(users, reverse=True)
    n_users = ev.select("user_id").distinct().count()
    assert all(0 <= u <= n_users for u in users)


_key_sets = st.lists(st.integers(0, 10_000), min_size=1, max_size=50)


@given(dim_keys=_key_sets, fact_keys=_key_sets)
@SETTINGS
@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_bloom_never_drops_a_match(spark, dim_keys, fact_keys):
    """For ANY key sets, bloom pruning keeps every fact row whose key
    exists in the dimension (zero false negatives) — the property that
    makes the runtime filter safe to apply blindly."""
    from spark_streaming_project_spark.operators.joins import (
        bloom_build,
        bloom_prune,
    )

    dim = spark.createDataFrame([(k,) for k in dim_keys], "k bigint")
    fact = spark.createDataFrame([(k,) for k in fact_keys], "k bigint")
    bloom = bloom_build(dim, "k", bits_log2=12)
    kept = {r["k"] for r in bloom_prune(fact, "k", bloom, bits_log2=12).collect()}
    must_keep = set(fact_keys) & set(dim_keys)
    assert must_keep <= kept


@given(
    vals=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
        min_size=3,
        max_size=40,
    )
)
@SETTINGS
def test_winsorized_mean_is_bounded_by_raw_extremes(spark, vals):
    """The winsorized mean always lies within [min, max] of the raw data,
    and clamp counts never exceed the row count."""
    from spark_streaming_project_spark.plans.events import value_winsorized
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp()
    base = datetime.datetime(2024, 1, 1)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(vals)), pa.int64()),
                "ts": pa.array(
                    [base + datetime.timedelta(seconds=i) for i in range(len(vals))],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1] * len(vals), pa.int64()),
                "event_type": pa.array(["view"] * len(vals), pa.string()),
                "value": pa.array(vals, pa.float64()),
                "props": pa.array(["{}"] * len(vals), pa.string()),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    row = value_winsorized(spark, d).collect()[0]
    assert min(vals) - 1e-6 <= row["winsorized_mean"] <= max(vals) + 1e-6
    assert 0 <= row["clamped_low"] <= len(vals)
    assert 0 <= row["clamped_high"] <= len(vals)
    assert row["n"] == len(vals)


sizes_rows = st.lists(
    st.tuples(
        st.sampled_from([f"s{i}" for i in range(8)]), st.integers(1, 10**9)
    ),
    min_size=1,
    max_size=8,
    unique_by=lambda t: t[0],
)


@given(data=sizes_rows, k=st.integers(1, 500))
@SETTINGS
@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_temperature_targets_always_hand_out_exactly_k(spark, data, k):
    """Largest-remainder apportionment: for ANY positive integer sizes
    and ANY k, the targets sum to exactly k, every target is
    non-negative, and a larger source never gets a smaller quota."""
    from spark_streaming_project_spark.operators.sampling import (
        temperature_targets,
    )

    df = spark.createDataFrame(data, "source string, n long")
    got = {
        r["source"]: r["target_k"]
        for r in temperature_targets(df, "source", "n", k).collect()
    }
    assert sum(got.values()) == k
    assert all(v >= 0 for v in got.values())
    by_size = dict(data)
    for a in by_size:
        for b in by_size:
            if by_size[a] > by_size[b]:
                assert got[a] >= got[b] - 1  # ties/remainders move 1 slot


word = st.sampled_from(["tok%d" % i for i in range(12)])
docs_text = st.lists(
    st.lists(word, min_size=0, max_size=25).map(" ".join),
    min_size=1,
    max_size=10,
)


@given(texts=docs_text)
@SETTINGS
@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_cms_estimate_never_undercounts(spark, texts):
    """Count-min one-sided error: for ANY corpus, the sketch estimate of
    every token is >= its true count."""
    from spark_streaming_project_spark.functions.text import tokens
    from spark_streaming_project_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    tok = df.filter(F.col("text") != "").select(
        F.explode(tokens("text")).alias("token")
    )
    truth = {
        r["token"]: r["c"]
        for r in tok.groupBy("token").agg(F.count("*").alias("c")).collect()
    }
    if not truth:
        return
    queries = tok.select("token").distinct()
    est = {
        r["token"]: r["cms_est"]
        for r in cms_estimate(
            cms_build(tok, "token", width=16, depth=3),
            queries,
            "token",
            width=16,
            depth=3,
        ).collect()
    }
    assert all(est[t] >= c for t, c in truth.items())


@given(texts=docs_text)
@SETTINGS
def test_winnowing_selected_positions_cover_every_window(spark, texts):
    """For ANY corpus: selection density never exceeds 1, every full
    w-window of gram positions contains a selected position, and docs
    below the guarantee threshold select nothing."""
    from spark_streaming_project_spark.operators.textstats import (
        winnow_fingerprints,
    )

    k, w = 3, 4
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sel: dict = {}
    for r in winnow_fingerprints(df, "text", "doc_id", k=k, w=w).collect():
        sel.setdefault(r["doc_id"], set()).add(r["pos"])
    for i, t in enumerate(texts):
        toks = [x for x in t.split() if x]
        n_grams = max(len(toks) - k + 1, 0)
        got = sel.get(i, set())
        if n_grams < w:
            assert not got
            continue
        assert len(got) <= n_grams
        for start in range(1, n_grams - w + 2):
            assert got & set(range(start, start + w))


@given(
    vecs=st.lists(
        st.tuples(
            st.integers(min_value=-100, max_value=100),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=3,
        max_size=8,
        unique=True,
    ),
    k=st.integers(min_value=2, max_value=3),
)
@SETTINGS
@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_kcenter_greedy_is_two_approx_of_bruteforce_opt(spark, vecs, k):
    """The textbook guarantee on ANY input: greedy farthest-point
    k-center coverage radius <= 2 * OPT, where OPT is found by brute
    force over all C(n,k) center subsets (n <= 8 keeps that exact).
    Distances are exact integers on both sides (quant=1 passes the
    integer coordinates through), so the comparison is r^2 <= 4*OPT^2."""
    import itertools

    from spark_streaming_project_spark.operators.similarity import (
        greedy_kcenter_centers,
        quantize_vectors,
    )

    k = min(k, len(vecs) - 1)
    df = spark.createDataFrame(
        [(i, [float(x), float(y)]) for i, (x, y) in enumerate(vecs)],
        schema="id BIGINT, v ARRAY<DOUBLE>",
    )
    pts = quantize_vectors(df, "id", "v", quant=1)
    _, greedy_r2 = greedy_kcenter_centers(pts, k)

    def d2(a, b):
        return (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2

    opt_r2 = min(
        max(min(d2(p, c) for c in centers) for p in vecs)
        for centers in itertools.combinations(vecs, k)
    )
    assert greedy_r2 <= 4 * opt_r2, (greedy_r2, opt_r2)


nz = st.integers(-4, 4).filter(lambda x: x != 0)
_mp_vec = st.tuples(nz, st.integers(-4, 4), st.integers(-4, 4), st.integers(-4, 4))
_mp_vecs = st.lists(_mp_vec, min_size=4, max_size=12)


@given(vecs=_mp_vecs, n_flip=st.integers(0, 7))
@SETTINGS
@pytest.mark.slow  # r14: driver-window gate (see conftest)
def test_multiprobe_probes_exactly_the_ranked_masks(spark, vecs, n_flip):
    """r11 ranked multi-bit perturbation (Lv et al.): on ANY vector set the
    candidate ids returned by lsh_multiprobe_topk must be exactly the
    non-query vectors whose bucket lies in the reference probe set — home
    bucket XOR each of the top-(1+n_flip) masks under (sum of squared
    flipped margins asc, mask asc), margins/buckets recomputed by an
    independent Python model sharing only the coefficient function. Pins
    the mask enumeration, the score term order, and the tie-break."""
    from spark_streaming_project_spark.operators.similarity import (
        _pseudo_coef,
        lsh_multiprobe_topk,
    )

    dim, bits = 4, 3
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def margins(v):
        return [
            sum(v[i] * _pseudo_coef(f"plane:{b}:{i}") for i in range(dim))
            for b in range(bits)
        ]

    def bucket(v):
        return sum(1 << b for b, m in enumerate(margins(v)) if m > 0)

    qv = rows[0][1]
    sq = [m * m for m in margins(qv)]
    score = {
        m: sum(sq[b] for b in range(bits) if (m >> b) & 1)
        for m in range(1 << bits)
    }
    ranked = sorted(range(1 << bits), key=lambda m: (score[m], m))
    probes = {bucket(qv) ^ m for m in ranked[: n_flip + 1]}
    expected = {i for i, v in rows if i != 0 and bucket(v) in probes}

    got = lsh_multiprobe_topk(
        df, "vec_id", "embedding", 0, dim=dim, k=1000, bits=bits, n_flip=n_flip
    ).collect()
    assert {r["vec_id"] for r in got} == expected
