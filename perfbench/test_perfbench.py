"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import queries, run, streams, tables
from perfbench.common import pct
from perfbench.gen import page_index, page_name

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_log(path: str, entries: list[tuple[int, int]]) -> None:
    """A file-source log file: version line, then one JSON entry per file."""
    with open(path, "w") as f:
        f.write("v1\n")
        for page, batch in entries:
            uri = f"file:///ckpt/src/{page_name(page)}"
            f.write(json.dumps({"path": uri, "timestamp": 0, "batchId": batch}) + "\n")


def test_pages_are_attributed_by_entry_batch_id_not_log_file_name(tmp_path):
    log = tmp_path / "q" / "sources" / "0"
    log.mkdir(parents=True)
    # batches 0..9 read pages 2b and 2b+1; 9.compact re-lists all of them
    for b in range(9):
        _write_log(str(log / str(b)), [(2 * b, b), (2 * b + 1, b)])
    _write_log(str(log / "9.compact"), [(p, p // 2) for p in range(20)])
    _write_log(str(log / "10"), [(20, 10)])
    (log / ".10.crc").write_text("not a log")

    got = streams.source_batches(str(tmp_path / "q"))

    assert got == {p: p // 2 for p in range(21)}
    # naming by file would put pages 0..17 into batch 9
    assert sum(1 for b in got.values() if b == 9) == 2


def test_page_commit_is_the_last_query_to_commit(tmp_path):
    for q, (batch, when) in {"a": (0, 100.0), "b": (3, 250.0)}.items():
        qdir = tmp_path / q
        (qdir / "sources" / "0").mkdir(parents=True)
        _write_log(str(qdir / "sources" / "0" / str(batch)), [(7, batch)])
        (qdir / "commits").mkdir()
        commit = qdir / "commits" / str(batch)
        commit.write_text("v1\n{}\n")
        os.utime(commit, (when, when))
    # page 8 was read by "a" only: not yet committed by every query
    _write_log(str(tmp_path / "a" / "sources" / "0" / "1"), [(8, 1)])

    assert streams.page_commits(str(tmp_path), ["a", "b"]) == {7: 250.0}


def test_page_names_round_trip():
    assert page_index("file:///x/y/" + page_name(123)) == 123


def test_expected_topk_orders_by_count_then_name_per_batch():
    def product(name, additives):
        return {"product_name": [{"lang": "main", "text": name}], "additives_tags": additives}

    page0 = [product("b", ["x", "y"]), product("a", ["x", "y"]), product("c", ["x"])]
    page1 = [product("d", None), product("e", [""]), {"product_name": [], "additives_tags": ["x"]}]
    products = page0 + [product("z", None)] * 97 + page1 + [product("z", None)] * 97

    got = streams.expected_topk(products, {0: 5, 1: 6}, k=2)

    assert got == {(5, "a", 2), (5, "b", 2)}


def test_lag_counts_pages_written_but_not_committed():
    written = {0: 0.0, 1: 1.0, 2: 2.0}
    committed = {0: 0.5, 1: 2.5}
    # 31 samples over [0, 3]: five read 0, five read 2, the rest 1
    assert streams.lag_pages(written, committed, 0.0, 3.0) == 1


def test_percentile_interpolates():
    assert pct([4.0, 1.0, 3.0, 2.0], 50) == 2.5
    assert pct([1.0, 2.0, 3.0, 4.0, 5.0], 95) == pytest.approx(4.8)


def test_result_compare_is_column_and_row_order_insensitive():
    a = (["y", "x"], [(1, 0.1), (2, 0.2)])
    b = (["x", "y"], [(0.2, 2), (0.1, 1)])
    assert queries.same_result(*a, *b)
    assert not queries.same_result(["x"], [(1,)], ["x"], [(1,), (1,)])
    assert not queries.same_result(["x"], [(0.30000000000000004,)], ["x"], [(0.3,)])


def test_tables_are_a_function_of_the_seed():
    a, b = tables.build(7), tables.build(7)
    assert {n: t.num_rows for n, t in a.items()} == {
        "region": 5, "nation": 25, **tables.ROWS
    }
    for name in ("lineitem", "documents", "embeddings"):
        assert a[name].equals(b[name])
    assert not a["lineitem"].equals(tables.build(8)["lineitem"])


def _default_sf_dir() -> str:
    from spark_streaming_project_spark.sources.batch import DEFAULT_SF_DIR

    return DEFAULT_SF_DIR


@pytest.mark.skipif(
    not os.path.isdir(_default_sf_dir()), reason="the package's test data is not here"
)
def test_tables_match_the_package_test_data():
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for name, got in tables.build(queries.DATA_SEED).items():
        want = pq.read_table(os.path.join(_default_sf_dir(), f"{name}.parquet"))
        assert got.schema.equals(want.schema), name
        assert got.num_rows == want.num_rows, name
        for col in want.column_names:
            w, g = want[col], got[col]
            if pa.types.is_list(w.type):
                continue
            if pc.count_distinct(w).as_py() <= 100:  # flags, segments, small keys
                assert set(pc.unique(g).to_pylist()) == set(pc.unique(w).to_pylist()), col
            if pa.types.is_integer(w.type) or pa.types.is_floating(w.type):
                lo, hi = pc.min(w).as_py(), pc.max(w).as_py()
                # within 2% of the value range (a near-uniform draw sits at ~0.3%)
                assert abs(pc.mean(g).as_py() - pc.mean(w).as_py()) <= 0.02 * (hi - lo), col


def test_benchmark_json_matches_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
