"""Seeded generator for the ten star-schema tables the registry queries read
(``region nation customer supplier part orders lineitem events documents
embeddings``), one parquet file each, at the row counts and column shapes
of the project's sf0.1 test data.

The benchmark may read nothing outside its checkout, so it writes its own
copy. Columns are drawn independently and uniformly: prices with two
decimals, dates by day, 5% of the documents planted as near-duplicates (an
earlier text plus the token ``dup``), unit-norm 64-d embeddings.
``test_perfbench.py`` checks schema, row counts, value sets and means against
the package's default test data (``sources.batch.DEFAULT_SF_DIR``) where that
data is present.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
PART_NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (["en", "de", "es", "fr", "zh"], [0.41, 0.1475, 0.1475, 0.1475, 0.1475])
DUP_SHARE = 0.05
EMBED_DIM = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first: str, span: int, n: int) -> np.ndarray:
    start = np.datetime64(first, "D")
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _pick(rng, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _documents(rng, n: int) -> dict:
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    n_dup = int(n * DUP_SHARE)
    for i in sorted(rng.choice(np.arange(1, n), n_dup, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS[0], n, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.field("element", pa.float32()))),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def build(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    tables = {
        "region": {"r_regionkey": i32(range(5)), "r_name": REGIONS},
        "nation": {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        },
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        },
        "supplier": {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        },
        "part": {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    _pick(rng, PART_ADJ, n["part"]), _pick(rng, PART_NOUN, n["part"])
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": i32(rng.integers(1, 51, n["part"])),
            "p_retailprice": np.round(
                900.0 + (np.arange(n["part"]) % 1000) / 10.0, 1
            ),
        },
        "orders": {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n["orders"]),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": i32(rng.integers(1, 8, n["lineitem"])),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rng, "1995-01-02", 2497, n["lineitem"]),
        },
        "events": {
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us")
            + rng.integers(0, 30 * 86400 * 10**6, n["events"]).astype(
                "timedelta64[us]"
            ),
            "user_id": rng.integers(0, 1500, n["events"]),
            "event_type": _pick(rng, EVENT_TYPES, n["events"]),
            "value": np.round(rng.exponential(50.0, n["events"]), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        },
        "documents": _documents(rng, n["documents"]),
    }
    out = {name: pa.table(cols) for name, cols in tables.items()}
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write(sf_dir: str, seed: int) -> dict[str, int]:
    """Write every table to ``<sf_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, table in build(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
