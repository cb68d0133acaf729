"""Open-loop page generator: a process of its own that writes seeded
OpenFoodFacts envelope pages into a directory on a fixed schedule.

Page ``i`` is due at ``start + i / rate``. The generator never slows down
when the system under test falls behind; it only reports how late its own
writes were. Each page is one JSON-lines file holding one Kafka-shaped
record (``{"value": "<envelope>"}``), written under a hidden name and
renamed into place so a tailing file source never sees a partial file.

Usage, from the repository root:
    python3 -m perfbench.gen OUT_DIR LEDGER START_EPOCH RATE FIRST COUNT SEED

It writes pages FIRST .. FIRST+COUNT-1 and, on exit, one JSON object per
page to LEDGER: {"page": i, "due": epoch_s, "written": epoch_s}.
"""

from __future__ import annotations

import json
import os
import sys
import time

from spark_streaming_project_spark.sources.fixtures import (
    make_envelopes,
    make_products,
)

PAGE_SIZE = 100  # products per page, the reference's Kafka page size


def envelopes(n_pages: int, seed: int) -> list[str]:
    """The first ``n_pages`` envelope pages of seed ``seed``."""
    return make_envelopes(make_products(n_pages * PAGE_SIZE, seed), PAGE_SIZE)


def page_name(i: int) -> str:
    return f"page-{i:06d}.json"


def page_index(path: str) -> int:
    """Inverse of ``page_name`` for a path or URI as Spark logs it."""
    base = path.rstrip("/").rsplit("/", 1)[-1]
    return int(base[len("page-") : -len(".json")])


def write_page(out_dir: str, i: int, envelope: str) -> None:
    tmp = os.path.join(out_dir, f".{page_name(i)}.tmp")
    with open(tmp, "w") as f:
        f.write(json.dumps({"value": envelope}) + "\n")
    os.rename(tmp, os.path.join(out_dir, page_name(i)))


def main(argv: list[str]) -> int:
    out_dir, ledger, start, rate, first, count, seed = argv
    start, rate = float(start), float(rate)
    first, count, seed = int(first), int(count), int(seed)

    pages = envelopes(first + count, seed)
    rows = []
    for i in range(first, first + count):
        due = start + (i - first) / rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        write_page(out_dir, i, pages[i])
        rows.append({"page": i, "due": due, "written": time.time()})
    with open(ledger, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
