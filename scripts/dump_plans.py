#!/usr/bin/env python
"""Dump .explain("formatted") for registered queries into
plans/<round>/<query>_<suffix>.txt — before/after plan evidence for an
optimization change (capture the plan shape before and after it).

Usage: python scripts/dump_plans.py <round> before|after <names ...>

Environment: SPARK_GRAFT_SF_DIR (table directory, default
/root/testdata/sf0.1), SPARK_GRAFT_CPUS (local cores and shuffle
partitions, default 32).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    if len(sys.argv) < 4 or sys.argv[2] not in ("before", "after"):
        print(__doc__, file=sys.stderr)
        return 2
    rnd, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    out = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out, exist_ok=True)

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from spark_streaming_project_spark.plans import REGISTRY

    for name in names:
        try:
            df = REGISTRY[name].builder(spark, SF)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            txt = f"ERROR: {type(exc).__name__}: {exc}"
        path = os.path.join(out, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
        spark.catalog.clearCache()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
