"""The OpenFoodFacts application pipeline — engine twin of the reference's
``ConsumerKafka.main`` (Consumer.scala:37-185).

Two execution modes over one parsed product stream:

- ``per_query`` (reference parity): six independent streaming queries — five
  complete-mode aggregations + the per-batch top-k pipeline — each
  with its own checkpoint and sink. This re-reads the source per query,
  exactly like the reference's six branches (SURVEY.md §4 notes the 6x
  re-consumption).
- ``multiplex`` (efficiency mode): ONE streaming query whose foreachBatch
  persists the parsed micro-batch and hands it to one sink per table — one
  source read per batch. Each complete-mode table is an incremental
  aggregate (``foreach_batch_incremental_agg``: the batch's partial counts
  merged into a parquet state table), and the top-k is the same per-batch
  sink the per-query mode uses. Every table is exactly-once under replay:
  each state sink records its own high-water batch id and publishes by one
  symlink swap, and the top-k sink overwrites its batch's partition.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators.aggregates import (
    brand_counts,
    category_counts,
    nova_group_classification,
    nutriscore_counts,
    packaging_distribution,
)
from .operators.topk import additive_counts
from .streaming.runner import StreamRunner
from .streaming.sinks import (
    foreach_batch_incremental_agg,
    foreach_batch_per_batch_topk,
)

#: The five complete-mode branches (name -> transform), Consumer.scala:63-68.
BRANCHES: dict[str, Callable[[DataFrame], DataFrame]] = {
    "nutriscore_counts": nutriscore_counts,
    "category_counts": category_counts,
    "brand_counts": brand_counts,
    "packaging_distribution": packaging_distribution,
    "nova_group_classification": nova_group_classification,
}

#: count column per branch output (the additive counter when multiplexing).
_COUNT_COL = {
    "nutriscore_counts": "product_count",
    "category_counts": "category_count",
    "brand_counts": "product_count",
    "packaging_distribution": "packaging_count",
    "nova_group_classification": "product_count",
}


def _topk_sink(out_root: str) -> Callable[[DataFrame, int], None]:
    """The per-batch top-10 additive products sink both modes write with
    (total order: count desc, then product name)."""
    return foreach_batch_per_batch_topk(
        additive_counts,
        os.path.join(out_root, "top_additive_products"),
        "additive_count",
        k=10,
        tiebreak_asc=("product_name",),
    )


def run_per_query(
    spark: SparkSession,
    products: DataFrame,
    out_root: str,
    checkpoint_root: str,
    available_now: bool = True,
    state_store_provider: str | None = None,
) -> StreamRunner:
    """Reference-parity mode: six concurrent queries, per-query checkpoints,
    memory sinks named after their output tables + the parquet top-k sink.

    ``state_store_provider="rocksdb"`` runs every branch's keyed state on
    the out-of-heap provider (the 100 TB path; see StreamRunner)."""
    runner = StreamRunner(
        spark, checkpoint_root, state_store_provider=state_store_provider
    )
    for name, branch in BRANCHES.items():
        runner.add(name, branch(products), output_mode="complete")
    runner.add(
        "top_additive_products",
        products,
        output_mode="append",
        foreach_batch=_topk_sink(out_root),
    )
    runner.start_all(available_now=available_now)
    return runner


def run_multiplex(
    spark: SparkSession,
    products: DataFrame,
    out_root: str,
    checkpoint_root: str,
    available_now: bool = True,
    state_store_provider: str | None = None,
) -> StreamRunner:
    """Efficiency mode: one query, one source read per micro-batch; the
    foreachBatch closure persists the batch and fans out to every table's
    sink."""
    sinks = [
        foreach_batch_incremental_agg(
            os.path.join(out_root, name, "state"),
            branch,
            [c for c in branch(products).columns if c != _COUNT_COL[name]],
            [_COUNT_COL[name]],
        )
        for name, branch in BRANCHES.items()
    ] + [_topk_sink(out_root)]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for sink in sinks:
                sink(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    runner = StreamRunner(
        spark, checkpoint_root, state_store_provider=state_store_provider
    )
    runner.add("openfood_multiplex", products, output_mode="append", foreach_batch=process)
    runner.start_all(available_now=available_now)
    return runner


def read_snapshot(spark: SparkSession, out_root: str, table: str) -> DataFrame:
    """Read a complete-mode table's current snapshot (multiplex mode)."""
    return spark.read.parquet(os.path.join(out_root, table, "state"))
