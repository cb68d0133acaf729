"""The OpenFoodFacts application pipeline — engine twin of the reference's
``ConsumerKafka.main`` (Consumer.scala:37-185).

Two execution modes over one parsed product stream:

- ``per_query`` (reference parity): six independent streaming queries — five
  complete-mode aggregations + the per-batch top-k pipeline — each
  with its own checkpoint and sink. This re-reads the source per query,
  exactly like the reference's six branches (SURVEY.md §4 notes the 6x
  re-consumption).
- ``multiplex`` (efficiency mode): ONE streaming query whose foreachBatch
  persists the parsed micro-batch and runs its two sinks side by side, on
  two threads — one source read per batch. The five complete-mode tables
  live in one tagged count table (``out/counts/state``): one ``select``
  turns each product into a row per table it counts in (a literal
  ``table`` column plus every table's key columns, the other tables' keys
  null), one ``groupBy(table, <all key columns>)`` counts them, and one
  ``foreach_batch_incremental_agg`` merges that delta into the state —
  one scan and one merge per batch, not one per table.
  ``read_snapshot`` splits one table back out. The top-k is the same
  per-batch sink the per-query mode uses. Both sinks are exactly-once
  under replay: the count sink records its high-water batch id and
  publishes by one symlink swap, and the top-k sink overwrites its
  batch's partition. So when either sink fails, the batch is not
  committed and its replay is safe. State written by the older
  one-table-per-directory layout (``out/<table>/state``) is not migrated;
  a restart on such an output directory starts a new count table.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.aggregates import (
    COUNT_KEYS,
    brand_counts,
    category_counts,
    nova_group_classification,
    nutriscore_counts,
    packaging_distribution,
)
from .operators.topk import additive_counts
from .schemas import PRODUCT
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

#: the multiplex mode's tagged count table: its directory under out_root,
#: the column naming each row's table, and the counter column.
_COUNTS_DIR, _TABLE, _COUNT = "counts", "table", "count"


def _tagged_counter(df: DataFrame) -> Callable[[DataFrame], DataFrame]:
    """Every complete-mode table in one aggregate over frames shaped like
    ``df``: each row becomes one tagged row per table whose condition it
    meets (its table name, that table's keys, the other tables' keys as
    typed nulls), counted by (table, every key column). The Columns are
    built here once; the returned function only plans."""
    specs = {name: spec() for name, (spec, _) in COUNT_KEYS.items()}
    keys = {k: c for _, table_keys in specs.values() for k, c in table_keys.items()}
    schema = df.select(*[c.alias(k) for k, c in keys.items()]).schema
    null = {f.name: F.lit(None).cast(f.dataType) for f in schema}
    tagged = [
        F.when(cond, F.struct(
            F.lit(name).alias(_TABLE),
            *[table_keys.get(k, null[k]).alias(k) for k in keys],
        ))
        for name, (cond, table_keys) in specs.items()
    ]
    rows = F.inline(F.filter(F.array(*tagged), lambda r: r.isNotNull()))
    return lambda batch: batch.select(rows).groupBy(_TABLE, *keys).count()


def _tagged_counts(df: DataFrame) -> DataFrame:
    """The tagged count table of ``df`` (see ``_tagged_counter``)."""
    return _tagged_counter(df)(df)


#: State partitions of each per-query stateful aggregation. A streaming
#: aggregation keeps one state-store instance per shuffle partition (AQE
#: does not coalesce them), and each table holds few keys: at most 20 in
#: the fixtures, and the reference pins 5 for the same reason
#: (Consumer.scala:41-45). On 4 vCPUs, one partition instead of four cut
#: perfbench's freshness p50 from 4.3 to 3.0 s (medians of 10 paired
#: stream runs).
_STATE_PARTITIONS = 1


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
        spark,
        checkpoint_root,
        state_store_provider=state_store_provider,
        state_partitions=_STATE_PARTITIONS,
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
    foreachBatch closure persists the batch and runs the tagged count sink
    (one merge for all five complete-mode tables) and the top-k sink on
    two threads, each inheriting the query's job group and batch
    properties. It waits for both and re-raises the first failure."""
    counts = _tagged_counter(products)
    sinks = [
        foreach_batch_incremental_agg(
            os.path.join(out_root, _COUNTS_DIR, "state"),
            counts,
            [c for c in counts(products).columns if c != _COUNT],
            [_COUNT],
        ),
        _topk_sink(out_root),
    ]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            inherit = inheritable_thread_target(batch_df.sparkSession)
            with ThreadPoolExecutor(len(sinks)) as pool:
                runs = [pool.submit(inherit(s), batch_df, batch_id) for s in sinks]
            for run in runs:
                run.result()
        finally:
            batch_df.unpersist()

    runner = StreamRunner(
        spark, checkpoint_root, state_store_provider=state_store_provider
    )
    runner.add("openfood_multiplex", products, output_mode="append", foreach_batch=process)
    runner.start_all(available_now=available_now)
    return runner


def read_snapshot(spark: SparkSession, out_root: str, table: str) -> DataFrame:
    """Read a complete-mode table's current snapshot (multiplex mode): the
    tagged count table's rows for ``table``, with that table's columns in
    its branch's order and the counter under the branch's count name —
    the same schema and values as ``BRANCHES[table]`` in batch. Both the
    column list and the read schema come from plans over an empty
    ``PRODUCT`` frame, so no Spark job runs before the caller's action."""
    empty = spark.createDataFrame([], PRODUCT)
    *keys, count_col = BRANCHES[table](empty).columns
    return (
        spark.read.schema(_tagged_counts(empty).schema)
        .parquet(os.path.join(out_root, _COUNTS_DIR, "state"))
        .filter(F.col(_TABLE) == table)
        .select(*keys, F.col(_COUNT).alias(count_col))
    )
