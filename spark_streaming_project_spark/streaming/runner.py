"""Streaming query runner (SURVEY.md §2.9 X1-X8).

The reference starts six concurrent ``StreamingQuery``s against one session
and blocks on each sequentially (Consumer.scala:86-183). ``StreamRunner``
is the engine's version: declarative registration, per-query checkpoint
dirs (X6), deterministic test drains via ``availableNow`` (X1), and
``awaitAnyTermination``-based supervision (X7) — no global write lock.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery


def stream_parquet_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replayable file-source stream (one micro-batch per
    ``maxFilesPerTrigger`` files — the deterministic test stand-in for
    Kafka, SURVEY.md §5)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def stream_json_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """JSON-lines file stream (each line one raw envelope — mirrors the
    Kafka value payload for parse-stage streaming tests)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(path)


@dataclass
class _QuerySpec:
    name: str
    df: DataFrame
    output_mode: str
    sink_format: str | None
    foreach_batch: Callable[[DataFrame, int], None] | None
    options: dict[str, str]


@dataclass
class StreamRunner:
    """Manages a set of streaming queries with per-query checkpoints.

    Usage::

        runner = StreamRunner(spark, checkpoint_root=tmp)
        runner.add("nutriscore", agg_df, output_mode="complete",
                   sink_format="memory")
        runner.start_all(available_now=True)
        runner.await_all()
        spark.table("nutriscore")  # memory sink result
    """

    spark: SparkSession
    checkpoint_root: str
    specs: list[_QuerySpec] = field(default_factory=list)
    queries: dict[str, StreamingQuery] = field(default_factory=dict)
    # "rocksdb" = out-of-heap keyed state (the 100 TB path: complete-mode
    # counts and band-membership state grow with distinct keys; HDFS-backed
    # in-memory maps OOM the executors long before disk fills). None keeps
    # Spark's default provider. Session-wide: applies to every query the
    # session starts while set.
    state_store_provider: str | None = None
    # Shuffle partitions, and so state-store instances, of every query
    # started while set. Each query latches the count in its checkpoint at
    # first start, so a restart keeps it. None keeps the session's value.
    state_partitions: int | None = None

    _PROVIDERS = {
        "rocksdb": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
    }

    def add(
        self,
        name: str,
        df: DataFrame,
        output_mode: str = "append",
        sink_format: str | None = "memory",
        foreach_batch: Callable[[DataFrame, int], None] | None = None,
        observe: dict | None = None,
        **options: str,
    ) -> "StreamRunner":
        """Register a query. ``observe`` maps observation name -> list of
        aggregate Columns recorded per micro-batch via ``df.observe`` —
        Spark's zero-extra-pass stream observability (counters ride the
        batch's own execution; no second scan, no extra shuffle). Read
        them back after the run with ``observed_metrics()`` — the
        production data-quality counters (rows ingested, nulls seen, late
        rows dropped) a 100 TB streaming job alarms on."""
        if observe:
            for obs_name, exprs in observe.items():
                df = df.observe(obs_name, *exprs)
        self.specs.append(
            _QuerySpec(name, df, output_mode, sink_format, foreach_batch, options)
        )
        return self

    def observed_metrics(self, name: str, observation_name: str) -> list[dict]:
        """Per-micro-batch rows of one observation on query ``name``, in
        batch order (from the query's retained progress history)."""
        out: list[dict] = []
        for prog in self.queries[name].recentProgress:
            om = prog.get("observedMetrics") or {}
            if observation_name in om:
                row = om[observation_name]
                out.append(row if isinstance(row, dict) else row.asDict())
        return out

    def start_all(self, available_now: bool = False) -> dict[str, StreamingQuery]:
        scoped = {}
        if self.state_store_provider is not None:
            scoped["spark.sql.streaming.stateStore.providerClass"] = (
                self._PROVIDERS.get(self.state_store_provider, self.state_store_provider)
            )
        if self.state_partitions is not None:
            scoped["spark.sql.shuffle.partitions"] = str(self.state_partitions)
        prior = {k: self.spark.conf.get(k, None) for k in scoped}
        for k, v in scoped.items():
            self.spark.conf.set(k, v)
        try:
            self._start_specs(available_now)
        finally:
            # both are latched per query at start(); restore the session
            # conf so a shared session's later queries keep their defaults
            for k, v in prior.items():
                if v is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, v)
        return self.queries

    def _start_specs(self, available_now: bool) -> None:
        for spec in self.specs:
            writer = (
                spec.df.writeStream.queryName(spec.name)
                .outputMode(spec.output_mode)
                .option(
                    "checkpointLocation",
                    os.path.join(self.checkpoint_root, spec.name),
                )
            )
            for k, v in spec.options.items():
                writer = writer.option(k, v)
            if spec.foreach_batch is not None:
                writer = writer.foreachBatch(spec.foreach_batch)
            elif spec.sink_format is not None:
                writer = writer.format(spec.sink_format)
            if available_now:
                writer = writer.trigger(availableNow=True)
            self.queries[spec.name] = writer.start()

    def await_all(self, timeout_sec: float | None = None) -> None:
        """Block until every query finishes (availableNow drains) or fails;
        surfaces the first streaming exception instead of hanging."""
        for name, q in self.queries.items():
            ok = q.awaitTermination(timeout_sec) if timeout_sec else q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"stream {name} failed") from q.exception()
            if timeout_sec and not ok:
                raise TimeoutError(f"stream {name} did not drain in {timeout_sec}s")

    def stop_all(self) -> None:
        for q in self.queries.values():
            if q.isActive:
                q.stop()

    def last_watermark(self, name: str) -> str | None:
        """The event-time watermark reported by the query's final progress."""
        prog = self.queries[name].lastProgress
        if prog is None:
            return None
        return prog["eventTime"].get("watermark") if "eventTime" in prog else None
