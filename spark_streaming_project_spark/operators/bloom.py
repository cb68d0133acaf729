"""Bloom-filter membership state: dedup a NEW batch against a 100 TB
history without joining the history.

The reference pipeline re-ingests the full product stream on every run
(Consumer.scala:50-56 reprocesses whatever the producer emits); at
100 TB the only viable "have we seen this before?" check is one whose
state does NOT grow with history and whose probe does NOT open the
historical corpus. A Bloom filter is that object:

  - **build** (one pass over history, then never again): each key sets
    ``num_hashes`` bits in a ``num_bits`` array. The array is stored as
    63-bit words (bits 0-62 of a BIGINT; the sign bit stays clear because
    DuckDB's BIGINT shift refuses ``1 << 63``, and losing 1/64th of the
    word buys exact cross-engine parity) — a ``(word_idx, word)`` frame
    aggregated with ``bit_or``, i.e. an OR-monoid additive state: commutative,
    associative AND idempotent, so merges are canonical under any
    partitioning, any merge order, and even replayed inserts
    (``merge_bitor_state`` is a drop-in ``merge_fn`` for
    ``streaming/sinks.foreach_batch_incremental_agg`` — the streaming
    build equals the batch build bit-for-bit, pinned by pytest).
  - **probe** (per new batch): the word frame is assembled into ONE
    dense ``array<bigint>`` row (``num_bits/63`` longs — ~127 MB for a
    10^9-bit filter, ordinary broadcast territory; Spark's own runtime
    bloom-join pushes the same object around) and attached by a 1-row
    broadcast nested-loop join. Each probe key then answers "all k bits
    set?" with pure JVM array indexing — NO shuffle, NO explode, no
    state lookup join. A probe over 100 TB of new data is a map-only
    scan.

Guarantees: no false negatives ever (a key inserted always probes
seen). False-positive rate ~ (1 - e^(-kn/m))^k; the queries measure the
realized rate against exact truth rather than quoting the formula.

Every hash is md5-derived (``pos_i = int(md5(salt#i#key)[:15 hex]) mod
num_bits``) so a SQL oracle replays build AND probe bit-for-bit — the
filter words themselves hash-match DuckDB's.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggregates import merge_monoid_state

__all__ = [
    "bloom_bit_positions",
    "bloom_build",
    "bloom_probe",
    "merge_bitor_state",
    "DEFAULT_NUM_BITS",
    "DEFAULT_NUM_HASHES",
]

DEFAULT_NUM_BITS = 1 << 14  # 16384 bits = 261 words; tests measure FP rate
DEFAULT_NUM_HASHES = 4


def bloom_bit_positions(
    key: Column, num_bits: int, num_hashes: int, salt: str
) -> list[Column]:
    """The ``num_hashes`` bit positions for ``key``: independent md5
    draws ``md5(salt#i#key)`` truncated to 15 hex chars (60 bits, always
    a positive BIGINT) mod ``num_bits``. Mirrored by the oracle as
    ``CAST(concat('0x', substr(md5(...), 1, 15)) AS BIGINT) % num_bits``.
    """
    return [
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.lit(salt), F.lit(str(i)), key)),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % num_bits
        for i in range(num_hashes)
    ]


def bloom_build(
    df: DataFrame,
    key_col: str,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    salt: str = "bloom",
) -> DataFrame:
    """One pass over ``df``: the filter as a ``(word_idx, word)`` frame.

    Explode each key into its ``num_hashes`` positions, then
    ``bit_or`` the single-bit masks per 63-bit word. The output is at
    most ``num_bits/63`` rows no matter how many keys went in — the
    whole point: state size is a build-time constant, not a function of
    history size. Absent words (no bit set) are simply missing rows;
    probe treats them as 0.
    """
    pos = df.select(
        F.explode(
            F.array(
                *bloom_bit_positions(
                    F.col(key_col).cast("string"), num_bits, num_hashes, salt
                )
            )
        ).alias("_pos")
    )
    return (
        pos.select(
            F.expr("_pos div 63").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(_pos % 63 AS INT))"
            ).alias("_mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_mask").alias("word"))
    )


def merge_bitor_state(
    state: DataFrame, delta: DataFrame, keys: list[str], counters: list[str]
) -> DataFrame:
    """OR-monoid merge: union, then ``bit_or`` per key, with an absent
    or null word contributing 0. Because OR is idempotent, re-merging a
    replayed delta is harmless even WITHOUT the batch-id high-water-mark —
    the sink's exactly-once ledger is still used, but the state is safe by
    algebra too. Drop-in ``merge_fn`` for ``foreach_batch_incremental_agg``."""
    return merge_monoid_state(
        state,
        delta,
        keys,
        counters,
        lambda c: F.coalesce(F.bit_or(c), F.lit(0)),
    )


def bloom_probe(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
    salt: str = "bloom",
    flag_col: str = "probably_seen",
) -> DataFrame:
    """Append ``flag_col`` (boolean) to ``df``: true iff every one of the
    key's ``num_hashes`` bits is set in ``bloom``.

    The word frame is densified into a single ``array<bigint>`` row
    (map_from_entries + a transform over sequence(0, words-1), absent
    words -> 0) and attached with a 1-row broadcast cross join; the k
    membership tests are then plain array indexing inside whole-stage
    codegen. No shuffle touches ``df``.
    """
    num_words = (num_bits + 62) // 63
    dense = bloom.groupBy().agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("word_idx"), F.col("word")))
        ).alias("_m")
    ).select(
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(num_words - 1).cast("long")),
            lambda i: F.coalesce(
                F.element_at(F.col("_m"), i), F.lit(0).cast("long")
            ),
        ).alias("_bloom_words")
    )
    probed = df.crossJoin(F.broadcast(dense))
    positions = bloom_bit_positions(
        F.col(key_col).cast("string"), num_bits, num_hashes, salt
    )
    for i, pos in enumerate(positions):
        probed = probed.withColumn(f"_bp{i}", pos)
    # bit i of word w is ((w >> i) & 1): the arithmetic-shift fill bits
    # never reach the &1, so sign is irrelevant — same algebra in DuckDB.
    hits = [
        F.expr(
            f"((_bloom_words[CAST(_bp{i} div 63 AS INT)] "
            f">> CAST(_bp{i} % 63 AS INT)) & 1) = 1"
        )
        for i in range(num_hashes)
    ]
    flag = hits[0]
    for h in hits[1:]:
        flag = flag & h
    return probed.withColumn(flag_col, flag).drop(
        "_bloom_words", *[f"_bp{i}" for i in range(num_hashes)]
    )
