"""Distributed BPE tokenizer training (Sennrich et al. 2016).

Classic corpus BPE: train on the WORD-FREQUENCY dictionary (unique word,
count) — orders of magnitude smaller than the corpus — and each round
merge the globally most frequent adjacent symbol pair. The merge table is
what a tokenizer ships; this learns it engine-side.

Scale shape (100 TB corpus):
- One corpus-sized aggregate total (the word-count dict); every training
  round then runs on the DICT (vocab-sized, ~10^6 rows for web text) —
  pair counting is an explode + combinable sum, the argmax is a 1-row
  TakeOrdered collect (a bounded driver scalar per round, same
  coordination pattern as k-means fit and connected components).
- The merge application is an array fold (F.aggregate) — greedy
  left-to-right exactly like reference BPE, JVM-side, no Python on the
  dict rows.
- Lineage is truncated with localCheckpoint every few rounds so n_merges
  rounds cost O(1) plan depth each.

Determinism: pair-count ties break lexicographically on the pair, so the
merge sequence is a pure function of the corpus (pytest pins it against a
reference pure-Python implementation — the merge loop has no
SQL-expressible oracle, like k-means).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import DRIVER_THRESHOLD, small_side
from ..functions.text import tokens

__all__ = ["word_freq_dict", "bpe_train_merges", "bpe_reference"]

# separator used to display a pair; never appears inside symbols because
# symbols grow only by concatenating word characters (whitespace-split)
_SEP = " "


def word_freq_dict(df: DataFrame, text_col: str) -> DataFrame:
    """(word, count) corpus dictionary — the BPE training input."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent symbol-pair counts weighted by word frequency: one
    zip_with over (symbols, symbols[2:]) — no per-word Python."""
    width = F.greatest(F.size("symbols") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice("symbols", 1, width),
        F.slice("symbols", 2, width),
        lambda a, b: F.concat(a, F.lit(_SEP), b),
    )
    return (
        words.filter(F.size("symbols") >= 2)
        .select(F.explode(pairs).alias("pair"), "cnt")
        .groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
    )


def _apply_merge(words: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy left-to-right merge of (left, right) -> left||right in every
    symbol array, as an array FOLD: push each symbol; when the
    accumulator's last element is `left` and the incoming symbol is
    `right`, replace the last element with the concatenation. Overlapping
    runs resolve left-first — reference BPE semantics."""
    def _esc(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    l_, r_ = _esc(left), _esc(right)
    merged = F.expr(
        f"""
        aggregate(
            symbols,
            CAST(array() AS ARRAY<STRING>),
            (acc, s) -> CASE
                WHEN size(acc) > 0
                     AND element_at(acc, -1) = '{l_}' AND s = '{r_}'
                THEN concat(slice(acc, 1, size(acc) - 1),
                            array(concat('{l_}', '{r_}')))
                ELSE concat(acc, array(s))
            END
        )
        """
    )
    return words.select(merged.alias("symbols"), "cnt")


def bpe_train_merges(
    df: DataFrame, text_col: str, n_merges: int = 10
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merge rules from the corpus; returns
    [(left, right, pair_count), ...] in merge order. Driver receives ONE
    row per round (the argmax pair) — nothing corpus- or vocab-sized."""
    return bpe_train_merges_from_dict(word_freq_dict(df, text_col), n_merges)


def bpe_train_merges_from_dict(
    word_counts: DataFrame,
    n_merges: int = 10,
    token_curve: list[tuple[int, int]] | None = None,
    driver_threshold: int = DRIVER_THRESHOLD,
) -> list[tuple[str, str, int]]:
    """Full-recompute trainer over an explicit (word, cnt) dictionary —
    the corpus-independent entry point (a dictionary can be maintained
    incrementally by ``merge_agg_state`` and retrained without touching
    the corpus). When ``token_curve`` is a list it receives
    ``(merge_rank, corpus_tokens)`` after round 0 (characters) and each
    merge — one extra scalar aggregate per round on the already-
    checkpointed dict, nothing corpus-sized.

    Adaptive physical strategy (:func:`small_side`): a dictionary of at
    most ``driver_threshold`` unique words trains driver-side in
    :func:`bpe_reference` — the training loop is 2-3 fixed-overhead jobs
    per round on a vocab-sized frame, which at small vocabularies is
    pure scheduling cost (measured: the sf0.1 corpus has a 31-word
    vocab; 8 merges ran ~25 jobs to do microseconds of work). Both
    paths produce IDENTICAL merge tables and curves; pass
    ``driver_threshold=0`` to force the distributed path. The
    corpus-sized word-dict aggregate stays in Spark either way; the
    collect is vocab-bounded."""
    rows = small_side(word_counts, driver_threshold)
    if rows is not None:
        wc = {r["word"]: int(r["cnt"]) for r in rows}
        return bpe_reference(wc, n_merges, token_curve)

    def _tokens(frame: DataFrame) -> int:
        row = frame.agg(
            F.sum(F.col("cnt") * F.size("symbols")).alias("t")
        ).collect()[0]
        return int(row["t"] or 0)

    words = word_counts.select(
        F.expr("split(word, '')").alias("symbols"), F.col("cnt")
    ).localCheckpoint()
    if driver_threshold > 0:
        word_counts.unpersist()  # checkpoint materialized; probe cache goes
    words = _rightsize_dict(words)
    if token_curve is not None:
        token_curve.append((0, _tokens(words)))
    merges: list[tuple[str, str, int]] = []
    for i in range(n_merges):
        top = (
            _pair_counts(words)
            .orderBy(F.desc("pair_count"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["pair"].split(_SEP, 1)
        merges.append((left, right, top[0]["pair_count"]))
        prev = words
        words = _apply_merge(words, left, right).localCheckpoint()
        prev.unpersist()
        if token_curve is not None:
            token_curve.append((i + 1, _tokens(words)))
    words.unpersist()
    return merges


def _rightsize_dict(words: DataFrame, rows_per_part: int = 2_000) -> DataFrame:
    """Shrink the (symbols, cnt) dict to size-appropriate partitioning.

    The dict inherits the corpus aggregation's shuffle partitioning
    (AQE coalescing does not rewrite an already-materialized
    localCheckpoint); when the vocabulary is tiny, near-empty partitions
    make per-round task scheduling the dominant cost of the
    2-jobs-per-round training loop (measured 1.9 -> 1.5 s for 8 merges
    on the sf0.1 corpus's 31-word vocab, identical merge table). The
    per-row work is heavy (char-split arrays, pair explode, fold
    rewrite), so the target is ~2k rows per partition — small enough
    that a realistic dictionary keeps every core: the 190k-word Zipf
    dict stays at full width (a 250k target collapsed it to 4
    partitions and cost +43% at 100 merges). The count reads the
    checkpoint, not the corpus."""
    cur = words.rdd.getNumPartitions()
    target = max(4, min(cur, -(-words.count() // rows_per_part)))
    return words.coalesce(target) if target < cur else words


def _has_pair(left: str, right: str):
    """Predicate: does a word's symbol array contain (left, right)
    adjacent? Same zip_with pair construction as ``_pair_counts``."""
    def _esc(x: str) -> str:
        return x.replace("\\", "\\\\").replace("'", "\\'")

    width = F.greatest(F.size("symbols") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice("symbols", 1, width),
        F.slice("symbols", 2, width),
        lambda a, b: F.concat(a, F.lit(_SEP), b),
    )
    return (F.size("symbols") >= 2) & F.array_contains(
        pairs, f"{left}{_SEP}{right}"
    )


def bpe_train_merges_incremental(
    df: DataFrame, text_col: str, n_merges: int = 10
) -> list[tuple[str, str, int]]:
    """EXACT twin of :func:`bpe_train_merges` built for large merge
    budgets (ROADMAP #13): instead of re-aggregating every word's pairs
    each round, the pair-count table is maintained INCREMENTALLY — only
    the words that actually contain the merged pair are re-counted
    (counts' = counts - pairs(touched) + pairs(merge(touched))), and
    untouched words are passed through by reference. After the first few
    merges the touched fraction collapses (a merged pair is concentrated
    in few words), so per-round cost falls from O(vocab) aggregated to
    O(touched) aggregated + one vocab-sized filter scan. All arithmetic
    is integer-exact, so merge tables are IDENTICAL to the full
    recomputation (parity-pinned in tests/test_bpe.py); per-round driver
    traffic is still the single argmax row.

    MEASURED NEGATIVE (SCALE.md): the full recompute wins at every scale
    tried — 2.9 vs 10.9 s at the 31-word toy vocab (64 merges) and 92 vs
    113 s at a 200k-word Zipf vocab. The saved aggregation is real, but
    each round still scans the whole dictionary twice to SPLIT it (the
    touched predicate re-evaluates the pair zip_with), which costs more
    than the one aggregation it avoids. Kept as the parity-pinned
    reference implementation of count-delta maintenance; the default
    trainer remains the full recompute. The dataflow-honest fast path at
    word scale would be an inverted pair->word index, i.e. trading this
    operator's statelessness for index maintenance."""
    return bpe_train_merges_incremental_from_dict(
        word_freq_dict(df, text_col), n_merges
    )


def bpe_train_merges_incremental_from_dict(
    word_counts: DataFrame, n_merges: int = 10
) -> list[tuple[str, str, int]]:
    """Incremental-count trainer over an explicit (word, cnt) dictionary
    (see :func:`bpe_train_merges_incremental`)."""
    words = word_counts.select(
        F.expr("split(word, '')").alias("symbols"), F.col("cnt")
    ).localCheckpoint()
    words = _rightsize_dict(words)
    n_parts = words.rdd.getNumPartitions()
    counts = _pair_counts(words).localCheckpoint()
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            counts.orderBy(F.desc("pair_count"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["pair_count"] <= 0:
            break
        left, right = top[0]["pair"].split(_SEP, 1)
        merges.append((left, right, top[0]["pair_count"]))
        pred = _has_pair(left, right)
        touched = words.filter(pred)
        untouched = words.filter(~pred)
        merged_touched = _apply_merge(touched, left, right)
        delta = (
            _pair_counts(touched)
            .select("pair", (-F.col("pair_count")).alias("pair_count"))
            .union(_pair_counts(merged_touched))
        )
        new_counts = (
            counts.union(delta)
            .groupBy("pair")
            .agg(F.sum("pair_count").alias("pair_count"))
            .filter(F.col("pair_count") != 0)
            .localCheckpoint()
        )
        # coalesce: union CONCATENATES partition lists, so without this
        # the words frame doubles its partition count every round (2^n
        # task growth measured: round 12 ran 4096 tasks over a KB of
        # data); coalesce is shuffle-free and the frame is vocab-sized
        new_words = (
            untouched.union(merged_touched)
            .coalesce(n_parts)
            .localCheckpoint()
        )
        counts.unpersist()
        words.unpersist()
        counts, words = new_counts, new_words
    counts.unpersist()
    words.unpersist()
    return merges


def bpe_reference(
    word_counts: dict[str, int],
    n_merges: int = 10,
    token_curve: list[tuple[int, int]] | None = None,
):
    """Pure-Python BPE: identical greedy semantics and tie-breaking to
    the distributed trainer, whose small-dictionary driver path it is.
    ``token_curve`` is filled as in :func:`bpe_train_merges_from_dict`."""
    words = [(list(w), c) for w, c in word_counts.items()]
    if token_curve is not None:
        token_curve.append((0, sum(len(s) * c for s, c in words)))
    merges = []
    for i in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        # max count, ties broken lexicographically on "left SEP right"
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]}{_SEP}{kv[0][1]}")
        )
        merges.append((left, right, cnt))
        new_words = []
        for syms, c in words:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            new_words.append((out, c))
        words = new_words
        if token_curve is not None:
            token_curve.append((i + 1, sum(len(s) * c for s, c in words)))
    return merges


def bpe_encode_words(
    words: DataFrame, merges: list[tuple[str, str, int]]
) -> DataFrame:
    """Apply a learned merge table to the (word, cnt) dictionary: returns
    (word, cnt, subwords array). Encoding applies merges IN TRAINING
    ORDER, each as the same greedy array fold used during training —
    reference BPE encode semantics. The expression tree is n_merges folds
    deep; for shipped merge tables (10^4+) batch by checkpointing every
    ~32 merges (plan depth, not data volume, is the cost)."""
    out = words.select(
        "word", "cnt", F.expr("split(word, '')").alias("symbols")
    )
    for i, (left, right, _) in enumerate(merges):
        out = out.withColumn(
            "symbols", _apply_merge_col("symbols", left, right)
        )
        if (i + 1) % 32 == 0:
            out = out.localCheckpoint()
    return out.select("word", "cnt", F.col("symbols").alias("subwords"))


def _apply_merge_col(symbols_col: str, left: str, right: str):
    """Column-level twin of :func:`_apply_merge` (same fold)."""

    def _esc(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    l_, r_ = _esc(left), _esc(right)
    return F.expr(
        f"""
        aggregate(
            `{symbols_col}`,
            CAST(array() AS ARRAY<STRING>),
            (acc, s) -> CASE
                WHEN size(acc) > 0
                     AND element_at(acc, -1) = '{l_}' AND s = '{r_}'
                THEN concat(slice(acc, 1, size(acc) - 1),
                            array(concat('{l_}', '{r_}')))
                ELSE concat(acc, array(s))
            END
        )
        """
    )


def bpe_reference_encode(word: str, merges) -> list[str]:
    """Pure-Python encode twin (pytest oracle)."""
    syms = list(word)
    for left, right, *_ in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        syms = out
    return syms
