"""LLM-data-pipeline queries over documents/embeddings (BASELINE.json
north-star): dedup, similarity search, text analysis, multimodal plumbing.

Every hash in these pipelines is md5-based so the DuckDB oracle replays the
*entire* pipeline (shingling -> minhash -> banding -> candidate join ->
verification) bit-for-bit — the correctness gate covers the algorithm, not
just a summary of it.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    simhash_near_dup_pairs,
    BAND_SIZE,
    NUM_PERM,
    exact_dedup_groups,
    minhash_lsh_pairs,
    simhash,
)
from ..operators.multimodal import (
    decode_assets,
    documents_as_assets,
    sample_frames,
)
from ..operators.similarity import (
    brute_force_topk,
    ivf_kmeans_topk,
    lsh_bucket_topk,
    lsh_multitable_topk,
)
from ..operators.textstats import doc_stats, fingerprints, language_id
from ..sources.batch import load_table
from .registry import register
from ..operators.pca import PCA_ITERS, pca_solve_from_moments

_DIM = 64  # embedding dimensionality of the synthetic embeddings table

# Shared DuckDB CTE: whitespace tokens / distinct word-3-gram shingles.
_TOKS_CTE = r"""
toks AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS words
    FROM documents WHERE text IS NOT NULL
)"""

_SHINGLES_CTE = (
    _TOKS_CTE
    + r""",
sh AS (
    SELECT doc_id,
           CASE WHEN len(words) >= 3
                THEN list_distinct([array_to_string(words[i:i+2], ' ')
                                    for i in range(1, len(words) - 1)])
                ELSE [] END AS shingles
    FROM toks
)"""
)

# ---------------------------------------------------------------------------
# Exact dedup: digest groupBy.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keep_id,
           count(*) AS dup_count
    FROM documents
    GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "text", "doc_id")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup pairs, verified by true shingle Jaccard.
# ---------------------------------------------------------------------------

_SIG_COLS = ",\n           ".join(
    "list_min([substr(md5('{g}:' || s), {start}, 8) for s in shingles]) AS sig_{p}".format(
        g=p // 4, start=(p % 4) * 8 + 1, p=p
    )
    for p in range(NUM_PERM)
)
_BAND_EXPRS = ", ".join(
    "md5('b{b}:' || {cat})".format(
        b=b,
        cat=" || ".join(f"sig_{i}" for i in range(b, b + BAND_SIZE)),
    )
    for b in range(0, NUM_PERM, BAND_SIZE)
)

_MINHASH_ORACLE = f"""
    WITH {_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id, shingles,
           {_SIG_COLS}
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
        SELECT doc_id, unnest([{_BAND_EXPRS}]) AS band FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT id_a, id_b,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
    )
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.3
"""


@register(
    "dedup_minhash_pairs",
    oracle=_MINHASH_ORACLE,
    tags=("llm", "dedup", "minhash", "lsh"),
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.3)


_QERR_TERM = (
    "(v[i] - (CASE WHEN sv[i] > 0 "
    "THEN round(v[i] / sv[i] * 127) * sv[i] / 127 ELSE 0 END))"
)


@register(
    "embedding_quantization_error",
    oracle=f"""
    WITH vecs AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    dims AS (
        SELECT u.i AS pos, max(abs(v[u.i])) AS s
        FROM vecs, unnest(range(1, {_DIM} + 1)) u(i)
        GROUP BY u.i
    ),
    sarr AS (SELECT list(s ORDER BY pos) AS sv FROM dims),
    errs AS (
        SELECT label,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   [{_QERR_TERM} * {_QERR_TERM}
                    for i in range(1, {_DIM} + 1)]),
                   (acc, x) -> acc + x) AS err
        FROM vecs, sarr
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(err), 6) AS mse,
           round(max(err), 6) AS max_sq_err
    FROM errs GROUP BY label ORDER BY label
    """,
    tags=("llm", "vectors", "quantization", "calibration"),
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization audit (r09): per label, the squared
    reconstruction error of symmetric per-dimension int8 quantization
    (scale = per-dim max|x|, code = round(x/s*127)) — the table you read
    BEFORE shipping a quantized vector store: if one label's mse is an
    outlier, its vectors live in a different dynamic range and per-label
    (or per-block) scales are warranted. Scale shape: one posexplode ->
    per-dim max (64 combinable cells, the PCA moment-pass discipline,
    collected as a bounded 64-value literal), then ONE map pass computing
    each vector's error with the same left-to-right fold the oracle uses
    (bit-exact per row; the cross-row mean rounds at 1e-6)."""
    from ..functions.vectors import as_double

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    vecs = emb.select("vec_id", "label", as_double("embedding").alias("_v"))
    scales = (
        vecs.select(F.posexplode("_v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x"))).alias("s"))
        .orderBy("pos")
        .collect()
    )
    sv = F.array(*[F.lit(float(r["s"])) for r in scales])

    def sq_diff(x: Column, s: Column) -> Column:
        recon = F.when(s > 0, F.round(x / s * 127) * s / 127).otherwise(
            F.lit(0.0)
        )
        d = x - recon
        return d * d

    err = F.aggregate(
        F.zip_with(F.col("_v"), sv, sq_diff),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        vecs.select("label", err.alias("_err"))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.round(F.avg("_err"), 6).alias("mse"),
            F.round(F.max("_err"), 6).alias("max_sq_err"),
        )
        .orderBy("label")
    )


@register(
    "ngram_novelty_by_source",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    occ AS (
        SELECT doc_id, unnest(shingles) AS gram FROM sh
    ),
    firsts AS (
        SELECT gram, min(doc_id) AS first_doc FROM occ GROUP BY gram
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS gram_occurrences,
           CAST(sum(CASE WHEN occ.doc_id = f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_grams,
           round(CAST(sum(CASE WHEN occ.doc_id = f.first_doc
                          THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
               AS novelty_share
    FROM occ
    JOIN firsts f USING (gram)
    JOIN documents d USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """,
    tags=("llm", "curation", "dedup", "text"),
)
def ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-novelty audit (r09): per source, what fraction of its
    distinct-per-doc word trigrams are FIRST corpus occurrences (first =
    min doc_id)? The curation signal behind 'which feeds actually add
    new content vs recycle it' — a source whose novelty share collapses
    is re-crawling what the corpus already holds, and its acquisition
    budget should say so. Scale shape (r11 rework, same discipline as
    gram_novelty_by_doc): a gram's min-doc_id struct CARRIES its source
    (min over struct(doc_id, source) orders by doc_id first; source is
    doc-functional), so the novel count per source is a pure aggregate
    chain — no |occurrences|-sized gram join-back anywhere, and the only
    join left is the bounded source-keyed merge of two aggregates.
    Fresh-JVM measurement in BENCH_NOTES round 11."""
    from ..functions.text import word_shingles

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # Cache lifetime: the exploded occurrence frame feeds both aggregates
    # and backs the returned LAZY frame; caller releases after its
    # terminal action (bench.py/driver sim clearCache between queries)
    occ = docs.select(
        "doc_id", "source", F.explode(word_shingles("text")).alias("gram")
    ).persist()
    per_source = occ.groupBy("source").agg(
        F.count("*").cast("bigint").alias("gram_occurrences")
    )
    novel = (
        occ.groupBy("gram")
        .agg(F.min(F.struct("doc_id", "source")).alias("_first"))
        .groupBy(F.col("_first.source").alias("source"))
        .agg(F.count("*").cast("bigint").alias("novel_grams"))
    )
    # NULL-SAFE source join (r11 review fix): source is nullable and both
    # aggregates keep a NULL group (matching the oracle's GROUP BY); a
    # plain equi-join would never match the NULL keys and silently zero
    # that group's novel count while the oracle counts it
    return (
        per_source.join(
            novel.withColumnRenamed("source", "_nsrc"),
            per_source["source"].eqNullSafe(F.col("_nsrc")),
            "left",
        )
        .select(
            per_source["source"],
            "gram_occurrences",
            F.coalesce(F.col("novel_grams"), F.lit(0))
            .cast("bigint")
            .alias("novel_grams"),
            F.round(
                F.coalesce(F.col("novel_grams"), F.lit(0)).cast("double")
                / F.col("gram_occurrences"),
                6,
            ).alias("novelty_share"),
        )
        .orderBy("source")
    )


@register(
    "exact_dup_arrival_curve",
    oracle="""
    WITH ranked AS (
        SELECT doc_id,
               ntile(10) OVER (ORDER BY doc_id ASC) AS decile,
               CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY md5(text))
                    THEN 1 ELSE 0 END AS is_dup
        FROM documents
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_dup) AS BIGINT) AS n_exact_dups,
           round(sum(is_dup) / CAST(count(*) AS DOUBLE), 6) AS dup_rate
    FROM ranked GROUP BY decile ORDER BY decile
    """,
    tags=("llm", "dedup", "curation"),
)
def exact_dup_arrival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty curve (r09): exact-duplicate rate by arrival
    decile (doc_id order) — a doc is a dup if an EARLIER doc carries the
    same content hash. This is the scaling-laws-facing dedup readout:
    when the marginal decile's dup rate climbs, additional crawl volume
    is buying repeats, not tokens, and the acquisition budget should
    move. Two windows — a content-hash-keyed min (bounded partitions)
    and the decile ntile over doc_id (the bounded global sort a decile
    report always pays) — then one combinable aggregate; integer
    arithmetic end-to-end."""
    from ..operators.windows import range_partitioned_ntile

    docs = load_table(spark, sf_dir, "documents")
    first = Window.partitionBy(F.md5("text"))
    is_dup = F.when(
        F.col("doc_id") > F.min("doc_id").over(first), 1
    ).otherwise(0)
    flagged = docs.select("doc_id", is_dup.alias("_dup"))
    # range-partitioned exact ntile — a bare Window.orderBy(doc_id) would
    # funnel the corpus through ONE task (the r4 perf-weak shape)
    ranked = range_partitioned_ntile(
        flagged, 10, [F.asc("doc_id")], out_col="decile"
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_dup").cast("bigint").alias("n_exact_dups"),
            F.round(
                F.sum("_dup") / F.count("*").cast("double"), 6
            ).alias("dup_rate"),
        )
        .orderBy("decile")
    )


@register(
    "neardup_source_matrix",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id, shingles,
           {_SIG_COLS}
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
        SELECT doc_id, unnest([{_BAND_EXPRS}]) AS band FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    verified AS (
        SELECT id_a, id_b FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
              >= 0.3
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM verified
    JOIN documents da ON da.doc_id = verified.id_a
    JOIN documents db ON db.doc_id = verified.id_b
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("llm", "dedup", "minhash", "curation"),
)
def neardup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-dup matrix (r09): verified MinHash pairs rolled
    up by unordered source pair — the DOCUMENT-level view next to
    cdc_cross_source_matrix's chunk-level one. Off-diagonal mass says
    two feeds are mirroring each other (dedup before mixing, or one
    feed's acquisition budget is paying for the other's content);
    diagonal mass is within-feed duplication. Pair generation is the
    banded-LSH pass the engine already runs; the rollup adds two
    doc_id-keyed source joins + one combinable aggregate."""
    from ..operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.3)
    src = docs.select("doc_id", "source")
    joined = (
        pairs.select("id_a", "id_b")
        .join(src.select(F.col("doc_id").alias("id_a"),
                         F.col("source").alias("_sa")), "id_a")
        .join(src.select(F.col("doc_id").alias("id_b"),
                         F.col("source").alias("_sb")), "id_b")
    )
    return (
        joined.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


_EST_MATCHES = " + ".join(
    f"(CASE WHEN sa.sig_{p} = sb.sig_{p} THEN 1 ELSE 0 END)"
    for p in range(NUM_PERM)
)


@register(
    "minhash_estimate_error",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id, shingles,
           {_SIG_COLS}
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
        SELECT doc_id, unnest([{_BAND_EXPRS}]) AS band FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           round(({_EST_MATCHES}) / {NUM_PERM}.0, 6) AS est_jaccard,
           round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles))),
                 6) AS jaccard,
           round(abs(({_EST_MATCHES}) / {NUM_PERM}.0
                 - CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.shingles, sb.shingles)))),
                 6) AS abs_error
    FROM cand
    JOIN sigs sa ON sa.doc_id = cand.id_a
    JOIN sigs sb ON sb.doc_id = cand.id_b
    """,
    tags=("llm", "dedup", "minhash", "calibration"),
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash calibration table (r09): for every banded candidate pair,
    the SIGNATURE-estimated Jaccard (matching permutations / NUM_PERM —
    the only similarity a signature-only pipeline ever sees) next to the
    EXACT shingle Jaccard and their absolute error. This is the table
    that justifies a NUM_PERM choice with data: at 8 permutations the
    estimator is +-0.125-granular, and the error distribution tells you
    whether the verify-with-exact-Jaccard stage is load-bearing (it is)
    before you spend 128 permutations at 100 TB. Same banded candidate
    envelope as dedup_minhash_pairs — signatures ride the join that
    already happens, so the calibration is FREE at scale (one extra
    comparison per signature position per candidate)."""
    from ..operators.dedup import lsh_band_keys, minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    # Cache lifetime: signatures back the returned LAZY frame; the
    # harness releases between queries (bench.py/driver sim clearCache)
    sigs = minhash_signatures(docs, "text", "doc_id").persist()
    bands = sigs.select(
        "doc_id", F.explode(lsh_band_keys()).alias("band")
    )
    cand = (
        bands.select(F.col("doc_id").alias("id_a"), "band")
        .join(bands.select(F.col("doc_id").alias("id_b"), "band"), "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_cols = [f"sig_{p}" for p in range(NUM_PERM)]
    a = sigs.select(
        F.col("doc_id").alias("id_a"),
        F.col("shingles").alias("_sha"),
        *[F.col(c).alias(f"_a{p}") for p, c in enumerate(sig_cols)],
    )
    b = sigs.select(
        F.col("doc_id").alias("id_b"),
        F.col("shingles").alias("_shb"),
        *[F.col(c).alias(f"_b{p}") for p, c in enumerate(sig_cols)],
    )
    matches = sum(
        F.when(F.col(f"_a{p}") == F.col(f"_b{p}"), 1).otherwise(0)
        for p in range(NUM_PERM)
    )
    est = matches / float(NUM_PERM)
    exact = F.size(F.array_intersect("_sha", "_shb")).cast("double") / F.size(
        F.array_union("_sha", "_shb")
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(exact, 6).alias("jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_error"),
        )
    )


@register(
    "dedup_keep_list",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id, shingles,
           {_SIG_COLS}
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
        SELECT doc_id, unnest([{_BAND_EXPRS}]) AS band FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    dupes AS (
        SELECT DISTINCT id_b
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.3
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id_b FROM dupes)
    """,
    tags=("llm", "dedup"),
)
def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal: drop the higher doc_id of each verified
    near-dup pair (greedy keep-first policy)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.3)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# SimHash fingerprints (32-bit, md5-derived -> oracle replayable).
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32


def _simhash_bit_terms(bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, v -> (v >> {i}) & 1 = 1)) > len(hs) "
        f"THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )


_SIMHASH_BIT_TERMS = _simhash_bit_terms(_SIMHASH_BITS)

# The radius-3 calibration histogram uses a WIDER fingerprint than the
# radius-1 dedup tier: pigeonhole banding at radius r gives bits/(r+1)-bit
# band keys, and candidate volume grows ~n^2 / 2^(band bits). 32-bit
# fingerprints at radius 3 mean 8-bit bands (256 buckets) — measured
# quadratic collapse at the 10x overlay (4 s -> 98 s). 60 bits (the
# signed-BIGINT cap at 15 md5 hex chars) gives 15-bit bands: 128x more
# buckets for the same join shape.
_SIMHASH_HIST_BITS = 60


@register(
    "simhash_fingerprints",
    oracle=f"""
    WITH {_TOKS_CTE},
    hashed AS (
        SELECT doc_id,
               [CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                for t in list_distinct(words)] AS hs
        FROM toks WHERE len(words) > 0
    )
    SELECT doc_id, {_SIMHASH_BIT_TERMS} AS simhash
    FROM hashed
    """,
    tags=("llm", "dedup", "simhash"),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return simhash(docs, "text", "doc_id", bits=_SIMHASH_BITS)


_SIMHASH_PAIRS_ORACLE = f"""
    WITH {_TOKS_CTE},
    hashed AS (
        SELECT doc_id,
               [CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                for t in list_distinct(words)] AS hs
        FROM toks WHERE len(words) > 0
    ),
    sh AS (SELECT doc_id, {_SIMHASH_BIT_TERMS} AS simhash FROM hashed)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
"""


@register(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_PAIRS_ORACLE,
    tags=("llm", "dedup", "simhash"),
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming <= 1 via 2-band pigeonhole
    banding (exact — the oracle brute-forces all pairs; the Spark plan
    only joins on 16-bit band keys, the 100 TB shape)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return simhash_near_dup_pairs(docs, "text", "doc_id", bits=_SIMHASH_BITS, max_hamming=1)


@register(
    "simhash_hamming_histogram",
    oracle=f"""
    WITH {_TOKS_CTE},
    hashed AS (
        SELECT doc_id,
               [CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
                for t in list_distinct(words)] AS hs
        FROM toks WHERE len(words) > 0
    ),
    shh AS (SELECT doc_id, {_simhash_bit_terms(_SIMHASH_HIST_BITS)} AS simhash
            FROM hashed)
    SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM shh a JOIN shh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "dedup", "simhash", "calibration"),
)
def simhash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash threshold-placement calibration (r09): pair counts by
    Hamming distance 0..3 — the table you read before hard-coding the
    near-dup cutoff (a cliff between buckets marks the dup/organic
    boundary; a smooth ramp means SimHash at this bit width can't
    separate them and the Jaccard tier should decide). Uses the same
    exact pigeonhole banding as dedup_simhash_pairs but on a 60-BIT
    fingerprint: radius 3 means 4 bands, and 15-bit band keys keep the
    band-join candidate volume ~n^2/32768 instead of ~n^2/256 (the
    32-bit version measured 24x growth at the 10x overlay — the band
    space, not the join shape, was the bottleneck). The oracle
    brute-forces to prove the banding misses nothing at this radius."""
    from ..operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    pairs = simhash_near_dup_pairs(
        docs, "text", "doc_id", bits=_SIMHASH_HIST_BITS, max_hamming=3
    )
    return (
        pairs.groupBy("hamming")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy("hamming")
    )


# ---------------------------------------------------------------------------
# Similarity search: exact brute-force top-k (baseline) and hyperplane-LSH
# ANN (scale path) — both oracle-replayed.
# ---------------------------------------------------------------------------

_QUERY_VEC_ID = 0
def _duck_dot(a: str, b: str, dim: int = _DIM) -> str:
    """Left-to-right fold dot product (same accumulation order as the Spark
    ``F.aggregate`` fold, so the doubles match bit-for-bit)."""
    return (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"[{a}[i] * {b}[i] for i in range(1, {dim} + 1)]), (acc, x) -> acc + x)"
    )


_BRUTE_ORACLE = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT v AS qv FROM vecs WHERE vec_id = {_QUERY_VEC_ID})
    SELECT vec_id,
           round({_duck_dot('v', 'qv')}
                 / (sqrt({_duck_dot('v', 'v')}) * sqrt({_duck_dot('qv', 'qv')})),
                 6) AS cosine_sim
    FROM vecs, q
    WHERE vec_id <> {_QUERY_VEC_ID}
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
"""


@register(
    "similarity_bruteforce_topk",
    oracle=_BRUTE_ORACLE,
    tags=("llm", "similarity"),
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, "vec_id", "embedding", _QUERY_VEC_ID, k=10)


def _pseudo_coef(key: str) -> float:
    h = int(hashlib.md5(key.encode()).hexdigest()[:6], 16)
    return (h % 2001 - 1000) / 1000.0


_ANN_BITS = 4


def _duck_bucket(vec: str) -> str:
    """DuckDB twin of similarity.hyperplane_bucket: same md5-derived plane
    coefficients inlined as literals, same left-to-right accumulation."""
    bits = []
    for b in range(_ANN_BITS):
        terms = " + ".join(
            f"{vec}[{i + 1}] * ({_pseudo_coef(f'plane:{b}:{i}')})"
            for i in range(_DIM)
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(bits)


_ANN_ORACLE = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    bucketed AS (
        SELECT vec_id, v, {_duck_bucket('v')} AS bucket FROM vecs
    ),
    q AS (SELECT v AS qv, bucket AS qb FROM bucketed WHERE vec_id = {_QUERY_VEC_ID})
    SELECT vec_id,
           round({_duck_dot('v', 'qv')}
                 / (sqrt({_duck_dot('v', 'v')}) * sqrt({_duck_dot('qv', 'qv')})),
                 6) AS cosine_sim
    FROM bucketed, q
    WHERE bucket = qb AND vec_id <> {_QUERY_VEC_ID}
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
"""


@register(
    "similarity_ann_lsh_topk",
    oracle=_ANN_ORACLE,
    tags=("llm", "similarity", "lsh"),
)
def similarity_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(
        emb, "vec_id", "embedding", _QUERY_VEC_ID, dim=_DIM, k=10, bits=_ANN_BITS
    )


# Multi-table OR amplification: single-table recall p becomes
# 1-(1-p)^L at ~L/2^bits candidate fraction (bench reports recall@10).

_ANN_TABLES = 8


def _duck_bucket_salted(vec: str, salt: str) -> str:
    """DuckDB twin of one hyperplane table with a custom salt (same
    md5-derived coefficients, same left-to-right accumulation)."""
    bits = []
    for b in range(_ANN_BITS):
        terms = " + ".join(
            f"{vec}[{i + 1}] * ({_pseudo_coef(f'{salt}:{b}:{i}')})"
            for i in range(_DIM)
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(bits)


_MULTI_BUCKETS = ",\n               ".join(
    f"{_duck_bucket_salted('v', f'mplane:{t}')} AS b{t}" for t in range(_ANN_TABLES)
)
_MULTI_MATCH = " OR ".join(f"b.b{t} = q.qb{t}" for t in range(_ANN_TABLES))

_ANN_MULTI_ORACLE = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    bucketed AS (
        SELECT vec_id, v,
               {_MULTI_BUCKETS}
        FROM vecs
    ),
    q AS (SELECT v AS qv,
                 {', '.join(f'b{t} AS qb{t}' for t in range(_ANN_TABLES))}
          FROM bucketed WHERE vec_id = {_QUERY_VEC_ID})
    SELECT b.vec_id,
           round({_duck_dot('b.v', 'qv')}
                 / (sqrt({_duck_dot('b.v', 'b.v')}) * sqrt({_duck_dot('qv', 'qv')})),
                 6) AS cosine_sim
    FROM bucketed b, q
    WHERE ({_MULTI_MATCH}) AND b.vec_id <> {_QUERY_VEC_ID}
    ORDER BY cosine_sim DESC, b.vec_id ASC
    LIMIT 10
"""


@register(
    "similarity_ivf_kmeans_topk",
    tags=("llm", "similarity", "ivf", "rows-only"),
)
def similarity_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-centroid IVF ANN (sampled spherical k-means fit). Declared
    rows-only: no SQL oracle can replay Lloyd iterations; pytest pins
    recall@10 >= the hash-centroid tier and exact score agreement with
    brute force, and bench reports its recall each run. r10: same index
    shape as the retuned hash tier — n_list 32, n_probe 8, spilled 2x
    assignment; recall@10 0.6 -> 0.8 canonical (0.49 -> 0.84 mean over 7
    query ids at sf0.1). r12 (VERDICT r11 ask #7): n_probe 8 -> 12 with
    the hash tier — recall@10 0.8 -> 0.9 canonical / 0.90 mean / 0.8 min
    at sf0.1 (0.9/0.93/0.8 at sf0.01), wall flat."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_kmeans_topk(
        emb, "vec_id", "embedding", _QUERY_VEC_ID,
        k=10, n_list=32, n_probe=12, n_assign=2,
    )


# Multi-probe amplification (Lv et al., VLDB 2007): same storage as the
# single-table tier (one bucket id per vector); recall is recovered by
# probing the best perturbed buckets, where EVERY plane subset is a
# candidate perturbation ranked by the sum of squared margins of its
# flipped planes (the paper's likelihood ordering). r10's single-bit
# variant plateaued at recall 0.4 (n_flip=5: the remaining misses sat
# >= 2 plane flips from the query's bucket); ranked multi-bit masks
# reach them at the same probe budget (r11 measurement in BENCH_NOTES).

# r11 probe-budget sweep (fresh JVM, sf0.1, qids {0,7,13}): ranked
# multi-bit masks give recall 0.4/0.4 -> 0.5/0.6 -> 0.9/0.8 -> 1.0/0.9
# (canonical/worst) at n_flip 5/7/9/11, latency flat ~1.2 s. Finer
# indexes (bits 5/6) are WORSE at equal probes on this near-uniform
# synthetic table (recall 0.5/0.4 at 16-20 probes) — the per-plane
# margin signal is too weak to concentrate neighbors, so the honest
# lever is the probe budget, not more planes. n_flip=11 probes 12/16
# buckets: a large fraction HERE because the synthetic embeddings
# barely cluster (single-bucket recall 0.1); on clustered real
# corpora the same ranked-mask machinery reaches the same recall at
# a far smaller probed fraction. r12 (VERDICT r11 ask #4): 9 -> 11
# after the sf0.01 sweep (n_flip 9/11/13 -> recall 0.8/0.9/1.0 at
# sf0.01, 0.9/1.0/1.0 at sf0.1, latency flat ~1.1 s) — floors raised
# to 0.8 (pytest, sf0.01) / 0.9 (bench, sf0.1).
_N_FLIP = 11

_PROBE_MARGINS = [
    " + ".join(
        f"qv[{i + 1}] * ({_pseudo_coef(f'plane:{b}:{i}')})" for i in range(_DIM)
    )
    for b in range(_ANN_BITS)
]

# (score, mask) structs for ALL 2^bits perturbations — generated from the
# same Python loop as the engine expression so the float term order (set
# bits in ascending plane order) is identical on both sides
_MP_MASKS = ", ".join(
    "struct_pack(sc := "
    + (
        " + ".join(f"s{b}" for b in range(_ANN_BITS) if (m >> b) & 1)
        or "CAST(0.0 AS DOUBLE)"
    )
    + f", m := {m})"
    for m in range(1 << _ANN_BITS)
)

_ANN_MULTIPROBE_ORACLE = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    bucketed AS (
        SELECT vec_id, v, {_duck_bucket('v')} AS bucket FROM vecs
    ),
    q AS (SELECT v AS qv, bucket AS qb FROM bucketed
          WHERE vec_id = {_QUERY_VEC_ID}),
    mar AS (
        SELECT qb, {", ".join(
            f"({m}) * ({m}) AS s{b}" for b, m in enumerate(_PROBE_MARGINS)
        )}
        FROM q
    ),
    pm AS (SELECT qb, unnest([{_MP_MASKS}]) AS s FROM mar),
    probes AS (
        SELECT xor(qb, s.m) AS p
        FROM pm ORDER BY s.sc, s.m LIMIT {_N_FLIP + 1}
    )
    SELECT b.vec_id,
           round({_duck_dot('b.v', 'qv')}
                 / (sqrt({_duck_dot('b.v', 'b.v')}) * sqrt({_duck_dot('qv', 'qv')})),
                 6) AS cosine_sim
    FROM bucketed b, probes, q
    WHERE b.bucket = probes.p AND b.vec_id <> {_QUERY_VEC_ID}
    ORDER BY cosine_sim DESC, b.vec_id ASC
    LIMIT 10
"""


@register(
    "similarity_lsh_multiprobe_topk",
    oracle=_ANN_MULTIPROBE_ORACLE,
    tags=("llm", "similarity", "lsh"),
)
def similarity_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: single-table storage, (1 + n_flip)/2^bits
    candidate fraction, recall recovered by probing the best perturbed
    buckets under the Lv et al. squared-margin ranking over ALL plane
    subsets (r11: multi-bit masks lifted recall 0.4 -> 0.9 at sf0.1)."""
    from ..operators.similarity import lsh_multiprobe_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_multiprobe_topk(
        emb,
        "vec_id",
        "embedding",
        _QUERY_VEC_ID,
        dim=_DIM,
        k=10,
        bits=_ANN_BITS,
        n_flip=_N_FLIP,
    )


@register(
    "similarity_ann_lsh_multitable_topk",
    oracle=_ANN_MULTI_ORACLE,
    tags=("llm", "similarity", "lsh"),
)
def similarity_ann_lsh_multitable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_multitable_topk(
        emb,
        "vec_id",
        "embedding",
        _QUERY_VEC_ID,
        dim=_DIM,
        k=10,
        bits=_ANN_BITS,
        tables=_ANN_TABLES,
    )


# ---------------------------------------------------------------------------
# Text analysis: per-doc stats/quality, language ID, fingerprints.
# ---------------------------------------------------------------------------


@register(
    "doc_stats",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           len(words) AS n_tokens,
           len(list_distinct(words)) AS n_distinct_tokens,
           round(CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 6)
               AS type_token_ratio,
           round(CAST(list_sum(list_transform(words, t -> strlen(t))) AS DOUBLE)
                 / len(words), 6) AS avg_token_len,
           round(0.4 * (CAST(len(list_distinct(words)) AS DOUBLE) / len(words))
                 + 0.3 * least(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (1.0 - least(
                       (CAST(list_sum(list_transform(words, t -> strlen(t))) AS DOUBLE)
                        / len(words)) / 10.0, 1.0)), 6) AS quality
    FROM toks
    WHERE len(words) > 0
    """,
    tags=("llm", "text"),
)
def doc_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return doc_stats(docs, "text", "doc_id")


_LANG_SCORES = {
    "en": "('the','a','and','of','to')",
    "fr": "('le','la','et','de','un')",
    "de": "('der','die','und','das','ein')",
    "es": "('el','la','y','de','que')",
}
_SCORE_EXPRS = ",\n           ".join(
    f"len(list_filter(words, t -> lower(t) IN {w})) AS s_{lang}"
    for lang, w in _LANG_SCORES.items()
)


@register(
    "language_id",
    oracle=f"""
    WITH {_TOKS_CTE},
    scores AS (
        SELECT doc_id,
           {_SCORE_EXPRS}
        FROM toks
    )
    SELECT doc_id,
           CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
                WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
                WHEN s_fr = greatest(s_fr, s_de, s_es) THEN 'fr'
                WHEN s_de = greatest(s_de, s_es) THEN 'de'
                ELSE 'es' END AS predicted_lang
    FROM scores
    """,
    tags=("llm", "text"),
)
def language_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return language_id(docs, "text", "doc_id")


@register(
    "token_fingerprints",
    oracle=rf"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(words,
                       t -> CAST(strlen(t) * 31 + ascii(substr(t, 1, 1)) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint,
           len(words) AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))
               AS bpe_tokens
    FROM toks JOIN documents USING (doc_id)
    """,
    tags=("llm", "text", "fingerprint"),
)
def token_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return fingerprints(docs, "text", "doc_id")


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary payloads through Arrow-batched mapInPandas.
# ---------------------------------------------------------------------------


@register(
    "media_byte_stats",
    oracle="""
    SELECT doc_id AS asset_id,
           octet_length(encode(text)) AS payload_bytes,
           CAST(list_sum([ascii(substr(text, i, 1))
                          for i in range(1, least(strlen(text), 64) + 1)]) AS BIGINT)
               AS feature_checksum
    FROM documents
    WHERE text IS NOT NULL
    """,
    tags=("llm", "multimodal"),
)
def media_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents-as-binary-assets through the Arrow decode path; the oracle
    recomputes byte length + first-64-byte checksum from the text (ASCII
    corpus, so bytes == characters)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    decoded = decode_assets(documents_as_assets(docs))
    return decoded.select("asset_id", "payload_bytes", "feature_checksum")


@register(
    "media_frame_sample",
    oracle="""
    WITH a AS (
        SELECT doc_id AS asset_id, octet_length(encode(text)) AS n
        FROM documents WHERE text IS NOT NULL
    ),
    f AS (
        SELECT asset_id, n, greatest(1, n // 4) AS step,
               unnest(range(4)) AS frame_idx
        FROM a
    )
    SELECT asset_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(frame_idx * 1000 AS BIGINT) AS ts_ms,
           CAST(CASE WHEN frame_idx * step < n
                     THEN least(step, n - frame_idx * step)
                     ELSE 0 END AS BIGINT) AS frame_len
    FROM f
    """,
    tags=("llm", "multimodal"),
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling through the 1->N Arrow fan-out path: 4 frames per
    asset with deterministic byte-slice stubs; the oracle replays each
    frame's length and timestamp from the payload size alone (the frame
    BYTES are pinned by `tests/test_multimodal.py` instead — a blob-slice
    expression per frame is not reasonably expressible in SQL)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    frames = sample_frames(documents_as_assets(docs), n_frames=4)
    return frames.select(
        "asset_id",
        "frame_idx",
        "ts_ms",
        F.octet_length("frame").cast("bigint").alias("frame_len"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs: OR'd multi-band hyperplane LSH
# candidate join (bands x narrow tables, verify-once), exact cosine
# verification. Random-pair candidates ~ n^2 * bands/2^bits — the narrow-
# band OR replaces the old single-6-bit-table n^2/64 within-bucket blowup.
# ---------------------------------------------------------------------------

_NDUP_BANDS = 6
_NDUP_BITS = 10
_NDUP_THRESHOLD = 0.2
_NDUP_SALT = "ndupband"


def _duck_band_bucket(vec: str, band: int) -> str:
    """DuckDB twin of one band of similarity._multitable_buckets_udf: same
    md5-derived plane coefficients (salt:{band}:{bit}:{dim} keys), same
    left-to-right accumulation, so sign decisions match bit-for-bit."""
    out = []
    for b in range(_NDUP_BITS):
        terms = " + ".join(
            f"{vec}[{i + 1}] * ({_pseudo_coef(f'{_NDUP_SALT}:{band}:{b}:{i}')})"
            for i in range(_DIM)
        )
        out.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(out)


_NDUP_BAND_COLS = ",\n               ".join(
    f"{_duck_band_bucket('v', t)} AS b{t}" for t in range(_NDUP_BANDS)
)
_NDUP_MATCH_ANY = " OR ".join(f"a.b{t} = b.b{t}" for t in range(_NDUP_BANDS))

_EMB_NDUP_ORACLE = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    bucketed AS (
        SELECT vec_id, v,
               {_NDUP_BAND_COLS}
        FROM vecs
    ),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
        FROM bucketed a JOIN bucketed b
          ON a.vec_id < b.vec_id AND ({_NDUP_MATCH_ANY})
    )
    SELECT id_a, id_b,
           round({_duck_dot('va', 'vb')}
                 / (sqrt({_duck_dot('va', 'va')}) * sqrt({_duck_dot('vb', 'vb')})),
                 6) AS cosine_sim
    FROM pairs
    WHERE round({_duck_dot('va', 'vb')}
                / (sqrt({_duck_dot('va', 'va')}) * sqrt({_duck_dot('vb', 'vb')})),
                6) >= {_NDUP_THRESHOLD}
"""


@register(
    "dedup_embedding_pairs",
    oracle=_EMB_NDUP_ORACLE,
    tags=("llm", "dedup", "similarity"),
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= threshold)
    via OR'd multi-band hyperplane LSH with verify-once candidates — see
    ``similarity.banded_ndup_pairs`` for the recall/candidate-count math
    that replaced the old single 6-bit table (n^2/64 growth at scale)."""
    from ..operators.similarity import banded_ndup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return banded_ndup_pairs(
        emb,
        "vec_id",
        "embedding",
        dim=_DIM,
        threshold=_NDUP_THRESHOLD,
        bands=_NDUP_BANDS,
        bits=_NDUP_BITS,
        salt=_NDUP_SALT,
    )


# ---------------------------------------------------------------------------
# Composed training-data curation: quality filter + lang filter + near-dup
# removal in one declarative pipeline (the shape a 100 TB pretraining-data
# job actually runs).
# ---------------------------------------------------------------------------


@register(
    "curated_corpus",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id, shingles,
           {_SIG_COLS}
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
        SELECT doc_id, unnest([{_BAND_EXPRS}]) AS band FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    dupes AS (
        SELECT DISTINCT id_b
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.3
    ),
    stats AS (
        SELECT doc_id,
               len(words) AS n_tokens,
               round(0.4 * (CAST(len(list_distinct(words)) AS DOUBLE) / len(words))
                 + 0.3 * least(CAST(len(words) AS DOUBLE) / 100.0, 1.0)
                 + 0.3 * (1.0 - least(
                       (CAST(list_sum(list_transform(words, t -> strlen(t))) AS DOUBLE)
                        / len(words)) / 10.0, 1.0)), 6) AS quality
        FROM toks WHERE len(words) > 0
    )
    SELECT d.doc_id, s.n_tokens, s.quality
    FROM documents d
    JOIN stats s USING (doc_id)
    WHERE s.quality >= 0.5 AND s.n_tokens >= 20
      AND d.doc_id NOT IN (SELECT id_b FROM dupes)
    """,
    tags=("llm", "curation"),
)
def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep docs with quality >= 0.5 and >= 20 tokens that are not near-dups
    (minhash-LSH verified, keep-lowest-id policy)."""
    from ..operators.textstats import doc_stats

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    stats = doc_stats(docs, "text", "doc_id").select("doc_id", "n_tokens", "quality")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.3)
    drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return (
        stats.filter((F.col("quality") >= 0.5) & (F.col("n_tokens") >= 20))
        .join(drop, "doc_id", "left_anti")
    )


_EXACT_SUBSTR_LEN = 40

_EXACT_SUBSTR_ORACLE = f"""
    WITH base AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND length(text) >= {_EXACT_SUBSTR_LEN}
    ),
    pos_t AS (
        SELECT doc_id, text,
               unnest(range(1, length(text) - {_EXACT_SUBSTR_LEN} + 2)) AS pos
        FROM base
    ),
    wins AS (
        SELECT doc_id, pos,
               substr(md5(substr(text, CAST(pos AS INTEGER),
                                 {_EXACT_SUBSTR_LEN})), 1, 16) AS wk
        FROM pos_t
    ),
    m AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
        FROM wins a JOIN wins b ON a.wk = b.wk AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT id_a, id_b, pa - pb AS diag, pa,
               pa - row_number() OVER (
                   PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp
        FROM m
    ),
    runs AS (
        SELECT id_a, id_b, diag, grp, count(*) AS run
        FROM isl GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           CAST(max(run) + {_EXACT_SUBSTR_LEN} - 1 AS BIGINT) AS max_shared_len,
           CAST(sum(run) AS BIGINT) AS shared_windows
    FROM runs GROUP BY 1, 2
"""


_FUZZY_ORACLE = """
    WITH base AS (
        SELECT s_suppkey AS id, s_name AS t, length(s_name) AS len
        FROM supplier WHERE s_name IS NOT NULL AND length(s_name) >= 2
    ),
    grams AS (
        SELECT id, len, substr(t, CAST(p AS INTEGER), 2) AS gram,
               count(*) AS c
        FROM (SELECT id, len, t,
                     unnest(range(1, len)) AS p
              FROM base)
        GROUP BY 1, 2, 3
    ),
    shared AS (
        SELECT a.id AS id_a, b.id AS id_b, a.len AS la, b.len AS lb,
               sum(least(a.c, b.c)) AS common
        FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
        WHERE abs(a.len - b.len) <= 1
        GROUP BY 1, 2, 3, 4
    ),
    cand AS (
        SELECT id_a, id_b FROM shared
        WHERE common >= greatest(greatest(la, lb) - 1 - 2, 1)
    )
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(x.t, y.t) AS INTEGER) AS edit_distance
    FROM cand c JOIN base x ON x.id = c.id_a JOIN base y ON y.id = c.id_b
    WHERE levenshtein(x.t, y.t) <= 1
"""


@register(
    "supplier_name_near_matches",
    oracle=_FUZZY_ORACLE,
    tags=("llm", "dedup", "entity-resolution"),
)
def supplier_name_near_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over supplier names: every pair within Levenshtein
    distance 1 (single-digit typos between zero-padded keys), via the
    q-gram count-filter + exact-verify tier — the fuzzy twin of the exact
    dedup family."""
    from ..operators.dedup import fuzzy_match_pairs

    supp = load_table(spark, sf_dir, "supplier")
    return fuzzy_match_pairs(
        supp.select(F.col("s_suppkey"), F.col("s_name")),
        "s_name",
        "s_suppkey",
        max_dist=1,
        q=2,
    )


_TRIM_ORACLE = f"""
    WITH base AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND length(text) >= {_EXACT_SUBSTR_LEN}
    ),
    pos_t AS (
        SELECT doc_id, text,
               unnest(range(1, length(text) - {_EXACT_SUBSTR_LEN} + 2)) AS pos
        FROM base
    ),
    wins AS (
        SELECT doc_id, pos,
               substr(md5(substr(text, CAST(pos AS INTEGER),
                                 {_EXACT_SUBSTR_LEN})), 1, 16) AS wk
        FROM pos_t
    ),
    m AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
        FROM wins a JOIN wins b ON a.wk = b.wk AND a.doc_id < b.doc_id
    ),
    isl AS (
        SELECT id_a, id_b, pa - pb AS diag, pa,
               pa - row_number() OVER (
                   PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp
        FROM m
    ),
    runs AS (
        SELECT id_a, id_b, diag, grp, count(*) AS run, min(pa) AS a_start
        FROM isl GROUP BY 1, 2, 3, 4
    ),
    spans AS (
        SELECT id_b AS doc_id, a_start - diag AS s,
               a_start - diag + run + {_EXACT_SUBSTR_LEN} - 2 AS e
        FROM runs
    ),
    flg AS (
        SELECT doc_id, s, e,
               CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END AS ni
        FROM (
            SELECT doc_id, s, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pm
            FROM spans
        )
    ),
    isl2 AS (
        SELECT doc_id, s, e,
               sum(ni) OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS isl
        FROM flg
    )
    SELECT doc_id,
           CAST(min(s) AS BIGINT) AS trim_start,
           CAST(max(e) AS BIGINT) AS trim_end,
           CAST(max(e) - min(s) + 1 AS BIGINT) AS span_len
    FROM isl2 GROUP BY doc_id, isl
"""


@register(
    "dedup_substring_trim_plan",
    oracle=_TRIM_ORACLE,
    tags=("llm", "dedup", "exact-substring"),
)
def dedup_substring_trim_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of ExactSubstr (Lee et al. 2022): per document,
    the merged 1-based character intervals to delete so every >=40-char
    cross-doc substring survives only in its lowest-id holder — spans
    from different partners union into maximal intervals, so applying the
    plan is a single per-doc pass."""
    from ..operators.dedup import exact_substring_trim_spans

    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_trim_spans(
        docs, "text", "doc_id", min_len=_EXACT_SUBSTR_LEN
    )


@register(
    "dedup_exact_substring_pairs",
    oracle=_EXACT_SUBSTR_ORACLE,
    tags=("llm", "dedup", "exact-substring"),
)
def dedup_exact_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT character-level long-substring dedup (ExactSubstr, Lee et al.
    2022): every doc pair sharing a >=40-char substring, with the exact
    longest-shared-substring length recovered from maximal diagonal runs
    of matched windows. The no-miss complement to the token-gram
    approximation in ``cross_doc_gram_share`` — ROADMAP #10."""
    from ..operators.dedup import exact_substring_pairs

    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_pairs(
        docs, "text", "doc_id", min_len=_EXACT_SUBSTR_LEN
    )


# ---------------------------------------------------------------------------
# Approximate aggregates: sketch outputs are engine-specific, so the gate
# cannot compare the sketch VALUES cross-engine — instead the query emits an
# invariant VERDICT (is each sketch within its declared error guarantee of
# the Spark-exact answer?) next to the exact doc counts, and the oracle
# emits the same shape with TRUE literals. The driver's rows+schema+hash
# gate then asserts both that the exact columns match cross-engine and that
# every sketch honors its guarantee (VERDICT r11 ask #6 — this query left
# the rows-only tier in r12).
# ---------------------------------------------------------------------------


@register(
    "approx_stats",
    oracle="""
    SELECT lang,
           count(*) AS doc_count,
           TRUE AS sources_ok,
           TRUE AS p50_ok,
           TRUE AS p95_ok
    FROM documents GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "approx"),
)
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct + approximate percentiles per language (sketch-based —
    the 100 TB path where exact distinct/percentile would shuffle raw
    data), emitted as a BOUNDS-VERDICT table (VERDICT r11 ask #6):

    - ``sources_ok``: |approx_count_distinct - exact| <= max(1, 15% of
      exact) — 3x the HLL++ default rsd (0.05).
    - ``p50_ok``/``p95_ok``: percentile_approx(accuracy=10000) guarantees
      the returned element's rank r satisfies |r - q*n| <= n/accuracy;
      the check recovers v's exact rank interval [#(<v)+1, #(<=v)] with
      one more combinable aggregate and asserts it intersects
      [q*n - tol, q*n + tol] at tol = max(1, 2n/accuracy) (2x guarantee
      slack) — the sketch's OWN contract, no interpolation slop, valid
      at any group size.

    Scale shape: two combinable passes over documents (the sketch pass,
    then the rank-count pass against the broadcast per-lang sketch row) —
    never a raw-value shuffle; the verdict join is broadcast (|langs|
    rows). The exact count_distinct in the check is dimension-bounded
    (source cardinality), kept OUT of the emitted columns so the output
    stays stable while the sketches stay the 100 TB plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    pcts = F.percentile_approx("n_chars", [0.5, 0.95], 10_000)
    sk = docs.groupBy("lang").agg(
        F.approx_count_distinct("source").alias("_approx_sources"),
        F.element_at(pcts, 1).alias("_p50"),
        F.element_at(pcts, 2).alias("_p95"),
        F.count("*").alias("doc_count"),
        F.count_distinct("source").alias("_exact_sources"),
        F.count("n_chars").alias("_n"),  # non-null ranks only
    )
    # eqNullSafe, not a plain equi-join: a NULL-lang group is a real
    # group for both engines, and a null-keyed inner join would silently
    # drop it (the exact bug class the r11 novelty-by-source fix caught;
    # regression-pinned in tests/test_llm_ops.py on a NULL-lang corpus)
    j = docs.join(
        F.broadcast(sk.withColumnRenamed("lang", "_sk_lang")),
        F.col("lang").eqNullSafe(F.col("_sk_lang")),
        "inner",
    ).drop("_sk_lang")
    ranks = j.groupBy("lang").agg(
        F.first("doc_count").alias("doc_count"),
        F.first("_approx_sources").alias("_approx_sources"),
        F.first("_exact_sources").alias("_exact_sources"),
        F.first("_p50").alias("_p50"),
        F.first("_p95").alias("_p95"),
        F.first("_n").alias("_n"),
        F.count_if(F.col("n_chars") < F.col("_p50")).alias("_lt50"),
        F.count_if(F.col("n_chars") <= F.col("_p50")).alias("_le50"),
        F.count_if(F.col("n_chars") < F.col("_p95")).alias("_lt95"),
        F.count_if(F.col("n_chars") <= F.col("_p95")).alias("_le95"),
    )
    tol = F.greatest(F.lit(1.0), 2.0 * F.col("_n") / F.lit(10_000.0))

    def rank_ok(q: float, lt: str, le: str):
        target = F.lit(q) * F.col("_n")
        # vacuously true when the group has no non-null values (the
        # sketch returns NULL and there is no rank contract to check —
        # without this guard the NULL comparison would emit NULL vs the
        # oracle's TRUE on an all-NULL corpus)
        return F.when(F.col("_n") == 0, F.lit(True)).otherwise(
            (F.col(lt) + 1 <= target + tol) & (F.col(le) >= target - tol)
        )

    src_tol = F.greatest(
        F.lit(1.0), F.round(0.15 * F.col("_exact_sources")).cast("double")
    )
    return (
        ranks.select(
            "lang",
            "doc_count",
            (
                F.abs(
                    F.col("_approx_sources").cast("double")
                    - F.col("_exact_sources").cast("double")
                )
                <= src_tol
            ).alias("sources_ok"),
            rank_ok(0.5, "_lt50", "_le50").alias("p50_ok"),
            rank_ok(0.95, "_lt95", "_le95").alias("p95_ok"),
        )
        .orderBy("lang")
    )


@register(
    "exact_stats",
    oracle="""
    SELECT lang,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           round(quantile_cont(n_chars, 0.5), 6) AS chars_p50,
           round(quantile_cont(n_chars, 0.95), 6) AS chars_p95,
           count(*) AS doc_count
    FROM documents GROUP BY 1
    """,
    tags=("llm", "profiling"),
)
def exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT twin of ``approx_stats``: per-language count(DISTINCT source)
    and exact interpolated percentiles (percentile_cont semantics, which
    DuckDB's quantile_cont replays bit-for-bit on integer inputs) — the
    oracle-checked anchor for the distinct+percentile surface, while the
    sketch tier above stays rows-only (HLL/KLL outputs are engine-specific
    by construction).

    Scale contrast with the sketch tier: count(DISTINCT) shuffles (lang,
    source) pairs and exact percentiles shuffle the value column, both
    fine at dimension-bounded cardinalities; at 100 TB raw-event scale the
    approx_stats sketches (mergeable, constant-size state) are the plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("chars_p50"),
        F.round(F.percentile("n_chars", F.lit(0.95)), 6).alias("chars_p95"),
        F.count("*").alias("doc_count"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs (the no-miss verifier tier; contrast
# with dedup_minhash_pairs which is the LSH approximation of this set).
# ---------------------------------------------------------------------------

_NGRAM_JACCARD_ORACLE = f"""
    WITH {_SHINGLES_CTE},
    g AS (SELECT doc_id, unnest(shingles) AS gram FROM sh),
    sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
"""


@register(
    "dedup_ngram_jaccard_pairs",
    oracle=_NGRAM_JACCARD_ORACLE,
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive physical strategy: a sampled gram-density sketch picks
    inverted-index counting (dense shared vocabulary) vs AllPairs prefix
    filtering (sparse corpus). Both are exact, so one oracle covers both."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_adaptive(docs, "text", "doc_id", n=3, threshold=0.5)


@register(
    "dedup_ngram_jaccard_pairs_prefix",
    oracle=_NGRAM_JACCARD_ORACLE,
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard_pairs_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pin the AllPairs/PPJoin prefix-filtered path specifically: the
    adaptive entry may legitimately choose the inverted-index plan on the
    dense synthetic corpus, so this entry keeps the sparse-corpus scale
    path (the one that survives a skewed 100 TB crawl) oracle-gated."""
    from ..operators.dedup import ngram_jaccard_pairs_prefix

    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs_prefix(docs, "text", "doc_id", n=3, threshold=0.5)


# ---------------------------------------------------------------------------
# Transitive canonicalization: connected components over the near-dup pair
# graph (pairs alone aren't a dedup policy — a chain a~b, b~c must land in
# ONE cluster). Oracle replays the closure with a recursive CTE.
# ---------------------------------------------------------------------------

_CANONICAL_CTE = f"""{_SHINGLES_CTE},
    g AS (SELECT doc_id, unnest(shingles) AS gram FROM sh),
    sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
        SELECT doc_id AS u, doc_id AS r FROM documents
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ),
    cmap AS (SELECT u AS doc_id, min(r) AS canonical_id FROM reach GROUP BY u)"""

_CANONICAL_ORACLE = f"""
    WITH RECURSIVE {_CANONICAL_CTE}
    SELECT doc_id, canonical_id FROM cmap
"""


@register(
    "dedup_canonical_map",
    oracle=_CANONICAL_ORACLE,
    tags=("llm", "dedup", "graph"),
)
def dedup_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document mapped to the canonical representative (min doc_id) of
    its TRANSITIVE near-dup cluster: exact n-gram Jaccard pairs (threshold
    0.5) -> connected components (pointer-jumping label propagation) ->
    left join back so unique docs map to themselves."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_adaptive(docs, "text", "doc_id", n=3, threshold=0.5)
    cc = connected_components(pairs, "id_a", "id_b")
    return (
        docs.select("doc_id")
        .join(
            cc.select(F.col("u").alias("doc_id"), "component"), "doc_id", "left"
        )
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("canonical_id"),
        )
    )


# ---------------------------------------------------------------------------
# IVF ANN (inverted-list scale path; third similarity tier after brute-force
# and hyperplane LSH).
# ---------------------------------------------------------------------------

# r10 retune (VERDICT r9 ask #3): finer lists + spilled 2x assignment.
# r09's (n_list=8, n_probe=3, assign=1) measured recall@10 0.6 canonical /
# 0.47 mean over 7 query ids; the grid sweep found (32, 8, assign=2) at
# 0.8 canonical / 0.81 mean for the same ~1 s wall. Effective scan
# fraction: 2*8/32 = 0.5 of STORED entries (storage is 2x n, so ~0.5 n
# exact re-scores per query, deduped). n_probe=3 at n_list=8 capped at
# 0.6 because true neighbors sat in unprobed Voronoi cells; assign=2
# stores border vectors in both neighboring cells instead of probing more.
# r12 retune (VERDICT r11 ask #7): n_probe 8 -> 12 from the (n_probe,
# n_assign) sweep — recall@10 0.8 -> 1.0 canonical / 0.84 mean / 0.8 min
# over 7 query ids at sf0.1 (1.0/0.91/0.8 at sf0.01), wall flat ~1 s.
# Probe budget, not storage: n_assign=3 bought +0.05 mean at 1.5x
# storage, the wrong trade when the probe budget alone reaches the
# floor. 12/32 lists probed is a large fraction HERE because the
# synthetic embeddings barely cluster (the multiprobe tier documents the
# same effect); on clustered real corpora the same machinery reaches the
# floor at a far smaller probed fraction.
_IVF_NLIST = 32
_IVF_NPROBE = 12
_IVF_NASSIGN = 2

_IVF_ORACLE = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cents AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid,
               v AS cv
        FROM vecs
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_IVF_NLIST}
    ),
    scored AS (
        SELECT vec_id, v, cid,
               {_duck_dot('v', 'cv')}
               / (sqrt({_duck_dot('v', 'v')}) * sqrt({_duck_dot('cv', 'cv')})) AS sim
        FROM vecs, cents
    ),
    assigned AS (
        SELECT vec_id, v, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM scored
        ) WHERE rn <= {_IVF_NASSIGN}
    ),
    probes AS (
        SELECT cid FROM scored WHERE vec_id = {_QUERY_VEC_ID}
        ORDER BY sim DESC, cid ASC LIMIT {_IVF_NPROBE}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id, a.v
        FROM assigned a JOIN probes USING (cid)
        WHERE a.vec_id <> {_QUERY_VEC_ID}
    ),
    q AS (SELECT v AS qv FROM vecs WHERE vec_id = {_QUERY_VEC_ID})
    SELECT c.vec_id,
           round({_duck_dot('c.v', 'qv')}
                 / (sqrt({_duck_dot('c.v', 'c.v')}) * sqrt({_duck_dot('qv', 'qv')})),
                 6) AS cosine_sim
    FROM cand c, q
    ORDER BY cosine_sim DESC, c.vec_id ASC
    LIMIT 10
"""


@register(
    "similarity_ivf_topk",
    oracle=_IVF_ORACLE,
    tags=("llm", "similarity", "ivf"),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, "vec_id", "embedding", _QUERY_VEC_ID,
        k=10, n_list=_IVF_NLIST, n_probe=_IVF_NPROBE, n_assign=_IVF_NASSIGN,
    )


# ---------------------------------------------------------------------------
# Ranking-window family beyond row_number (SURVEY.md §2.7 notes rank/
# dense_rank absent from the reference; the engine exposes them).
# ---------------------------------------------------------------------------


@register(
    "lang_source_rank",
    oracle="""
    WITH c AS (
        SELECT lang, source, count(*) AS doc_count
        FROM documents GROUP BY 1, 2
    )
    SELECT lang, source, doc_count, rnk FROM (
        SELECT *, dense_rank() OVER (
            PARTITION BY lang ORDER BY doc_count DESC, source ASC) AS rnk
        FROM c
    ) WHERE rnk <= 3
    """,
    tags=("llm", "window-rank"),
)
def lang_source_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 sources per language by document count (dense_rank with a
    total order on ties)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(F.count("*").alias("doc_count"))
    w = Window.partitionBy("lang").orderBy(F.desc("doc_count"), F.asc("source"))
    return (
        counts.withColumn("rnk", F.dense_rank().over(w))
        .filter(F.col("rnk") <= 3)
    )


# ---------------------------------------------------------------------------
# Training-pipeline utilities: deterministic splits, vocabulary, scrubbing,
# embedding-space diagnostics. All md5/regex-based so the oracle replays the
# exact assignment, not a statistical summary of it.
# ---------------------------------------------------------------------------


@register(
    "corpus_split_counts",
    oracle="""
    SELECT CASE
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'val'
             ELSE 'test'
           END AS split,
           lang,
           count(*) AS doc_count
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("llm", "split"),
)
def corpus_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, reshuffle-proof train/val/test assignment from the
    first hex digit of md5(doc_id): 0-b => train (75%), c-d => val (12.5%),
    e-f => test (12.5%). Content-independent and stable as the corpus grows
    — the property that prevents eval-set leakage across pipeline reruns.
    Pure expression over the scan: no shuffle beyond the final count."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = (
        F.when(h <= "b", F.lit("train"))
        .when(h <= "d", F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.groupBy(split.alias("split"), "lang").agg(
        F.count("*").alias("doc_count")
    )


@register(
    "vocab_top_tokens",
    oracle=f"""
    WITH {_TOKS_CTE},
    tok AS (SELECT lower(unnest(words)) AS token FROM toks)
    SELECT token, count(*) AS token_count
    FROM tok
    GROUP BY token
    ORDER BY token_count DESC, token ASC
    LIMIT 50
    """,
    tags=("llm", "vocab"),
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-50 lowercased whitespace tokens. The
    scale shape is explode -> partial-agg -> TakeOrderedAndProject: the
    map-side combine collapses each partition to its distinct tokens before
    the single shuffle, and no global sort materializes."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return (
        docs.select(F.explode(tokens("text")).alias("t"))
        .select(F.lower("t").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("token_count"))
        .orderBy(F.desc("token_count"), F.asc("token"))
        .limit(50)
    )


_COVERAGE_KS = (1, 2, 4, 8, 16)


@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH {_TOKS_CTE},
    tok AS (SELECT lower(unnest(words)) AS term FROM toks),
    vcc_counts AS (SELECT term, count(*) AS freq FROM tok GROUP BY 1),
    vcc_ranked AS (
        SELECT freq,
               row_number() OVER (ORDER BY freq DESC, term ASC) AS rnk,
               sum(freq) OVER (ORDER BY freq DESC, term ASC
                               ROWS UNBOUNDED PRECEDING) AS cum
        FROM vcc_counts
    ),
    vcc_tot AS (SELECT sum(freq) AS total FROM vcc_counts),
    vcc_ks(k) AS (VALUES {", ".join(f"({k})" for k in _COVERAGE_KS)})
    SELECT vcc_ks.k AS top_k,
           CAST(count(*) AS BIGINT) AS vocab_types,
           CAST(max(cum) AS BIGINT) AS covered_tokens,
           round(CAST(max(cum) AS DOUBLE) / CAST(max(total) AS DOUBLE), 6)
               AS covered_frac
    FROM vcc_ks, vcc_tot, vcc_ranked
    WHERE vcc_ranked.rnk <= vcc_ks.k
    GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "vocab", "tokenizer", "planning"),
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the fraction of ALL token occurrences
    covered by the top-{1,2,4,8,16} most frequent (lowercased) types —
    the tokenizer-budget planning table (how much of the corpus a k-entry
    vocabulary explains; the Zipf-slope companion that reads in tokens
    instead of log-log fit coefficients). vocab_types = min(k, |V|), so
    the curve is honest when the vocabulary is smaller than k.

    Scale shape: token explode -> map-side-combinable (term, freq)
    aggregate (|V| rows, not corpus rows, cross the exchange), then the
    EXACT cumulative mass in frequency order via
    range_partitioned_running_sum — contiguous range slices + a bounded
    per-slice offset sidecar, never a single-task global window (the
    same discipline the plan audit pins for the decile family). The k
    thresholds join as a broadcast 5-row frame (nested-loop against
    rnk <= k is 5 comparisons/row) and max/count are combinable, so no
    stage sees more than |V| rows after the first aggregate.

    Integer token counts end-to-end; the single terminal division is the
    only float, so Spark/DuckDB agree bit-for-bit at round-6.
    """
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    counts = (
        docs.select(F.explode(tokens("text")).alias("t"))
        .select(F.lower("t").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    return coverage_curve_over_counts(counts)


def coverage_curve_over_counts(counts: DataFrame) -> DataFrame:
    """The coverage-curve core over ANY (term, freq) frame — reused by the
    batch query above and by the streaming composition ((term, freq) is an
    additive monoid, so foreach_batch_incremental_agg maintains it per
    micro-batch and the curve over the state equals batch exactly;
    parity-tested in tests/test_streaming_llm.py). Same seam discipline as
    autocorrelation_over_dense."""
    from ..operators.windows import range_partitioned_running_sum

    spark = counts.sparkSession
    # Persist the |V|-sized counts: they feed the running sum's EAGER
    # per-slice sidecar job, the final ranked plan, AND the total
    # aggregate — unpersisted, the full token explode upstream re-runs
    # per consumer (r11 review fix). Cache lifetime: backs the returned
    # LAZY frame; caller releases (bench.py/driver sim clearCache).
    counts = counts.persist()
    ranked = range_partitioned_running_sum(
        counts.withColumn("_one", F.lit(1).cast("long")),
        order=[F.desc("freq"), F.asc("term")],
        value_cols=["freq", "_one"],
        prefix="cum_",
    )  # cum_freq = exact cumulative mass, cum__one = exact rank
    total = counts.agg(F.sum("freq").cast("long").alias("_total"))
    ks = spark.createDataFrame(
        [(k,) for k in _COVERAGE_KS], "top_k int"
    )
    return (
        ranked.join(F.broadcast(ks), F.col("cum__one") <= F.col("top_k"))
        .crossJoin(F.broadcast(total))
        .groupBy("top_k")
        .agg(
            F.count("*").cast("bigint").alias("vocab_types"),
            F.max("cum_freq").cast("bigint").alias("covered_tokens"),
            F.round(
                F.max("cum_freq").cast("double")
                / F.max("_total").cast("double"),
                6,
            ).alias("covered_frac"),
        )
        .orderBy("top_k")
    )


_SHARD_KS = (8, 32, 128)

_TOKC = (
    "len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))"
)


@register(
    "shard_balance_stats",
    oracle=f"""
    WITH sb_docs AS (
        SELECT doc_id, {_TOKC} AS n_tok
        FROM documents WHERE text IS NOT NULL
    ),
    sb_lv AS (
        SELECT ks.k,
               CAST(concat('0x', substr(md5(concat('shard:',
                    CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT)
                   % ks.k AS shard,
               n_tok
        FROM sb_docs, (VALUES {", ".join(f"({k})" for k in _SHARD_KS)}) ks(k)
    ),
    sb_per AS (
        SELECT k, shard, sum(n_tok) AS toks
        FROM sb_lv GROUP BY 1, 2
    )
    SELECT k AS n_shards,
           CAST(count(*) AS BIGINT) AS used_shards,
           CAST(max(toks) AS BIGINT) AS max_tokens,
           CAST(sum(toks) AS BIGINT) AS total_tokens,
           CASE WHEN sum(toks) > 0 THEN
               round(CAST(max(toks) AS DOUBLE) * k
                     / CAST(sum(toks) AS DOUBLE), 6)
           END AS skew
    FROM sb_per GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "planning", "storage"),
)
def shard_balance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard balance planning table: hash-assign every document to
    k shards (deterministic md5 bucket of doc_id — the reshuffle-proof
    idiom corpus_split_counts uses) for k in {8, 32, 128} and report the
    token skew (max shard / ideal shard = max * k / total). The table a
    materialization step reads before picking its shard count: skew ~1
    means hash sharding balances the write; skew drifting up at large k
    means shards are token-starved and long-document placement dominates.

    Scale shape: ONE scan computes per-doc token counts and all three
    shard ids as columns; an inline array explode stacks the k-levels
    (3x skinny rows, no re-scan), then two map-side-combinable
    aggregates — (k, shard) token sums (at most 8+32+128 groups) and the
    per-k rollup. Integer token arithmetic; one terminal double division.
    """
    from ..functions.text import token_count
    from ..sources.sharding import shard_expr

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # shard_expr is SHARED with sources/sharding.py's writer, so this
    # planner's skew numbers are exactly the layout write_sharded_corpus
    # produces at the chosen k (planner-writer contract pinned in
    # tests/test_sharding.py)
    lv = docs.select(
        token_count("text").alias("n_tok"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("k"),
                        shard_expr(F.col("doc_id"), k).alias("shard"),
                    )
                    for k in _SHARD_KS
                ]
            )
        ).alias("_ks"),
    ).select("n_tok", F.col("_ks.k").alias("k"), F.col("_ks.shard").alias("shard"))
    per_shard = lv.groupBy("k", "shard").agg(F.sum("n_tok").alias("toks"))
    return shard_balance_over_counts(per_shard)


def shard_balance_over_counts(per_shard: DataFrame) -> DataFrame:
    """The shard-balance core over ANY (k, shard, toks) frame — reused by
    the batch query above and by the streaming composition ((k, shard)
    token sums are an additive monoid, so foreach_batch_incremental_agg
    maintains them per micro-batch and the rollup over the state equals
    batch exactly; parity-tested in tests/test_streaming_llm.py). Same
    seam discipline as coverage_curve_over_counts."""
    return (
        per_shard.groupBy(F.col("k").alias("n_shards"))
        .agg(
            F.count("*").cast("bigint").alias("used_shards"),
            F.max("toks").cast("bigint").alias("max_tokens"),
            F.sum("toks").cast("bigint").alias("total_tokens"),
            # NULL when the corpus has zero tokens — skew is undefined
            # and ANSI mode would otherwise crash on the division
            F.when(
                F.sum("toks") > 0,
                F.round(
                    F.max("toks").cast("double")
                    * F.col("n_shards")
                    / F.sum("toks").cast("double"),
                    6,
                ),
            ).alias("skew"),
        )
        .orderBy("n_shards")
    )


@register(
    "lang_entropy_by_source",
    oracle="""
    WITH le_counts AS (
        SELECT source, lang, count(*) AS c
        FROM documents
        WHERE source IS NOT NULL AND lang IS NOT NULL
        GROUP BY 1, 2
    ),
    le_tot AS (
        SELECT source, lang, c, sum(c) OVER (PARTITION BY source) AS t
        FROM le_counts
    ),
    le_terms AS (
        SELECT source, c, t,
               CAST(round(-(c / CAST(t AS DOUBLE))
                          * ln(c / CAST(t AS DOUBLE)), 9)
                    AS DECIMAL(20, 9)) AS term
        FROM le_tot
    )
    SELECT source,
           CAST(max(t) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           round(CAST(max(c) AS DOUBLE) / CAST(max(t) AS DOUBLE), 6)
               AS dominant_share,
           round(CAST(sum(term) AS DOUBLE), 6) AS lang_entropy_nats
    FROM le_terms GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "mixture", "profiling"),
)
def lang_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix health per source: doc count, distinct languages,
    dominant-language share, and the Shannon entropy (nats) of the
    language distribution — the mixture-design readout next to
    source_temperature_weights (a source whose entropy collapses to 0 is
    monolingual; one whose dominant share sinks is a crawl-quality flag).

    Determinism: each -p*ln(p) term is rounded to 1e-9 BEFORE a
    DECIMAL(20,9) sum (the source_temperature_weights
    round-before-DECIMAL-sum discipline), so the cross-engine result is
    partition-order-free. Scale shape: one combinable (source, lang)
    count, a window partitioned by source over that BOUNDED grid (never
    the doc table), one grouped rollup.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("lang").isNotNull()
    )
    counts = docs.groupBy("source", "lang").agg(F.count("*").alias("c"))
    return lang_entropy_over_counts(counts)


def lang_entropy_over_counts(counts: DataFrame) -> DataFrame:
    """The language-entropy core over ANY (source, lang, c) frame —
    reused by the batch query above and by the streaming composition
    ((source, lang) doc counts are an additive monoid, so
    foreach_batch_incremental_agg maintains them per micro-batch and the
    entropy rollup over the state equals batch exactly; parity-tested in
    tests/test_streaming_llm.py). Same seam discipline as
    coverage_curve_over_counts."""
    t = F.sum("c").over(Window.partitionBy("source"))
    p = F.col("c").cast("double") / F.col("t").cast("double")
    terms = counts.withColumn("t", t).withColumn(
        "term",
        F.round(-p * F.log(p), 9).cast("decimal(20,9)"),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("t").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_langs"),
            F.round(
                F.max("c").cast("double") / F.max("t").cast("double"), 6
            ).alias("dominant_share"),
            F.round(F.sum("term").cast("double"), 6).alias(
                "lang_entropy_nats"
            ),
        )
        .orderBy("source")
    )


@register(
    "pii_scrub_stats",
    oracle=r"""
    SELECT CAST(count(*) FILTER (len(regexp_extract_all(text, '[0-9]{4,}')) > 0)
                AS BIGINT) AS docs_affected,
           CAST(coalesce(sum(len(regexp_extract_all(text, '[0-9]{4,}'))), 0)
                AS BIGINT) AS total_redactions,
           CAST(coalesce(sum(len(text) - len(regexp_replace(text, '[0-9]{4,}', '', 'g'))), 0)
                AS BIGINT) AS chars_redacted
    FROM documents
    WHERE text IS NOT NULL
    """,
    tags=("llm", "scrub"),
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction audit for a scrubbing pass (pattern: digit runs of 4+ — the
    id/phone/credit-card shape): how many documents are touched, how many
    spans, how many characters. The scrub itself is regexp_replace on the
    scan; this query is the audit aggregate a pipeline logs next to it."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    pat = r"[0-9]{4,}"
    n_spans = F.regexp_count(F.col("text"), F.lit(pat))
    scrubbed_len = F.length(F.regexp_replace(F.col("text"), pat, ""))
    return docs.agg(
        F.count_if(n_spans > 0).cast("bigint").alias("docs_affected"),
        F.coalesce(F.sum(n_spans), F.lit(0)).cast("bigint").alias("total_redactions"),
        F.coalesce(F.sum(F.length("text") - scrubbed_len), F.lit(0))
        .cast("bigint")
        .alias("chars_redacted"),
    )


@register(
    "embedding_label_centroids",
    oracle="""
    WITH elems AS (
        SELECT label,
               unnest(list_transform(embedding, x -> round(CAST(x AS DOUBLE), 3)))
                   AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    sums AS (
        SELECT label, pos, sum(v) AS s, count(*) AS n
        FROM elems GROUP BY 1, 2
    )
    SELECT label,
           CAST(max(n) AS BIGINT) AS vec_count,
           round(sqrt(sum((s / n) * (s / n))), 6) AS centroid_norm
    FROM sums
    GROUP BY label
    """,
    tags=("llm", "embedding"),
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid norm — the embedding-space collapse/coverage
    diagnostic (a label whose centroid norm approaches 1 on unit vectors is
    a tight cluster; near 0 means the label spans the sphere). Elements are
    rounded to a 1e-3 grid before summing so the Spark and DuckDB float
    totals agree bit-for-bit; the aggregation is posexplode ->
    (label, pos) partial sums -> per-label fold, all JVM-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label", F.posexplode("embedding").alias("pos", "raw")
    ).select("label", "pos", F.round(F.col("raw").cast("double"), 3).alias("v"))
    sums = elems.groupBy("label", "pos").agg(
        F.sum("v").alias("s"), F.count("*").alias("n")
    )
    return sums.groupBy("label").agg(
        F.max("n").cast("bigint").alias("vec_count"),
        F.round(
            F.sqrt(F.sum((F.col("s") / F.col("n")) * (F.col("s") / F.col("n")))), 6
        ).alias("centroid_norm"),
    )


# ---------------------------------------------------------------------------
# Transitive keep-list: the canonical-policy sibling of dedup_keep_list.
# Greedy "drop every id_b" can drop BOTH endpoints of a chain's middle links;
# the canonical policy keeps exactly one doc (the min id) per TRANSITIVE
# near-dup cluster — the invariant production dedup wants.
# ---------------------------------------------------------------------------

_CANONICAL_KEEP_ORACLE = f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id, shingles,
           {_SIG_COLS}
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
        SELECT doc_id, unnest([{_BAND_EXPRS}]) AS band FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.3
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
        SELECT doc_id AS u, doc_id AS r FROM documents
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ),
    canon AS (
        SELECT u AS doc_id, min(r) AS canonical_id FROM reach GROUP BY u
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN canon c ON c.doc_id = d.doc_id
    WHERE c.doc_id = c.canonical_id
"""


@register(
    "dedup_canonical_keep",
    oracle=_CANONICAL_KEEP_ORACLE,
    tags=("llm", "dedup", "graph"),
)
def dedup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents surviving TRANSITIVE near-dup removal: MinHash-LSH verified
    pairs (threshold 0.3) -> connected components -> keep only each
    cluster's min doc_id. Contrast with dedup_keep_list (greedy drop-id_b,
    order-dependent on chains)."""
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.3)
    cc = connected_components(pairs, "id_a", "id_b")
    keep = cc.filter(F.col("u") == F.col("component")).select(
        F.col("u").alias("doc_id")
    )
    survivors = docs.join(
        cc.select(F.col("u").alias("doc_id")), "doc_id", "left_anti"
    ).select("doc_id").unionByName(keep)
    return docs.join(survivors, "doc_id", "left_semi").select(
        "doc_id", "lang", "source"
    )


# ---------------------------------------------------------------------------
# Chunking + sequence packing: corpus -> dataloader-shaped rows. Both pure
# built-in expression pipelines; oracles replay them with list slicing and
# per-shard running sums.
# ---------------------------------------------------------------------------


@register(
    "document_chunks",
    oracle=f"""
    WITH {_TOKS_CTE},
    c AS (
        SELECT doc_id, words,
               unnest(range(CAST(ceil(len(words) / 64.0) AS BIGINT))) AS chunk_idx
        FROM toks WHERE len(words) > 0
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           array_to_string(words[chunk_idx * 64 + 1 : chunk_idx * 64 + 64], ' ')
               AS chunk_text,
           CAST(len(words[chunk_idx * 64 + 1 : chunk_idx * 64 + 64]) AS BIGINT)
               AS n_tokens
    FROM c
    """,
    tags=("llm", "chunking"),
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document split into 64-token chunks (map-only explode+slice —
    no shuffle; the dataloader-side transform run engine-side)."""
    from ..operators.chunking import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "text", "doc_id", chunk_tokens=64)


@register(
    "packed_sequences",
    oracle=f"""
    WITH {_TOKS_CTE},
    sized AS (
        SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens
        FROM toks WHERE len(words) > 0
    ),
    binned AS (
        SELECT doc_id % 32 AS shard, doc_id, n_tokens,
               CAST(floor((sum(n_tokens) OVER (
                       PARTITION BY doc_id % 32 ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) / 256.0) AS BIGINT) AS bin_id
        FROM sized
    )
    SELECT shard, bin_id,
           CAST(count(*) AS BIGINT) AS doc_count,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM binned
    GROUP BY 1, 2
    """,
    tags=("llm", "packing"),
)
def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous packing of documents into 256-token context bins,
    windowed PER SHARD (doc_id % 32) so the running sum never funnels the
    corpus through one task."""
    from ..operators.chunking import pack_documents

    docs = load_table(spark, sf_dir, "documents")
    return pack_documents(docs, "text", "doc_id", bin_tokens=256, n_shards=32)


# ---------------------------------------------------------------------------
# Curation audit: declared vs predicted language agreement per language —
# the first QC report a corpus pipeline runs after language ID.
# ---------------------------------------------------------------------------


@register(
    "lang_agreement",
    oracle=f"""
    WITH {_TOKS_CTE},
    scores AS (
        SELECT doc_id,
           {_SCORE_EXPRS}
        FROM toks
    ),
    pred AS (
        SELECT doc_id,
               CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
                    WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
                    WHEN s_fr = greatest(s_fr, s_de, s_es) THEN 'fr'
                    WHEN s_de = greatest(s_de, s_es) THEN 'de'
                    ELSE 'es' END AS predicted_lang
        FROM scores
    )
    SELECT d.lang,
           count(*) AS doc_count,
           CAST(count(*) FILTER (p.predicted_lang = d.lang) AS BIGINT)
               AS agree_count,
           CAST(count(*) FILTER (p.predicted_lang = 'und') AS BIGINT)
               AS und_count
    FROM documents d JOIN pred p ON p.doc_id = d.doc_id
    GROUP BY 1
    """,
    tags=("llm", "text", "audit"),
)
def lang_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per declared language: how many docs the n-gram/stopword language ID
    agrees on, and how many it can't call at all — the audit that catches a
    mislabeled slice before it trains. Broadcast-sized join of the
    prediction frame back onto the metadata."""
    docs = load_table(spark, sf_dir, "documents")
    pred = language_id(docs.filter(F.col("text").isNotNull()), "text", "doc_id")
    return (
        docs.join(pred, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("doc_count"),
            F.count_if(F.col("predicted_lang") == F.col("lang"))
            .cast("bigint")
            .alias("agree_count"),
            F.count_if(F.col("predicted_lang") == "und")
            .cast("bigint")
            .alias("und_count"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus selection: deterministic stratified sampling, per-language token
# budgets, and the train/test contamination audit (operators/sampling.py).
# ---------------------------------------------------------------------------

# mixture rates by source tier: src0-4 curated (keep all), src5-9 mid (half),
# the long tail at 20%
_STRATA_RATES = {
    f"src{i}": (1.0 if i < 5 else 0.5 if i < 10 else 0.2) for i in range(20)
}


@register(
    "stratified_source_sample",
    oracle=f"""
    SELECT doc_id, source, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE
            WHEN source IN ({", ".join(f"'src{i}'" for i in range(5))}) THEN 'zz'
            WHEN source IN ({", ".join(f"'src{i}'" for i in range(5, 10))}) THEN '80'
            ELSE '33'
          END
    """,
    tags=("llm", "sampling"),
)
def stratified_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source mixture sampling (the training-data mixture
    knob): md5(doc_id) hex prefix vs a per-stratum threshold — no RNG state,
    no shuffle, stable under corpus growth and reruns. See
    operators/sampling.stratified_sample for the threshold encoding."""
    from ..operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, "doc_id", "source", _STRATA_RATES).select(
        "doc_id", "source", "lang"
    )


@register(
    "token_budget_sample",
    oracle=r"""
    WITH sized AS (
        SELECT doc_id, lang,
               len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
                   AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents WHERE text IS NOT NULL
    ),
    cum AS (
        SELECT doc_id, lang, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY lang ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tokens AS start
        FROM sized WHERE n_tokens > 0
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM cum WHERE start < 5000
    """,
    tags=("llm", "sampling"),
)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every language at a 5000-token budget, taking docs in md5(id)
    order (deterministic uniform-ish draw). One shuffle on lang + a linear
    per-partition window pass — same scale shape as sharded packing."""
    from ..operators.sampling import token_budget_sample as _tbs

    docs = load_table(spark, sf_dir, "documents")
    return _tbs(docs, "text", "doc_id", "lang", budget=5000).select(
        "doc_id", "lang", F.col("n_tokens").cast("bigint").alias("n_tokens")
    )


@register(
    "decontamination_overlap",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '')
                   AS words
        FROM documents WHERE text IS NOT NULL
    ),
    g5 AS (
        SELECT doc_id,
               CASE WHEN len(words) >= 5
                    THEN list_distinct([array_to_string(words[i:i+4], ' ')
                                        for i in range(1, len(words) - 3)])
                    ELSE [] END AS shingles
        FROM toks
    ),
    gr AS (SELECT doc_id, unnest(shingles) AS gram FROM g5),
    tr AS (SELECT doc_id, gram FROM gr
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'),
    te AS (SELECT doc_id, gram FROM gr
           WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) > 'd')
    SELECT tr.doc_id,
           count(DISTINCT tr.gram) AS shared_grams,
           count(DISTINCT te.doc_id) AS test_docs
    FROM tr JOIN te ON tr.gram = te.gram
    GROUP BY 1
    """,
    tags=("llm", "audit", "dedup"),
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: for every TRAIN doc (md5 split, as in
    corpus_split_counts), the distinct 5-grams it shares with any TEST doc
    and how many test docs it touches. 5-grams are near-unique, so the
    inverted-index equi-join output stays ~true-overlap-sized — the audit a
    pretraining pipeline runs before shipping a corpus."""
    from ..operators.sampling import ngram_overlap

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    train = docs.filter(h <= "b")
    test = docs.filter(h > "d")
    return (
        ngram_overlap(train, test, "text", "doc_id", n=5)
        .select(
            "doc_id",
            "shared_grams",
            F.col("right_docs").alias("test_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Quantized similarity: int8 scalar quantization (the storage-compression
# tier — cosine is scale-invariant, so quantized arrays score directly).
# ---------------------------------------------------------------------------

_QUANT_ORACLE = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    qz AS (
        SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS s
        FROM vecs
    ),
    qq AS (
        SELECT vec_id,
               CASE WHEN s > 0
                    THEN list_transform(v, x -> floor(x / s * 127 + 0.5))
                    ELSE list_transform(v, x -> CAST(0 AS DOUBLE)) END AS q
        FROM qz
    ),
    qv AS (SELECT q AS qvec FROM qq WHERE vec_id = {_QUERY_VEC_ID})
    SELECT vec_id,
           round({_duck_dot('q', 'qvec')}
                 / (sqrt({_duck_dot('q', 'q')}) * sqrt({_duck_dot('qvec', 'qvec')})),
                 6) AS cosine_sim
    FROM qq, qv
    WHERE vec_id <> {_QUERY_VEC_ID}
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
"""


@register(
    "similarity_quantized_topk",
    oracle=_QUANT_ORACLE,
    tags=("llm", "similarity", "quantization"),
)
def similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors over int8-quantized embeddings (per-vector
    max-abs scale, floor(x/s*127+0.5)); the 4-8x storage/shuffle compression
    path whose recall vs full precision bench reports."""
    from ..operators.similarity import quantized_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_topk(emb, "vec_id", "embedding", _QUERY_VEC_ID, k=10)


@register(
    "media_dedup_groups",
    oracle="""
    SELECT octet_length(encode(text)) AS payload_bytes,
           CAST(list_sum([ascii(substr(text, i, 1))
                          for i in range(1, least(strlen(text), 64) + 1)]) AS BIGINT)
               AS feature_checksum,
           min(doc_id) AS keep_id,
           count(*) AS dup_count
    FROM documents
    WHERE text IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("llm", "multimodal", "dedup"),
)
def media_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media dedup through the Arrow decode path: assets grouped by the
    (size, feature-checksum) perceptual-hash proxy — the exact-dedup shape
    (`dedup_exact_groups`) applied to the multimodal tier, so duplicate
    payloads collapse without the bytes ever reaching the driver. A real
    perceptual hash (pHash/chromaprint) slots into the same decode seam
    (``real_decode``) and this plan is unchanged."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    decoded = decode_assets(documents_as_assets(docs))
    return decoded.groupBy("payload_bytes", "feature_checksum").agg(
        F.min("asset_id").alias("keep_id"),
        F.count("*").alias("dup_count"),
    )


@register(
    "weighted_doc_sample",
    oracle="""
    SELECT doc_id, n_chars, round(_raw_key, 6) AS sample_key
    FROM (
        SELECT doc_id, n_chars,
               pow((CAST(concat('0x', substr(md5(concat('ws:',
                        CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) + 1.0)
                   / 4294967297.0,
                   1.0 / CAST(n_chars AS DOUBLE)) AS _raw_key
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
        ORDER BY _raw_key DESC, doc_id ASC
        LIMIT 100
    )
    """,
    tags=("llm", "sampling", "topk"),
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted document sample (Efraimidis-Spirakis weighted
    reservoir, deterministic md5 draws): longer documents proportionally
    more likely, no RNG state, one top-k pass. The mixture-sampling
    primitive for weight-by-quality / weight-by-length corpus draws."""
    from ..operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", k=100)


@register(
    "dedup_component_sizes",
    oracle=f"""
    WITH cmap AS ({_CANONICAL_ORACLE}),
    comps AS (
        SELECT canonical_id, count(*) AS component_size
        FROM cmap GROUP BY 1
    )
    SELECT component_size, count(*) AS n_components
    FROM comps GROUP BY 1
    """,
    tags=("llm", "dedup", "graph"),
)
def dedup_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size distribution (component-size histogram over
    the transitive canonical map): the shape a dedup report leads with —
    how much of the corpus sits in clusters of 2, 3, ..., n. Composes the
    CC output with two combinable aggregates; singletons count as size-1
    components."""
    cmap = dedup_canonical_map(spark, sf_dir)
    return (
        cmap.groupBy("canonical_id")
        .agg(F.count("*").alias("component_size"))
        .groupBy("component_size")
        .agg(F.count("*").alias("n_components"))
    )


@register(
    "dedup_component_sizes_bucketed",
    oracle=f"""
    WITH cmap AS ({_CANONICAL_ORACLE}),
    comps AS (
        SELECT canonical_id, count(*) AS component_size
        FROM cmap GROUP BY 1
    )
    SELECT component_size, count(*) AS n_components
    FROM comps GROUP BY 1
    """,
    tags=("llm", "dedup", "graph", "bucketed"),
)
def dedup_component_sizes_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The component-size histogram computed over the WRITE-ONCE BUCKETED
    pair graph (VERDICT r8 ask #7): the symmetrized near-dup edges are
    persisted bucketed+sorted by the per-round join key, so every
    pointer-jumping round joins labels to edges with NO Exchange on the
    edge side — the data-sized frame at 100 TB; only the node-sized label
    frame shuffles per round (Exchange budget pinned in
    tests/test_plan_audit.py). Identical result to dedup_component_sizes
    (same oracle); the bucketing write is the classic pay-once-at-ingest
    layout the warehouse tier already uses (sources/bucketed.py)."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive
    from ..operators.graph import connected_components_bucketed

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_adaptive(docs, "text", "doc_id", n=3, threshold=0.5)
    cc = connected_components_bucketed(
        pairs, "id_a", "id_b", table="cc_edges_bucketed_dedup"
    )
    cmap = (
        docs.select("doc_id")
        .join(
            cc.select(F.col("u").alias("doc_id"), "component"), "doc_id", "left"
        )
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("canonical_id"),
        )
    )
    return (
        cmap.groupBy("canonical_id")
        .agg(F.count("*").alias("component_size"))
        .groupBy("component_size")
        .agg(F.count("*").alias("n_components"))
    )


@register(
    "similarity_pq_topk",
    tags=("llm", "similarity", "pq", "rows-only"),
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (16 subspaces x 16 codes = 8 bytes per
    vector, 32x compression) with ADC shortlist + exact re-rank. Declared
    rows-only (per-subspace Lloyd fits have no SQL twin); pytest pins
    recall@10 >= 0.8 and exact-score agreement with brute force, and
    bench reports its recall each run."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, "vec_id", "embedding", _QUERY_VEC_ID, k=10)


@register(
    "contrastive_negatives",
    oracle="""
    WITH anchors AS (SELECT vec_id AS anchor_id, label AS a_label
                     FROM embeddings WHERE vec_id < 5),
    ranked AS (
        SELECT anchor_id, e.vec_id AS negative_id,
               CAST(row_number() OVER (
                   PARTITION BY anchor_id
                   ORDER BY md5(CAST(anchor_id AS VARCHAR) || ':'
                               || CAST(e.vec_id AS VARCHAR)), e.vec_id
               ) AS INTEGER) AS neg_rank
        FROM anchors JOIN embeddings e
          ON e.label <> a_label AND e.vec_id <> anchor_id
    )
    SELECT anchor_id, negative_id, neg_rank
    FROM ranked WHERE neg_rank <= 5
    """,
    tags=("llm", "sampling"),
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for each
    anchor, 5 different-label vectors drawn by md5(anchor:candidate) order
    — no RNG state, stable under reruns and corpus growth of unrelated
    rows. Per-anchor window over label-filtered candidates; at scale the
    anchor set is the partition key and candidates pre-filter by label
    before any window."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("a_label")
    )
    cands = emb.select(F.col("vec_id").alias("negative_id"), "label")
    w = Window.partitionBy("anchor_id").orderBy(
        F.md5(
            F.concat_ws(
                ":",
                F.col("anchor_id").cast("string"),
                F.col("negative_id").cast("string"),
            )
        ),
        "negative_id",
    )
    return (
        anchors.join(
            cands,
            (F.col("label") != F.col("a_label"))
            & (F.col("negative_id") != F.col("anchor_id")),
        )
        .select(
            "anchor_id",
            "negative_id",
            F.row_number().over(w).alias("neg_rank"),
        )
        .filter(F.col("neg_rank") <= 5)
    )


@register(
    "eval_quota_split",
    oracle="""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 20
    """,
    tags=("llm", "sampling"),
)
def eval_quota_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota evaluation split: EXACTLY min(20, |lang|) documents per
    language, chosen by md5(doc_id) order — the fixed-size eval-set
    counterpart of the rate-based stratified sample (quotas survive corpus
    growth; rates don't)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("_rn"))
        .filter(F.col("_rn") <= 20)
        .select("doc_id", "lang")
    )


def _fpr_cte(iters: int = 6, damping: float = 0.85) -> str:
    """Float PageRank over the symmetrized ``jpairs`` edge CTE, one
    MATERIALIZED CTE per power iteration (the quantized-twin recipe at
    ``_qpr_cte`` lifted to doubles). The damping base is written as
    ``(1.0 - {damping})`` so DuckDB folds the SAME double Python computes
    for the Spark builder (0.15 and 1.0-0.85 differ by one ulp); last-ulp
    summation-order drift is absorbed by the 1e-6 output rounding."""
    parts = [
        f""",
    sym AS MATERIALIZED (
        SELECT id_a AS s, id_b AS d FROM jpairs
        UNION
        SELECT id_b AS s, id_a AS d FROM jpairs
    ),
    deg AS MATERIALIZED (SELECT s, count(*) AS dg FROM sym GROUP BY s),
    nn AS MATERIALIZED (SELECT count(*) AS c FROM deg),
    fr0 AS MATERIALIZED (
        SELECT s AS node, 1.0 / (SELECT c FROM nn) AS rank FROM deg
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    fc{i} AS (
        SELECT e.d AS node, sum(r.rank / g.dg) AS cin
        FROM sym e JOIN deg g ON e.s = g.s
        JOIN fr{i - 1} r ON r.node = e.s
        GROUP BY e.d
    ),
    fr{i} AS MATERIALIZED (
        SELECT n0.node,
               (1.0 - {damping}) / (SELECT c FROM nn)
                 + {damping} * coalesce(c.cin, 0.0) AS rank
        FROM fr{i - 1} n0 LEFT JOIN fc{i} c USING (node)
    )"""
        )
    return "".join(parts)


# MinHash-LSH pair graph at the 0.5 verification threshold — same banded
# candidate scheme as _MINHASH_ORACLE, stricter exact-Jaccard verify.
_MINHASH05_PAIRS_CTE = f"""{_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id, shingles,
           {_SIG_COLS}
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
        SELECT doc_id, unnest([{_BAND_EXPRS}]) AS band FROM sigs
    ),
    mcand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    jpairs AS MATERIALIZED (
        SELECT id_a, id_b
        FROM mcand
        JOIN sh sa ON sa.doc_id = mcand.id_a
        JOIN sh sb ON sb.doc_id = mcand.id_b
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
              >= 0.5
    )"""


@register(
    "neardup_centrality",
    oracle=f"""
    WITH {_MINHASH05_PAIRS_CTE}{_fpr_cte()}
    SELECT node AS doc_id, round(rank, 6) AS centrality
    FROM fr6
    ORDER BY centrality DESC, doc_id ASC
    LIMIT 20
    """,
    tags=("llm", "dedup", "graph"),
)
def neardup_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash near-dup graph: documents with
    high rank sit at the center of large duplicate neighborhoods — the
    'template/boilerplate detector' view of the dedup graph (a canonical
    map says WHICH cluster; centrality says WHO anchors it). Promoted
    from rows-only to a full oracle in r09 (VERDICT r8 ask #4): the
    6-iteration power loop unrolls to chained MATERIALIZED CTEs — on the
    symmetrized graph every node has out-degree >= 1, so the dangling
    term is identically zero and each round is one join + one keyed sum;
    the 1e-6 rounding absorbs engine summation-order ulps. The algorithm
    is additionally pinned against a pure-Python reference to 1e-9 in
    pytest. Top-20 by rank, rounded for a stable total order."""
    from ..operators.dedup import minhash_lsh_pairs
    from ..operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.5)
    # 6 iterations: near-dup components are small (diameter << 6), so
    # ranks are converged well past the rounding surface; the algorithm
    # itself is pinned at 10 iterations against the reference in pytest
    pr = pagerank(pairs, "id_a", "id_b", iters=6)
    return (
        pr.select(
            F.col("node").alias("doc_id"), F.round("rank", 6).alias("centrality")
        )
        .orderBy(F.desc("centrality"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "similarity_ivfpq_topk",
    tags=("llm", "similarity", "ivf", "pq", "rows-only"),
)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composite ANN (FAISS IVFPQ shape): learned coarse quantizer
    prunes to n_probe/n_list lists, residual-PQ codes score the survivors
    by ADC (per-list lookup tables as plan literals), exact re-rank on the
    shortlist. The tier that holds when neither the vectors nor a flat
    code table fit: 3/8 of the rows touched, 8 bytes read per candidate.
    Operating point retuned in r09 (VERDICT r8 ask #2) from the
    ann_probe_sweep curve: n_probe 2->3 (the 0.5-recall misses were
    simply outside the two probed lists) and exact-rerank shortlist
    100->300 (ADC ranked true neighbors below 100) — recall@10 0.5->0.8
    at sf0.1 within 2x the prior latency; floors raised in bench.py and
    tests/test_llm_ops.py so it cannot slide back. r12 (VERDICT r11 ask
    #7): (n_probe, rerank) 3/300 -> 6/500 — recall@10 0.8 -> 0.9
    canonical at BOTH sf0.1 and sf0.01 (sf0.01 min over 7 query ids
    0.9), wall flat ~0.8 s. 6/8 lists probed is the measured knee on
    this barely-clustered synthetic table (a finer n_list=32 quantizer
    at n_probe=16 — half the scan fraction — holds the same 0.9
    canonical, but its sf0.1 mean is 0.86 for 4x the fit cost; on
    clustered real corpora the scan fraction drops, not the recall).
    Rows-only (two k-means fits); pytest pins recall, exact scores, and
    probe monotonicity."""
    from ..operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, "vec_id", "embedding", _QUERY_VEC_ID, k=10, n_probe=6, rerank=500
    )

_PQ_DET_ORACLE = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    samp AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid, v
        FROM vecs ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    books AS (
        SELECT g.s, p.cid - 1 AS code,
               list_slice(p.v, g.s * 4 + 1, g.s * 4 + 4) AS cw
        FROM (SELECT unnest(range(16)) AS s) g, samp p
    ),
    q AS (SELECT v AS qv FROM vecs WHERE vec_id = {_QUERY_VEC_ID}),
    qn AS (SELECT sqrt({_duck_dot('qv', 'qv')}) AS qn_ FROM q),
    diffs AS (
        SELECT vv.vec_id, b.s, b.code,
               vv.v[b.s * 4 + 1] - b.cw[1] AS d1,
               vv.v[b.s * 4 + 2] - b.cw[2] AS d2,
               vv.v[b.s * 4 + 3] - b.cw[3] AS d3,
               vv.v[b.s * 4 + 4] - b.cw[4] AS d4
        FROM vecs vv, books b
    ),
    codes AS (
        SELECT vec_id, s, code FROM (
            SELECT vec_id, s, code, row_number() OVER (
                PARTITION BY vec_id, s
                ORDER BY d1*d1 + d2*d2 + d3*d3 + d4*d4 ASC, code ASC) AS rn
            FROM diffs
        ) WHERE rn = 1
    ),
    luts AS (
        SELECT b.s, b.code,
               qv[b.s*4+1]*b.cw[1] + qv[b.s*4+2]*b.cw[2]
                 + qv[b.s*4+3]*b.cw[3] + qv[b.s*4+4]*b.cw[4] AS lut,
               b.cw[1]*b.cw[1] + b.cw[2]*b.cw[2]
                 + b.cw[3]*b.cw[3] + b.cw[4]*b.cw[4] AS n2
        FROM books b, q
    ),
    adc AS (
        SELECT c.vec_id,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(l.lut ORDER BY c.s)), (a, x) -> a + x) AS adot,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   list(l.n2 ORDER BY c.s)), (a, x) -> a + x) AS an2
        FROM codes c JOIN luts l ON l.s = c.s AND l.code = c.code
        GROUP BY c.vec_id
    ),
    short AS (
        SELECT vec_id FROM (
            SELECT a.vec_id,
                   round(CASE WHEN qn_ * sqrt(an2) > 0
                         THEN adot / (qn_ * sqrt(an2)) END, 6) AS s_adc
            FROM adc a, qn
            WHERE a.vec_id <> {_QUERY_VEC_ID}
        ) ORDER BY s_adc DESC, vec_id ASC LIMIT 100
    )
    SELECT v.vec_id,
           round({_duck_dot('v.v', 'qv')}
                 / (sqrt({_duck_dot('v.v', 'v.v')})
                    * sqrt({_duck_dot('qv', 'qv')})), 6) AS cosine_sim
    FROM short JOIN vecs v USING (vec_id), q
    ORDER BY cosine_sim DESC, v.vec_id ASC
    LIMIT 10
"""


@register(
    "similarity_pq_det_topk",
    oracle=_PQ_DET_ORACLE,
    tags=("llm", "similarity", "pq"),
)
def similarity_pq_det_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC-codebook PQ twin (VERDICT r4 ask #4): ``iters=0`` makes
    the codebooks the md5-hash-ordered first 16 sample vectors' subslices —
    no Lloyd iterations — so code assignment, the ADC shortlist, and the
    exact re-rank are all SQL-expressible and the oracle replays the ENTIRE
    PQ pipeline (encode -> ADC -> rerank) in DuckDB. The learned tier
    (``similarity_pq_topk``) keeps better recall and stays rows-only; this
    twin pins the pipeline's plumbing with a green oracle row."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, "vec_id", "embedding", _QUERY_VEC_ID,
        k=10, sample_size=16, iters=0,
    )


_IVFPQ_DET_ORACLE = f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    samp AS (
        SELECT row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid, v
        FROM vecs ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    cent1 AS (
        SELECT cid - 1 AS l,
               list_transform(v, x -> x / CASE WHEN nrm > 0
                                          THEN nrm ELSE 1.0 END) AS c
        FROM (SELECT cid, v, sqrt({_duck_dot('v', 'v')}) AS nrm
              FROM samp WHERE cid <= 8)
    ),
    cu AS (
        SELECT l, list_transform(c, x -> x / CASE WHEN nrm > 0
                                           THEN nrm ELSE 1.0 END) AS cuv
        FROM (SELECT l, c, sqrt({_duck_dot('c', 'c')}) AS nrm FROM cent1)
    ),
    s_unit AS (
        SELECT cid, v, list_transform(v, x -> x / CASE WHEN nrm > 0
                                              THEN nrm ELSE 1.0 END) AS su
        FROM (SELECT cid, v, sqrt({_duck_dot('v', 'v')}) AS nrm FROM samp)
    ),
    s_assign AS (
        SELECT cid, v, l FROM (
            SELECT su.cid, su.v, cu.l, row_number() OVER (
                PARTITION BY su.cid
                ORDER BY {_duck_dot('su.su', 'cu.cuv')} DESC, cu.l ASC) AS rn
            FROM s_unit su, cu
        ) WHERE rn = 1
    ),
    books AS (
        SELECT g.s, r.cid - 1 AS code,
               list_slice(r.r, g.s * 4 + 1, g.s * 4 + 4) AS cw
        FROM (SELECT unnest(range(16)) AS s) g,
             (SELECT sa.cid,
                     [sa.v[i] - c1.c[i] for i in range(1, 65)] AS r
              FROM s_assign sa JOIN cent1 c1 USING (l)) r
    ),
    q AS (SELECT v AS qv FROM vecs WHERE vec_id = {_QUERY_VEC_ID}),
    qn AS (SELECT sqrt({_duck_dot('qv', 'qv')}) AS qn_ FROM q),
    qu AS (
        SELECT list_transform(qv, x -> x / CASE WHEN qn_ > 0
                                          THEN qn_ ELSE 1.0 END) AS quv
        FROM q, qn
    ),
    probes AS (
        SELECT l FROM (
            SELECT cu.l, {_duck_dot('cu.cuv', 'quv')} AS sim FROM cu, qu
        ) ORDER BY sim DESC, l ASC LIMIT 2
    ),
    v_unit AS (
        SELECT vec_id, v, list_transform(v, x -> x / CASE WHEN nrm > 0
                                                 THEN nrm ELSE 1.0 END) AS vu
        FROM (SELECT vec_id, v, sqrt({_duck_dot('v', 'v')}) AS nrm FROM vecs)
    ),
    v_assign AS (
        SELECT vec_id, v, l FROM (
            SELECT vu.vec_id, vu.v, cu.l, row_number() OVER (
                PARTITION BY vu.vec_id
                ORDER BY {_duck_dot('vu.vu', 'cu.cuv')} DESC, cu.l ASC) AS rn
            FROM v_unit vu, cu
        ) WHERE rn = 1
    ),
    v_resid AS (
        SELECT va.vec_id, va.l,
               [va.v[i] - c1.c[i] for i in range(1, 65)] AS r
        FROM v_assign va JOIN cent1 c1 USING (l)
        JOIN probes USING (l)
    ),
    diffs AS (
        SELECT vr.vec_id, b.s, b.code,
               vr.r[b.s * 4 + 1] - b.cw[1] AS d1,
               vr.r[b.s * 4 + 2] - b.cw[2] AS d2,
               vr.r[b.s * 4 + 3] - b.cw[3] AS d3,
               vr.r[b.s * 4 + 4] - b.cw[4] AS d4
        FROM v_resid vr, books b
    ),
    codes AS (
        SELECT vec_id, s, code FROM (
            SELECT vec_id, s, code, row_number() OVER (
                PARTITION BY vec_id, s
                ORDER BY d1*d1 + d2*d2 + d3*d3 + d4*d4 ASC, code ASC) AS rn
            FROM diffs
        ) WHERE rn = 1
    ),
    luts AS (
        SELECT b.s, b.code,
               qv[b.s*4+1]*b.cw[1] + qv[b.s*4+2]*b.cw[2]
                 + qv[b.s*4+3]*b.cw[3] + qv[b.s*4+4]*b.cw[4] AS lut,
               b.cw[1]*b.cw[1] + b.cw[2]*b.cw[2]
                 + b.cw[3]*b.cw[3] + b.cw[4]*b.cw[4] AS n2
        FROM books b, q
    ),
    cross_t AS (
        SELECT c1.l, b.s, b.code,
               c1.c[b.s*4+1]*b.cw[1] + c1.c[b.s*4+2]*b.cw[2]
                 + c1.c[b.s*4+3]*b.cw[3] + c1.c[b.s*4+4]*b.cw[4] AS cr
        FROM cent1 c1 JOIN probes USING (l), books b
    ),
    cmeta AS (
        SELECT c1.l, {_duck_dot('qv', 'c1.c')} AS qdc,
               {_duck_dot('c1.c', 'c1.c')} AS c2
        FROM cent1 c1 JOIN probes USING (l), q
    ),
    adc AS (
        SELECT cd.vec_id,
               list_reduce(list_prepend(any_value(m.qdc),
                   list(l.lut ORDER BY cd.s)), (a, x) -> a + x) AS adot,
               list_reduce(list_prepend(any_value(m.c2),
                   flatten(list([2.0 * ct.cr, l.n2] ORDER BY cd.s))),
                   (a, x) -> a + x) AS an2
        FROM codes cd
        JOIN v_assign va ON va.vec_id = cd.vec_id
        JOIN luts l ON l.s = cd.s AND l.code = cd.code
        JOIN cross_t ct ON ct.l = va.l AND ct.s = cd.s AND ct.code = cd.code
        JOIN cmeta m ON m.l = va.l
        GROUP BY cd.vec_id
    ),
    short AS (
        SELECT vec_id FROM (
            SELECT a.vec_id,
                   round(CASE WHEN qn_ * sqrt(greatest(an2, 0)) > 0
                         THEN adot / (qn_ * sqrt(greatest(an2, 0))) END,
                         6) AS s_adc
            FROM adc a, qn
            WHERE a.vec_id <> {_QUERY_VEC_ID}
        ) ORDER BY s_adc DESC, vec_id ASC LIMIT 100
    )
    SELECT v.vec_id,
           round({_duck_dot('v.v', 'qv')}
                 / (sqrt({_duck_dot('v.v', 'v.v')})
                    * sqrt({_duck_dot('qv', 'qv')})), 6) AS cosine_sim
    FROM short JOIN vecs v USING (vec_id), q
    ORDER BY cosine_sim DESC, v.vec_id ASC
    LIMIT 10
"""


@register(
    "similarity_ivfpq_det_topk",
    oracle=_IVFPQ_DET_ORACLE,
    tags=("llm", "similarity", "ivf", "pq"),
)
def similarity_ivfpq_det_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC IVFPQ twin (VERDICT r4 ask #4): ``iters=0`` pins the
    coarse centroids to the unit-normalized first 8 hash-ordered sample
    vectors and the residual codebooks to the first 16 sample residuals,
    so the oracle replays the FULL composite pipeline — coarse assignment,
    probe choice, residual encoding, per-list ADC with cross terms, exact
    re-rank — in SQL. Green-row anchor for the IVFPQ plumbing; the learned
    tier stays rows-only with pytest-pinned recall."""
    from ..operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, "vec_id", "embedding", _QUERY_VEC_ID,
        k=10, sample_size=16, iters=0,
    )


# --- DSIR importance resampling (Xie et al., NeurIPS 2023) -----------------
#
# Target slice: sources src0-src2 stand in for the curated target domain
# (e.g. wiki+books); the raw pool is the whole corpus. 64 hashed-unigram
# buckets, add-1 smoothing, Gumbel top-k selection — every stage
# hash-deterministic so DuckDB replays it exactly.

_DSIR_TARGETS = ("src0", "src1", "src2")
_DSIR_BUCKETS = 64

_DSIR_MODEL_CTE = rf"""
toksrc AS (
    SELECT doc_id,
           source IN ({", ".join(repr(s) for s in _DSIR_TARGETS)}) AS tgt,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS words
    FROM documents WHERE text IS NOT NULL
),
tb AS (
    SELECT doc_id, tgt,
           CAST(concat('0x', substr(md5(term), 1, 4)) AS BIGINT)
               % {_DSIR_BUCKETS} AS b
    FROM (SELECT doc_id, tgt, unnest(words) AS term FROM toksrc)
),
corpus AS (
    SELECT b,
           CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
           count(*) AS cr
    FROM tb GROUP BY 1
),
tot AS (
    SELECT CAST(sum(ct) AS DOUBLE) AS t_tot, CAST(sum(cr) AS DOUBLE) AS r_tot
    FROM corpus
),
ratio AS (
    SELECT b, ct, cr,
           ln((ct + 1.0) / (t_tot + {_DSIR_BUCKETS}.0))
           - ln((cr + 1.0) / (r_tot + {_DSIR_BUCKETS}.0)) AS lr
    FROM corpus CROSS JOIN tot
)"""


@register(
    "dsir_bucket_model",
    oracle=f"""
    WITH {_DSIR_MODEL_CTE}
    SELECT b AS bucket, ct AS n_target_tokens, cr AS n_corpus_tokens,
           round(lr, 6) AS log_ratio
    FROM ratio
    """,
    tags=("llm", "sampling", "dsir"),
)
def dsir_bucket_model_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted DSIR model table: per hashed-unigram bucket, target vs
    corpus token counts and the smoothed log-probability ratio. 64 rows —
    the artifact a DSIR selection run persists and audits. Engine
    extension (reference has no selection tier); see
    operators/sampling.dsir_bucket_model for the scale shape."""
    from ..operators.sampling import dsir_bucket_model

    docs = load_table(spark, sf_dir, "documents")
    return dsir_bucket_model(
        docs, "text", F.col("source").isin(*_DSIR_TARGETS),
        n_buckets=_DSIR_BUCKETS,
    )


@register(
    "dsir_selected_sample",
    oracle=f"""
    WITH {_DSIR_MODEL_CTE},
    docb AS (SELECT doc_id, b, count(*) AS n FROM tb GROUP BY 1, 2),
    w AS (
        SELECT doc_id, sum(n * lr) AS logw
        FROM docb JOIN ratio USING (b) GROUP BY 1
    ),
    keyed AS (
        SELECT doc_id, logw,
               logw + -ln(-ln(
                   (CAST(concat('0x', substr(md5(concat('dsir:',
                        CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) + 1.0)
                   / 4294967297.0)) AS skey
        FROM w
    )
    SELECT doc_id, round(logw, 6) AS dsir_logw
    FROM keyed
    ORDER BY skey DESC, doc_id ASC
    LIMIT 100
    """,
    tags=("llm", "sampling", "dsir"),
)
def dsir_selected_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling end-to-end: hashed-unigram importance
    log-weights against the src0-src2 target slice, then deterministic
    Gumbel top-100 (sampling without replacement proportional to
    exp(logw)). THE published recipe for 'select web data that looks like
    the target domain' at corpus scale; one explode scan + a broadcast
    64-row model + a top-k — no collect, no RNG state."""
    from ..operators.sampling import dsir_log_weights, dsir_resample

    docs = load_table(spark, sf_dir, "documents")
    w = dsir_log_weights(
        docs, "text", "doc_id", F.col("source").isin(*_DSIR_TARGETS),
        n_buckets=_DSIR_BUCKETS,
    )
    return dsir_resample(w, "doc_id", k=100)


@register(
    "source_capped_docs",
    oracle="""
    SELECT doc_id, source, cap_rank FROM (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS INTEGER) AS cap_rank
        FROM documents
    ) WHERE cap_rank <= 15
    """,
    tags=("llm", "sampling", "frequency-cap"),
)
def source_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency capping (anti-domination): keep at most 15
    documents per source, chosen in deterministic md5(doc_id) order — the
    'no single domain dominates the mixture' guard every web-scale corpus
    applies. One source-keyed window (partitioned, combinable exchange);
    the md5 shuffle order makes the kept set stable across reruns and
    engines, and unbiased w.r.t. document content."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("int").alias("cap_rank"),
        )
        .filter(F.col("cap_rank") <= 15)
    )


# --- Near-dup graph analytics (degree census, triangle census) -------------
#
# Same edge set dedup_canonical_map clusters over: exact trigram-Jaccard
# pairs at threshold 0.5 (adaptive inverted-index/prefix plan). The graph
# queries summarize its topology — degree histogram for "how clustered is
# the corpus", triangle census / clustering coefficient for "are near-dup
# groups cliques or chains" (cliques: true duplicates; chains: drifting
# templates — the distinction drives keep-one vs keep-none policy).

_J05_PAIRS_CTE = f"""{_SHINGLES_CTE},
g AS (SELECT doc_id, unnest(shingles) AS gram FROM sh),
sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
    FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jpairs AS (
    SELECT id_a, id_b
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
)"""


@register(
    "neardup_degree_histogram",
    oracle=f"""
    WITH {_J05_PAIRS_CTE},
    nodes AS (
        SELECT id_a AS u FROM jpairs
        UNION ALL SELECT id_b AS u FROM jpairs
    ),
    deg AS (
        SELECT d.doc_id, count(n.u) AS degree
        FROM documents d LEFT JOIN nodes n ON n.u = d.doc_id
        GROUP BY 1
    )
    SELECT degree, count(*) AS n_docs FROM deg GROUP BY 1
    """,
    tags=("llm", "dedup", "graph"),
)
def neardup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup pair graph (degree-0 singletons
    included): the first topology check a dedup report runs — a heavy tail
    here means template farms, not isolated duplicates. Composes the pair
    generator with one node-keyed count and one tiny histogram aggregate."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive
    from ..operators.graph import degree_counts

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_adaptive(docs, "text", "doc_id", n=3, threshold=0.5)
    deg = degree_counts(pairs, "id_a", "id_b")
    return (
        docs.select("doc_id")
        .join(deg.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(F.coalesce("degree", F.lit(0)).alias("degree"))
        .groupBy("degree")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "neardup_triangle_census",
    oracle=f"""
    WITH {_J05_PAIRS_CTE},
    deg AS (
        SELECT u, count(*) AS d FROM (
            SELECT id_a AS u FROM jpairs
            UNION ALL SELECT id_b AS u FROM jpairs
        ) GROUP BY 1
    ),
    m AS (SELECT count(*) AS n_edges FROM jpairs),
    w AS (SELECT coalesce(CAST(sum(d * (d - 1) // 2) AS BIGINT), 0) AS n_wedges FROM deg),
    t AS (
        SELECT count(*) AS n_triangles
        FROM jpairs e1
        JOIN jpairs e2 ON e2.id_a = e1.id_b
        JOIN jpairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    )
    SELECT n_edges, n_wedges, n_triangles,
           round(CASE WHEN n_wedges > 0
                      THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END, 6)
               AS clustering
    FROM m, w, t
    """,
    tags=("llm", "dedup", "graph"),
)
def neardup_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the near-dup
    graph via the oriented a<b<c self-join (each triangle counted once).
    High clustering = near-dup components are cliques (true duplicate
    groups, safe to keep one); low = chains (template drift, needs the
    exact-substring tier instead). See operators/graph.triangle_stats for
    the 100 TB join shape."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive
    from ..operators.graph import triangle_stats

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_adaptive(docs, "text", "doc_id", n=3, threshold=0.5)
    return triangle_stats(pairs, "id_a", "id_b")


# --- MMR diversified top-k --------------------------------------------------
#
# The greedy is unrolled into k chained CTEs (pick-1 per step), so the
# WHOLE iterative algorithm is SQL-expressible — same trick as the
# deterministic PQ twins. Unit vectors + left-fold dots keep every float
# op bit-identical between Spark (F.aggregate fold), the driver-side
# greedy (pure-Python left fold), and DuckDB (list_reduce fold).

_MMR_K = 10
_MMR_LAM = 0.7
_MMR_SHORTLIST = 50


def _mmr_oracle(
    k: int = _MMR_K,
    m: int = _MMR_SHORTLIST,
    lam: float = _MMR_LAM,
    qid: int = _QUERY_VEC_ID,
) -> str:
    parts = [
        f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT v AS qv FROM vecs WHERE vec_id = {qid}),
    rel AS MATERIALIZED (
        SELECT vec_id,
               list_transform(v, x -> x / sqrt({_duck_dot('v', 'v')})) AS u,
               {_duck_dot('v', 'qv')}
                   / (sqrt({_duck_dot('v', 'v')}) * sqrt({_duck_dot('qv', 'qv')})) AS r
        FROM vecs, q WHERE vec_id <> {qid}
        ORDER BY r DESC, vec_id ASC LIMIT {m}
    ),
    chosen1 AS MATERIALIZED (
        SELECT vec_id, u, r, {lam!r} * r AS mmr, 1 AS mmr_rank
        FROM rel ORDER BY r DESC, vec_id ASC LIMIT 1
    )"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""",
    score{i} AS (
        SELECT c.vec_id, c.r,
               {lam!r} * c.r - {1.0 - lam!r} * max({_duck_dot('c.u', 's.u')}) AS mmr
        FROM rel c, chosen{i - 1} s
        WHERE c.vec_id NOT IN (SELECT vec_id FROM chosen{i - 1})
        GROUP BY c.vec_id, c.r
    ),
    pick{i} AS (SELECT vec_id, mmr FROM score{i} ORDER BY mmr DESC, vec_id ASC LIMIT 1),
    chosen{i} AS MATERIALIZED (
        SELECT * FROM chosen{i - 1}
        UNION ALL
        SELECT rl.vec_id, rl.u, rl.r, p.mmr, {i} AS mmr_rank
        FROM rel rl JOIN pick{i} p USING (vec_id)
    )"""
        )
    parts.append(
        f"""
    SELECT vec_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
           round(r, 6) AS relevance, round(mmr, 6) AS mmr_score
    FROM chosen{k}"""
    )
    return "".join(parts)


@register(
    "similarity_mmr_topk",
    oracle=_mmr_oracle(),
    tags=("llm", "similarity", "diversity"),
)
def similarity_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-10 neighbors (lambda=0.7, 50-candidate
    shortlist): the de-redundancy re-rank a retrieval funnel or few-shot
    selector applies after cosine top-k, so the slate isn't k copies of
    the same near-duplicate. Distributed relevance scan + bounded
    driver-side greedy; the oracle replays the greedy exactly via k
    unrolled pick-1 CTEs. See operators/similarity.mmr_topk."""
    from ..operators.similarity import mmr_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_topk(
        emb, "vec_id", "embedding", _QUERY_VEC_ID,
        k=_MMR_K, lam=_MMR_LAM, shortlist=_MMR_SHORTLIST,
    )


# --- temperature-based mixture apportionment --------------------------------

_TMIX_K = 200

_TMIX_TARGETS_CTE = r"""
    sizes AS (
        SELECT source,
               CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
                                        x -> x <> ''))) AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL GROUP BY source
    ),
    wts AS (
        SELECT source, n_tokens,
               CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
                    AS BIGINT) AS weight
        FROM sizes
    ),
    tot AS (SELECT sum(weight) AS w_tot FROM wts),
    quota AS (
        SELECT source, n_tokens, weight,
               (200 * weight) // w_tot AS base,
               (200 * weight) % w_tot AS rem
        FROM wts, tot
    ),
    bt AS (SELECT sum(base) AS b_tot FROM quota),
    tk AS (
        SELECT source, n_tokens, weight,
               CAST(base + CASE WHEN row_number() OVER (
                               ORDER BY rem DESC, source ASC)
                               <= 200 - b_tot THEN 1 ELSE 0 END
                    AS BIGINT) AS target_k
        FROM quota, bt
    )"""


@register(
    "temperature_mixture_targets",
    oracle=f"""
    WITH {_TMIX_TARGETS_CTE}
    SELECT * FROM tk
    """,
    tags=("llm", "sampling", "mixture"),
)
def temperature_mixture_targets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) mixture apportionment over per-source TOKEN
    totals: exactly 200 slots split by largest-remainder over integer
    sqrt-weights — the XLM/mT5 sampling rule that keeps big sources from
    drowning small ones. Integer arithmetic end-to-end after one exactly-
    rounded sqrt per source; see operators/sampling.temperature_targets."""
    from ..functions.text import token_count
    from ..operators.sampling import temperature_targets

    docs = load_table(spark, sf_dir, "documents")
    sizes = (
        docs.filter(F.col("text").isNotNull())
        .groupBy("source")
        .agg(F.sum(token_count("text")).cast("long").alias("n_tokens"))
    )
    return temperature_targets(sizes, "source", "n_tokens", _TMIX_K)


@register(
    "temperature_mixture_sample",
    oracle=f"""
    WITH {_TMIX_TARGETS_CTE},
    sel AS (
        SELECT d.doc_id, d.source,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY md5('tmix:' || CAST(d.doc_id AS VARCHAR)),
                            d.doc_id) AS rn
        FROM documents d
    )
    SELECT s.doc_id, s.source
    FROM sel s JOIN tk USING (source)
    WHERE rn <= target_k
    """,
    tags=("llm", "sampling", "mixture"),
)
def temperature_mixture_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drawn mixture itself: each source's temperature quota filled by
    md5-ranked deterministic selection (reproducible under repartition;
    sources smaller than their quota contribute everything they have)."""
    from ..functions.text import token_count
    from ..operators.sampling import (
        temperature_mixture_sample,
        temperature_targets,
    )

    docs = load_table(spark, sf_dir, "documents")
    sizes = (
        docs.filter(F.col("text").isNotNull())
        .groupBy("source")
        .agg(F.sum(token_count("text")).cast("long").alias("n_tokens"))
    )
    targets = temperature_targets(sizes, "source", "n_tokens", _TMIX_K)
    return temperature_mixture_sample(docs, "source", targets, "doc_id")


# --- k-core of the near-dup graph -------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 8


def _kcore_cte(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    # every round references the previous edge set three times; DuckDB
    # inlines plain CTEs, so an un-MATERIALIZED unroll re-evaluates the
    # whole pair generator 3^rounds times (the SQL twin of the Spark-side
    # lineage blowup this operator checkpoints away)
    parts = [
        """,
    e0 AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM jpairs
        UNION
        SELECT id_b AS a, id_a AS b FROM jpairs
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    k{r} AS MATERIALIZED (
        SELECT a FROM (SELECT a, count(*) AS dg FROM e{r - 1} GROUP BY a)
        WHERE dg >= {k}
    ),
    e{r} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{r - 1} e
        JOIN k{r} x ON e.a = x.a
        JOIN k{r} y ON e.b = y.a
    )"""
        )
    return "".join(parts)


@register(
    "neardup_kcore",
    oracle=f"""
    WITH {_J05_PAIRS_CTE}{_kcore_cte()}
    SELECT a AS node_id, count(*) AS core_degree
    FROM e{_KCORE_ROUNDS}
    GROUP BY a
    """,
    tags=("llm", "dedup", "graph"),
)
def neardup_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2-core of the 0.5-Jaccard near-dup graph (fixed 8-round
    peeling, convergence pytest-pinned): the cyclically-duplicated region
    a template-farm report drills into — trees, chains and stars peel
    away entirely, so what survives is mutual near-duplication, not
    one-off overlap. Static unrolled dataflow: same rounds, same answer,
    any engine."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive
    from ..operators.graph import kcore_subgraph

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_adaptive(
        docs, "text", "doc_id", n=3, threshold=0.5
    )
    return kcore_subgraph(
        pairs, "id_a", "id_b", k=_KCORE_K, rounds=_KCORE_ROUNDS
    )


@register(
    "similarity_filtered_topk",
    oracle=f"""
    WITH vecs AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    q AS (SELECT v AS qv FROM vecs WHERE vec_id = {_QUERY_VEC_ID})
    SELECT vec_id,
           round({_duck_dot('v', 'qv')}
                 / (sqrt({_duck_dot('v', 'v')}) * sqrt({_duck_dot('qv', 'qv')})),
                 6) AS cosine_sim
    FROM vecs, q
    WHERE vec_id <> {_QUERY_VEC_ID} AND label = 3
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
    """,
    tags=("llm", "similarity"),
)
def similarity_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search: exact cosine top-10 restricted to label=3
    rows (query vector looked up unfiltered). The metadata predicate is a
    plain Catalyst filter, so it reaches the parquet scan — pre-filtering,
    the regime where post-filtered ANN recall collapses. See
    operators/similarity.filtered_topk."""
    from ..operators.similarity import filtered_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return filtered_topk(
        emb, "vec_id", "embedding", _QUERY_VEC_ID, F.col("label") == 3, k=10
    )


@register(
    "dedup_keep_longest",
    oracle=f"""
    WITH RECURSIVE {_CANONICAL_CTE}
    SELECT canonical_id, doc_id AS keep_id, n_chars, cluster_size
    FROM (
        SELECT c.canonical_id, d.doc_id, d.n_chars,
               count(*) OVER (PARTITION BY c.canonical_id) AS cluster_size,
               row_number() OVER (
                   PARTITION BY c.canonical_id
                   ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
        FROM cmap c JOIN documents d USING (doc_id)
    )
    WHERE rn = 1
    """,
    tags=("llm", "dedup", "graph"),
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-aware keep policy: within each TRANSITIVE near-dup cluster
    keep the LONGEST document (n_chars desc, doc_id tiebreak) — the
    RefinedWeb-style 'keep the most complete variant' rule, versus the
    min-id policy of dedup_canonical_keep. Cluster argmax is a window
    PARTITIONED by canonical id (never global); singleton docs keep
    themselves with cluster_size 1."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_adaptive(
        docs, "text", "doc_id", n=3, threshold=0.5
    )
    cc = connected_components(pairs, "id_a", "id_b")
    cmap = (
        docs.select("doc_id", "n_chars")
        .join(
            cc.select(F.col("u").alias("doc_id"), "component"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("component", F.col("doc_id")).alias("canonical_id"),
        )
    )
    win = Window.partitionBy("canonical_id")
    ranked = cmap.select(
        "canonical_id",
        F.col("doc_id").alias("keep_id"),
        "n_chars",
        F.count("*").over(win).alias("cluster_size"),
        F.row_number()
        .over(win.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("_rn"),
    )
    return ranked.filter(F.col("_rn") == 1).drop("_rn")


# --- quantized PageRank: the centrality tier's exact-oracle twin -----------

_QPR_ITERS = 4
_QPR_Q = 1_000_000_000


def _qpr_cte(iters: int = _QPR_ITERS, q: int = _QPR_Q) -> str:
    base = (15 * q) // 100
    parts = [
        f""",
    sym AS MATERIALIZED (
        SELECT id_a AS s, id_b AS d FROM jpairs
        UNION
        SELECT id_b AS s, id_a AS d FROM jpairs
    ),
    deg AS MATERIALIZED (SELECT s, count(*) AS dg FROM sym GROUP BY s),
    r0 AS MATERIALIZED (SELECT s AS node, CAST({q} AS BIGINT) AS rank FROM deg)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    c{i} AS (
        SELECT e.d AS node,
               CAST(sum((85 * r.rank) // (100 * g.dg)) AS BIGINT) AS cin
        FROM sym e JOIN deg g ON e.s = g.s
        JOIN r{i - 1} r ON r.node = e.s
        GROUP BY e.d
    ),
    r{i} AS MATERIALIZED (
        SELECT n.node,
               CAST({base} + coalesce(c.cin, 0) AS BIGINT) AS rank
        FROM r{i - 1} n LEFT JOIN c{i} c USING (node)
    )"""
        )
    return "".join(parts)


@register(
    "neardup_centrality_quantized",
    oracle=f"""
    WITH {_J05_PAIRS_CTE}{_qpr_cte()}
    SELECT node AS doc_id, rank
    FROM r{_QPR_ITERS}
    ORDER BY rank DESC, node ASC
    LIMIT 20
    """,
    tags=("llm", "dedup", "graph"),
)
def neardup_centrality_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-quantized PageRank over the trigram-Jaccard near-dup graph:
    the centrality tier's EXACT-ORACLE twin (float neardup_centrality
    stays rows-only by nature; this variant does the damping and degree
    split in fixed-point integer arithmetic, so 4 unrolled power
    iterations replay bit-for-bit in SQL — the logreg/k-core exactness
    recipe applied to the last oracle-less batch-graph family). Top-20
    template anchors by rank (1e-9 node-mass units)."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive
    from ..operators.graph import pagerank_quantized

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_adaptive(
        docs, "text", "doc_id", n=3, threshold=0.5
    )
    pr = pagerank_quantized(
        pairs, "id_a", "id_b", iters=_QPR_ITERS, q=_QPR_Q
    )
    return (
        pr.select(F.col("node").alias("doc_id"), "rank")
        .orderBy(F.desc("rank"), F.asc("doc_id"))
        .limit(20)
    )


# --- round 6: corpus-level span dedup (CCNet paragraph dedup adapted) ------

_SPAN_W = 10

_SPANS_CTE = rf"""
stoks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS words
    FROM documents WHERE text IS NOT NULL
),
spans AS (
    SELECT doc_id,
           unnest([{{'span_no': i,
                    'span_text': array_to_string(
                        words[i*{_SPAN_W}+1 : i*{_SPAN_W}+{_SPAN_W}], ' ')}}
                   for i in range(0, ((len(words)-1)//{_SPAN_W})+1)],
                  recursive := true)
    FROM stoks WHERE len(words) > 0
)"""


@register(
    "span_dedup_stats",
    oracle=f"""
    WITH {_SPANS_CTE},
    hashed AS (
        SELECT doc_id, span_no, md5(span_text) AS h FROM spans
    ),
    firsts AS (
        SELECT h, min({{'d': doc_id, 's': span_no}}) AS f
        FROM hashed GROUP BY h
    )
    SELECT s.doc_id,
           count(*) AS n_spans,
           CAST(sum(CASE WHEN NOT (s.doc_id = fi.f.d AND s.span_no = fi.f.s)
                    THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
           round(CAST(sum(CASE WHEN NOT (s.doc_id = fi.f.d
                                         AND s.span_no = fi.f.s)
                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_frac
    FROM hashed s JOIN firsts fi ON s.h = fi.h
    GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level span dedup profile (CCNet paragraph dedup, Wenzek et
    al. 2019 §4.2, segmenter adapted to the single-line corpus): per doc,
    how many of its 10-word spans are exact repeats of an earlier span
    anywhere in the corpus (first occurrence = min (doc_id, span_no)).
    One span_hash-keyed shuffle for the first-occurrence argmin + a
    co-partitioned join back — nothing all-pairs. See
    operators/dedup.span_dedup_stats."""
    from ..operators.dedup import span_dedup_stats as _op

    docs = load_table(spark, sf_dir, "documents")
    return _op(docs, "text", "doc_id", span_words=_SPAN_W)


@register(
    "corpus_duplicate_spans",
    oracle=f"""
    WITH {_SPANS_CTE}
    SELECT span_text,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM spans
    GROUP BY span_text
    HAVING count(*) >= 2
    ORDER BY n_occurrences DESC, span_text ASC
    LIMIT 20
    """,
    tags=("llm", "dedup"),
)
def corpus_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's top-20 most-repeated 10-word spans (the boilerplate
    inspection view next to span_dedup_stats): count + doc spread, total
    order (occurrences desc, span_text asc). See
    operators/dedup.duplicate_spans."""
    from ..operators.dedup import duplicate_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_spans(
        docs, "text", "doc_id", span_words=_SPAN_W, min_count=2, k=20
    )


@register(
    "neardup_eval_pr",
    oracle=f"""
    WITH cand AS ({_EMB_NDUP_ORACLE}),
    lbl AS (SELECT vec_id, label FROM embeddings),
    ev AS (
        SELECT c.id_a, c.id_b,
               CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS is_true
        FROM cand c
        JOIN lbl a ON c.id_a = a.vec_id
        JOIN lbl b ON c.id_b = b.vec_id
    ),
    truth AS (
        SELECT CAST(sum(n * (n - 1) / 2) AS BIGINT) AS total_true
        FROM (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
    )
    SELECT count(*) AS n_pairs,
           CAST(sum(is_true) AS BIGINT) AS true_pairs,
           any_value(total_true) AS total_true_pairs,
           round(CAST(sum(is_true) AS DOUBLE) / count(*), 6) AS precision,
           round(CAST(sum(is_true) AS DOUBLE) / any_value(total_true), 6)
               AS recall,
           round(2.0 * sum(is_true) / (count(*) + any_value(total_true)), 6)
               AS f1
    FROM ev, truth
    """,
    tags=("llm", "dedup", "similarity", "eval"),
)
def neardup_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality evaluation against ground truth: precision / recall /
    F1 of the banded-LSH near-dup pairs, scoring a pair TRUE iff both
    vectors share the embeddings table's ``label`` (the cluster id the
    generator planted). The eval row every dedup-pipeline change should
    be gated on — candidate recall ladders tell you the index's recall,
    this tells you the END decision's agreement with truth. F1 uses the
    exact identity 2TP/(|pairs| + |true pairs|) — all-integer until one
    final division. Truth side needs only per-label counts (no pair
    expansion)."""
    from ..operators.similarity import banded_ndup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = banded_ndup_pairs(
        emb, "vec_id", "embedding",
        dim=_DIM, threshold=_NDUP_THRESHOLD,
        bands=_NDUP_BANDS, bits=_NDUP_BITS, salt=_NDUP_SALT,
    )
    lbl = emb.select("vec_id", "label")
    ev = (
        pairs
        .join(lbl.select(F.col("vec_id").alias("id_a"),
                         F.col("label").alias("_la")), "id_a")
        .join(lbl.select(F.col("vec_id").alias("id_b"),
                         F.col("label").alias("_lb")), "id_b")
        .select((F.col("_la") == F.col("_lb")).cast("long").alias("is_true"))
    )
    truth = (
        emb.groupBy("label")
        .count()
        .agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2)
            .cast("long")
            .alias("total_true")
        )
    )
    agg = ev.agg(
        F.count("*").alias("n_pairs"), F.sum("is_true").alias("true_pairs")
    )
    return agg.crossJoin(F.broadcast(truth)).select(
        "n_pairs",
        "true_pairs",
        F.col("total_true").alias("total_true_pairs"),
        F.round(F.col("true_pairs") / F.col("n_pairs"), 6).alias("precision"),
        F.round(F.col("true_pairs") / F.col("total_true"), 6).alias("recall"),
        F.round(
            2.0 * F.col("true_pairs") / (F.col("n_pairs") + F.col("total_true")),
            6,
        ).alias("f1"),
    )


@register(
    "dedup_method_agreement",
    oracle=f"""
    WITH ja AS ({_NGRAM_JACCARD_ORACLE}),
    sp AS ({_SIMHASH_PAIRS_ORACLE})
    SELECT (SELECT count(*) FROM ja) AS jaccard_pairs,
           (SELECT count(*) FROM sp) AS simhash_pairs,
           (SELECT count(*) FROM ja JOIN sp USING (id_a, id_b))
               AS both_pairs,
           round((SELECT count(*) FROM ja JOIN sp USING (id_a, id_b))
                 / ((SELECT count(*) FROM ja) + (SELECT count(*) FROM sp)
                    - (SELECT count(*) FROM ja JOIN sp USING (id_a, id_b))),
                 6) AS pair_set_jaccard
    FROM (SELECT 1)
    """,
    tags=("llm", "dedup", "eval"),
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method cross-check the dedup tier ships with: do the exact
    3-gram-Jaccard (>= 0.5) and SimHash (hamming <= 1) near-dup families
    agree? One row: each method's pair count, the intersection, and the
    Jaccard of the two PAIR SETS — the drift alarm to watch when tuning
    either family's thresholds. Both pair sets are the already-oracled
    operators; the comparison adds one (id_a, id_b)-keyed join of two
    candidate-sized frames."""
    from ..operators.dedup import (
        ngram_jaccard_pairs_adaptive,
        simhash_near_dup_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # r13: each pair family feeds TWO consumers (its count + the
    # intersection join) — persist the candidate-sized pair frames so
    # each expensive pipeline runs once (guide §1.2). Released by the
    # harness clearCache after the terminal action.
    ja = ngram_jaccard_pairs_adaptive(
        docs, "text", "doc_id", n=3, threshold=0.5
    ).select("id_a", "id_b").persist()
    sp = simhash_near_dup_pairs(
        docs, "text", "doc_id", bits=_SIMHASH_BITS, max_hamming=1
    ).select("id_a", "id_b").persist()
    nj = ja.agg(F.count("*").alias("jaccard_pairs"))
    ns = sp.agg(F.count("*").alias("simhash_pairs"))
    nb = ja.join(sp, ["id_a", "id_b"]).agg(
        F.count("*").alias("both_pairs")
    )
    return (
        nj.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(nb))
        .select(
            "jaccard_pairs",
            "simhash_pairs",
            "both_pairs",
            F.round(
                F.col("both_pairs")
                / (
                    F.col("jaccard_pairs")
                    + F.col("simhash_pairs")
                    - F.col("both_pairs")
                ),
                6,
            ).alias("pair_set_jaccard"),
        )
    )


@register(
    "nearest_duplicate_per_doc",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    g AS (SELECT doc_id, unnest(shingles) AS gram FROM sh),
    sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT id_a, id_b,
               round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.3
    ),
    sym AS (
        SELECT id_a AS doc_id, id_b AS nearest_id, jaccard FROM scored
        UNION ALL
        SELECT id_b, id_a, jaccard FROM scored
    )
    SELECT doc_id, nearest_id, jaccard
    FROM (
        SELECT doc_id, nearest_id, jaccard,
               row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY jaccard DESC, nearest_id ASC) AS rn
        FROM sym
    ) WHERE rn = 1
    """,
    tags=("llm", "dedup"),
)
def nearest_duplicate_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-similar sibling per document (3-gram Jaccard >= 0.3, both
    directions of each pair): the inspection view a curation UI shows
    next to a keep/drop verdict. Window is PARTITIONED by doc (never
    global); ties pinned by (jaccard desc, nearest_id asc)."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive

    docs = load_table(spark, sf_dir, "documents")
    # r13: ``pairs`` feeds both orientations of the symmetric union —
    # persist so the banded Jaccard pipeline runs once (guide §1.2).
    # Cache lifetime: backs the returned lazy frame; harness clearCache.
    pairs = ngram_jaccard_pairs_adaptive(
        docs, "text", "doc_id", n=3, threshold=0.3
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).persist()
    sym = pairs.select(
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("nearest_id"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("doc_id"),
            F.col("id_a").alias("nearest_id"),
            "jaccard",
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("jaccard"), F.asc("nearest_id")
    )
    return (
        sym.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


_TEMB_DIM = 64

_TEMB_CTE = rf"""
ttok AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
               AS t
    FROM documents WHERE text IS NOT NULL
),
tb AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(concat('temb:', t)), 1, 4))
                AS BIGINT) % {_TEMB_DIM} AS b,
           CASE WHEN CAST(concat('0x', substr(md5(concat('temb:', t)), 5, 4))
                     AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS s
    FROM ttok
),
tsum AS (SELECT doc_id, b, sum(s) AS v FROM tb GROUP BY 1, 2),
tgrid AS (
    SELECT d.doc_id, g.j
    FROM (SELECT DISTINCT doc_id FROM tsum) d,
         (SELECT unnest(range({_TEMB_DIM})) AS j) g
),
tdense AS (
    SELECT g.doc_id, g.j, CAST(coalesce(t.v, 0) AS DOUBLE) AS v
    FROM tgrid g LEFT JOIN tsum t ON t.doc_id = g.doc_id AND t.b = g.j
),
tx AS (SELECT doc_id, list(v ORDER BY j) AS x FROM tdense GROUP BY doc_id),
tn AS (
    SELECT doc_id, x,
           sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                list_transform(x, e -> e * e)), (acc, e) -> acc + e)) AS n
    FROM tx
),
temb AS (
    SELECT doc_id, list_transform(x, e -> e / n) AS v
    FROM tn WHERE n > 0
)"""


@register(
    "text_embedding_topk",
    oracle=f"""
    WITH {_TEMB_CTE},
    anchor AS (
        SELECT v AS qv FROM temb
        WHERE doc_id = (SELECT min(doc_id) FROM temb)
    )
    SELECT doc_id,
           round({_duck_dot('v', 'qv', _TEMB_DIM)}, 6) AS cosine_sim
    FROM temb, anchor
    WHERE doc_id <> (SELECT min(doc_id) FROM temb)
    ORDER BY cosine_sim DESC, doc_id ASC
    LIMIT 10
    """,
    tags=("llm", "similarity", "text"),
)
def text_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end text->vector->top-k with NO external model: documents
    embedded by deterministic feature hashing (±1 md5 signs, unit-
    normalized — operators/textstats.text_hash_embeddings), then exact
    cosine top-10 for the smallest doc_id. Every coordinate is an integer
    sum over one normalization, so the DuckDB twin replays the vectors
    bit-for-bit. Composes with the whole ANN ladder (the embedding
    column is an ordinary array<double>)."""
    from ..functions.vectors import dot
    from ..operators.textstats import text_hash_embeddings

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # r13: the hash-embedding pipeline feeds THREE consumers (the anchor
    # scalar broadcast, the query-vector broadcast, and the scored scan) —
    # persist so the tokenize+hash+densify pass runs once (guide §1.2).
    # Cache lifetime: backs the returned lazy frame; harness clearCache.
    emb = text_hash_embeddings(docs, "text", "doc_id", dim=_TEMB_DIM).persist()
    anchor_id = emb.agg(F.min("doc_id").alias("_aid"))
    q = (
        emb.join(
            F.broadcast(anchor_id), emb["doc_id"] == F.col("_aid")
        )
        .select(F.col("embedding").alias("_qv"))
    )
    return (
        emb.join(F.broadcast(anchor_id), emb["doc_id"] != F.col("_aid"))
        .join(F.broadcast(q))
        .select(
            "doc_id",
            F.round(dot(F.col("embedding"), F.col("_qv")), 6).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("doc_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Leakage-safe train/val/test splits: assign documents to splits by an
# md5 bucket of their near-dup CLUSTER representative (not the doc itself),
# so no near-duplicate pair ever straddles a split boundary — the
# contamination mode a naive per-doc hash split cannot avoid.
# ---------------------------------------------------------------------------

_SPLIT_TRAIN_PCT = 80
_SPLIT_VAL_PCT = 10  # test gets the remainder


def _split_expr(key):  # md5 bucket 0..99 -> named split
    b = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split:"), key.cast("string"))), 1, 4),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return F.when(b < _SPLIT_TRAIN_PCT, F.lit("train")).otherwise(
        F.when(b < _SPLIT_TRAIN_PCT + _SPLIT_VAL_PCT, F.lit("val")).otherwise(
            F.lit("test")
        )
    )


def _duck_split(key_sql: str) -> str:
    return f"""CASE
        WHEN CAST(concat('0x', substr(md5(concat('split:',
                 CAST({key_sql} AS VARCHAR))), 1, 4)) AS BIGINT) % 100
             < {_SPLIT_TRAIN_PCT} THEN 'train'
        WHEN CAST(concat('0x', substr(md5(concat('split:',
                 CAST({key_sql} AS VARCHAR))), 1, 4)) AS BIGINT) % 100
             < {_SPLIT_TRAIN_PCT + _SPLIT_VAL_PCT} THEN 'val'
        ELSE 'test' END"""


@register(
    "leakage_safe_splits",
    oracle=f"""
    WITH RECURSIVE {_CANONICAL_CTE},
    tokc AS (
        SELECT doc_id,
               CASE WHEN text IS NULL THEN 0
                    ELSE len(list_filter(string_split_regex(text, '\\s+'),
                                         t -> t <> '')) END AS n_tokens
        FROM documents
    ),
    assigned AS (
        SELECT c.doc_id, c.canonical_id,
               {_duck_split('c.canonical_id')} AS split
        FROM cmap c
    )
    SELECT split,
           count(*) AS n_docs,
           count(DISTINCT canonical_id) AS n_clusters,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM assigned JOIN tokc USING (doc_id)
    GROUP BY split ORDER BY split
    """,
    tags=("llm", "dedup", "sampling"),
)
def leakage_safe_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split sizes (docs, clusters, tokens) under
    CLUSTER-KEYED assignment: every document inherits the md5 split
    bucket of its transitive near-dup cluster representative, so
    near-duplicates can never land in different splits (the eval-set
    contamination a per-doc hash split allows). One CC map join + one
    keyed aggregate on top of the already-audited canonical-map plan."""
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    cmap = dedup_canonical_map(spark, sf_dir)
    # r13: spread the tokenize pass off the single-partition scan
    # (functions/partitioning.spread)
    from ..functions.partitioning import spread as _spread

    ntok = _spread(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.when(
            F.col("text").isNull(), F.lit(0)
        ).otherwise(F.size(tokens(F.col("text")))).alias("n_tokens"),
    )
    return (
        cmap.withColumn("split", _split_expr(F.col("canonical_id")))
        .join(ntok, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("canonical_id").alias("n_clusters"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("split")
    )


@register(
    "split_leakage_check",
    oracle=f"""
    WITH RECURSIVE {_CANONICAL_CTE},
    asg AS (
        SELECT c.doc_id,
               {_duck_split('c.canonical_id')} AS cluster_split,
               {_duck_split('c.doc_id')} AS naive_split
        FROM cmap c
    )
    SELECT count(*) AS pairs_total,
           CAST(sum(CASE WHEN a.cluster_split <> b.cluster_split
                    THEN 1 ELSE 0 END) AS BIGINT) AS cross_cluster_split,
           CAST(sum(CASE WHEN a.naive_split <> b.naive_split
                    THEN 1 ELSE 0 END) AS BIGINT) AS cross_naive_split
    FROM pairs p
    JOIN asg a ON a.doc_id = p.id_a
    JOIN asg b ON b.doc_id = p.id_b
    """,
    tags=("llm", "dedup", "quality"),
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The invariant, measured: over all near-dup pairs (Jaccard >= 0.5),
    how many straddle a split boundary under (a) cluster-keyed assignment
    — provably ZERO, the split is a function of the shared cluster id —
    vs (b) the naive per-doc hash split, which leaks near-duplicates of
    training documents into eval. One row; the pair frame and CC map are
    the audited dedup plans — the SAME persisted pair frame feeds both
    (building the canonical map through its own registry entry would run
    the banded pipeline a second time; measured ~2x on this query)."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    # Cache lifetime: the pair frame feeds CC rounds AND the returned
    # plan; harness releases (bench.py/driver sim clearCache)
    pairs = ngram_jaccard_pairs_adaptive(
        docs, "text", "doc_id", n=3, threshold=0.5
    ).persist()
    cc = connected_components(pairs, "id_a", "id_b")
    cmap = (
        docs.select("doc_id")
        .join(cc.select(F.col("u").alias("doc_id"), "component"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("canonical_id"),
        )
    )
    asg = cmap.select(
        "doc_id",
        _split_expr(F.col("canonical_id")).alias("cluster_split"),
        _split_expr(F.col("doc_id")).alias("naive_split"),
    )
    a = asg.select(
        F.col("doc_id").alias("id_a"),
        F.col("cluster_split").alias("_ca"),
        F.col("naive_split").alias("_na"),
    )
    b = asg.select(
        F.col("doc_id").alias("id_b"),
        F.col("cluster_split").alias("_cb"),
        F.col("naive_split").alias("_nb"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .agg(
            F.count("*").alias("pairs_total"),
            F.sum(
                (F.col("_ca") != F.col("_cb")).cast("long")
            ).alias("cross_cluster_split"),
            F.sum(
                (F.col("_na") != F.col("_nb")).cast("long")
            ).alias("cross_naive_split"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup threshold tuning: precision/recall/F1 at a GRID of cosine
# thresholds from ONE candidate generation — the curve an operator reads
# before picking the near-dup cutoff (neardup_eval_pr is its single-point
# anchor at the deployed threshold).
# ---------------------------------------------------------------------------

_SWEEP_GRID = [0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]


@register(
    "neardup_threshold_sweep",
    oracle=f"""
    WITH cand AS ({_EMB_NDUP_ORACLE}),
    lbl AS (SELECT vec_id, label FROM embeddings),
    ev AS (
        SELECT c.cosine_sim,
               CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS is_true
        FROM cand c
        JOIN lbl a ON c.id_a = a.vec_id
        JOIN lbl b ON c.id_b = b.vec_id
    ),
    truth AS (
        SELECT CAST(sum(n * (n - 1) / 2) AS BIGINT) AS total_true
        FROM (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
    ),
    grid AS (SELECT unnest([{", ".join(repr(t) for t in _SWEEP_GRID)}])
                 AS threshold)
    SELECT g.threshold,
           count(*) AS n_pairs,
           CAST(sum(e.is_true) AS BIGINT) AS true_pairs,
           round(CAST(sum(e.is_true) AS DOUBLE) / count(*), 6) AS precision,
           round(CAST(sum(e.is_true) AS DOUBLE) / any_value(t.total_true), 6)
               AS recall,
           round(2.0 * sum(e.is_true)
                 / (count(*) + any_value(t.total_true)), 6) AS f1
    FROM grid g JOIN ev e ON e.cosine_sim >= g.threshold
    CROSS JOIN truth t
    GROUP BY g.threshold
    ORDER BY g.threshold
    """,
    tags=("llm", "dedup", "similarity", "eval"),
)
def neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision / recall / F1 of embedding near-dup pairs at every
    threshold in a 0.2-0.8 grid, from ONE banded-LSH candidate pass (the
    grid fans out over the already-verified pair frame — |grid| x |pairs|
    skinny rows, never a re-scan of the vectors). The table that answers
    'where should the dedup cutoff sit' with ground-truth labels."""
    from ..operators.similarity import banded_ndup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = banded_ndup_pairs(
        emb, "vec_id", "embedding",
        dim=_DIM, threshold=_NDUP_THRESHOLD,
        bands=_NDUP_BANDS, bits=_NDUP_BITS, salt=_NDUP_SALT,
    )
    lbl = emb.select("vec_id", "label")
    ev = (
        pairs
        .join(lbl.select(F.col("vec_id").alias("id_a"),
                         F.col("label").alias("_la")), "id_a")
        .join(lbl.select(F.col("vec_id").alias("id_b"),
                         F.col("label").alias("_lb")), "id_b")
        .select(
            "cosine_sim",
            (F.col("_la") == F.col("_lb")).cast("long").alias("is_true"),
        )
    )
    truth = (
        emb.groupBy("label")
        .count()
        .agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2)
            .cast("bigint")
            .alias("total_true")
        )
    )
    grid = F.explode(
        F.array(*[F.lit(t) for t in _SWEEP_GRID])
    ).alias("threshold")
    swept = ev.select("*", grid).filter(
        F.col("cosine_sim") >= F.col("threshold")
    )
    return (
        swept.join(F.broadcast(truth))
        .groupBy("threshold")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("is_true").alias("true_pairs"),
            F.round(F.sum("is_true") / F.count("*"), 6).alias("precision"),
            F.round(
                F.sum("is_true") / F.first("total_true"), 6
            ).alias("recall"),
            F.round(
                2.0 * F.sum("is_true")
                / (F.count("*") + F.first("total_true")),
                6,
            ).alias("f1"),
        )
        .orderBy("threshold")
    )


# ---------------------------------------------------------------------------
# Normalized-hash dedup (between exact and fuzzy): the corpus is already
# clean lowercase, so the query scans an AUGMENTED view — every 23rd
# document gets a deterministic casing/punctuation variant twin — which
# the oracle rebuilds. The operator itself is generic.
# ---------------------------------------------------------------------------


@register(
    "dedup_normalized_groups",
    oracle="""
    WITH aug AS (
        SELECT doc_id, text FROM documents WHERE text IS NOT NULL
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               concat(upper(text), ' !!') AS text
        FROM documents WHERE text IS NOT NULL AND doc_id % 23 = 0
    ),
    norm AS (
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
               md5(text) AS raw
        FROM aug
    ),
    grp AS (
        SELECT norm_hash, min(doc_id) AS keep_id, count(*) AS dup_count,
               count(DISTINCT raw) AS raw_variants
        FROM norm GROUP BY 1
    )
    SELECT count(*) AS total_groups,
           CAST(sum(CASE WHEN dup_count > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_groups,
           CAST(sum(CASE WHEN raw_variants > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS norm_only_groups,
           CAST(sum(dup_count) AS BIGINT) AS docs_total
    FROM grp
    """,
    tags=("llm", "dedup"),
)
def dedup_normalized_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-hash dedup summary over a variant-augmented corpus:
    norm_only_groups counts the groups a RAW digest cannot collapse
    (casing/punctuation twins) — nonzero exactly for the injected
    variants, proving the normalization leg does real work while plain
    duplicates keep deduping as before."""
    from ..operators.dedup import normalized_dedup_groups

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    variants = docs.filter(F.col("doc_id") % 23 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit(" !!")).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionByName(variants)
    grp = normalized_dedup_groups(aug, "text", "doc_id")
    return grp.agg(
        F.count("*").alias("total_groups"),
        F.sum((F.col("dup_count") > 1).cast("long")).alias("dup_groups"),
        F.sum((F.col("raw_variants") > 1).cast("long")).alias(
            "norm_only_groups"
        ),
        F.sum("dup_count").alias("docs_total"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter history dedup (operators/bloom.py): the constant-state
# answer to "have we ingested this before?" — the filter words are
# engine-portable state (bloom_filter_words hash-matches DuckDB's bit
# array), and the verdict query measures the realized false-positive
# rate against exact truth instead of quoting the formula.
# ---------------------------------------------------------------------------

_BLOOM_K = 4


def _bloom_pos_list(key_sql: str, num_bits: int, k: int = _BLOOM_K) -> str:
    """DuckDB twin of operators.bloom.bloom_bit_positions."""
    return (
        f"[CAST(concat('0x', substr(md5(concat('bloom', '#', i, '#', "
        f"{key_sql})), 1, 15)) AS BIGINT) % {num_bits} for i in range({k})]"
    )


@register(
    "bloom_filter_words",
    oracle=f"""
    WITH keys AS (
        SELECT md5(text) AS h FROM documents WHERE text IS NOT NULL
    ),
    pos AS (
        SELECT unnest({_bloom_pos_list('h', 1 << 14)}) AS p FROM keys
    )
    SELECT p // 63 AS word_idx,
           bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS word
    FROM pos GROUP BY 1
    """,
    tags=("llm", "dedup", "bloom"),
)
def bloom_filter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom filter OVER THE CORPUS ITSELF, as its (word_idx, word)
    state frame — hash-matching the oracle proves the persisted state is
    bit-for-bit engine-portable (the property that lets a filter built
    by one system be probed by another). 261 rows regardless of corpus
    size: the state does not grow with history."""
    from ..operators.bloom import bloom_build

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return bloom_build(docs.select(F.md5("text").alias("h")), "h")


@register(
    "bloom_dedup_verdicts",
    oracle=f"""
    WITH hist AS (
        SELECT md5(text) AS h FROM documents WHERE text IS NOT NULL
    ),
    pos AS (
        SELECT unnest({_bloom_pos_list('h', 1 << 11)}) AS p FROM hist
    ),
    words AS (
        SELECT p // 63 AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS word
        FROM pos GROUP BY 1
    ),
    newbatch AS (
        SELECT doc_id, md5(text) AS h, TRUE AS truth_dup
        FROM documents WHERE text IS NOT NULL AND doc_id % 5 = 0
        UNION ALL
        SELECT doc_id, md5(concat(text, ' fresh')) AS h, FALSE AS truth_dup
        FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 3
    ),
    probe AS (
        SELECT doc_id, truth_dup, unnest({_bloom_pos_list('h', 1 << 11)}) AS p
        FROM newbatch
    ),
    hits AS (
        SELECT probe.doc_id, probe.truth_dup,
               coalesce(((w.word >> CAST(probe.p % 63 AS INT)) & 1) = 1,
                        FALSE) AS hit
        FROM probe LEFT JOIN words w ON w.word_idx = probe.p // 63
    ),
    flags AS (
        SELECT doc_id, truth_dup, bool_and(hit) AS probably_seen
        FROM hits GROUP BY 1, 2
    )
    SELECT truth_dup, probably_seen, count(*) AS n_docs
    FROM flags GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("llm", "dedup", "bloom"),
)
def bloom_dedup_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe a new batch (100 known re-ingests + 71 genuinely fresh
    variants) against a DELIBERATELY small filter (2048 bits for 500
    keys, k=4 -> expected FP ~15%) and cross the verdict with exact
    truth: the (truth_dup=TRUE, probably_seen=FALSE) cell is empty by
    construction (no false negatives, the Bloom guarantee) while the
    FP cell is nonzero and MEASURED — the honest cost of not joining
    100 TB of history."""
    from ..operators.bloom import bloom_build, bloom_probe

    small_bits = 1 << 11
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    bloom = bloom_build(
        docs.select(F.md5("text").alias("h")), "h", num_bits=small_bits
    )
    new = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.md5("text").alias("h"),
            F.lit(True).alias("truth_dup"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 3).select(
                "doc_id",
                F.md5(F.concat("text", F.lit(" fresh"))).alias("h"),
                F.lit(False).alias("truth_dup"),
            )
        )
    )
    probed = bloom_probe(new, "h", bloom, num_bits=small_bits)
    return (
        probed.groupBy("truth_dup", "probably_seen")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("truth_dup", "probably_seen")
    )


# ---------------------------------------------------------------------------
# Sorted-Neighborhood blocking (operators/dedup.py sorted_neighborhood_
# pairs): the second classic blocking family next to q-grams — and an
# eval row that MEASURES its recall against the q-gram truth instead of
# assuming the sort keys are good.
# ---------------------------------------------------------------------------

_SNM_W = 5

_SNM_CAND_CTE = f"""
    base AS (
        SELECT s_suppkey AS id, s_name AS t FROM supplier
        WHERE s_name IS NOT NULL
    ),
    p1 AS (
        SELECT id, t, row_number() OVER (ORDER BY t, id) AS rnk FROM base
    ),
    p2 AS (
        SELECT id, t, row_number() OVER (ORDER BY reverse(t), id) AS rnk
        FROM base
    ),
    c1 AS (
        SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
        FROM p1 a JOIN p1 b
        ON b.rnk > a.rnk AND b.rnk <= a.rnk + {_SNM_W}
    ),
    c2 AS (
        SELECT least(a.id, b.id) AS id_a, greatest(a.id, b.id) AS id_b
        FROM p2 a JOIN p2 b
        ON b.rnk > a.rnk AND b.rnk <= a.rnk + {_SNM_W}
    ),
    cand AS (
        SELECT DISTINCT id_a, id_b
        FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)
    )
"""


def _snm_spark(spark: SparkSession, sf_dir: str):
    from ..operators.dedup import sorted_neighborhood_pairs

    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_name").isNotNull())
        .select("s_suppkey", "s_name")
    )
    cand = sorted_neighborhood_pairs(
        supp,
        "s_suppkey",
        {"fwd": F.col("s_name"), "rev": F.reverse(F.col("s_name"))},
        window=_SNM_W,
    )
    return supp, cand


@register(
    "snm_candidate_pairs",
    oracle=f"""
    WITH {_SNM_CAND_CTE}
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(x.t, y.t) AS INTEGER) AS edit_distance
    FROM cand c
    JOIN base x ON x.id = c.id_a
    JOIN base y ON y.id = c.id_b
    WHERE levenshtein(x.t, y.t) <= 1
    """,
    tags=("llm", "dedup", "entity-resolution"),
)
def snm_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass Sorted-Neighborhood matches over supplier names (sort by
    the name and by its reverse, window 5), verified at Levenshtein <= 1.
    The rank comes from the range-partitioned running count — no global
    single-partition window — and neighbors join on dense integer
    blocks, so each pass costs one range shuffle + one equi-join at any
    corpus size."""
    supp, cand = _snm_spark(spark, sf_dir)
    x = supp.select(
        F.col("s_suppkey").alias("id_a"), F.col("s_name").alias("_ta")
    )
    y = supp.select(
        F.col("s_suppkey").alias("id_b"), F.col("s_name").alias("_tb")
    )
    return (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .withColumn(
            "edit_distance", F.levenshtein("_ta", "_tb").cast("int")
        )
        .filter(F.col("edit_distance") <= 1)
        .select("id_a", "id_b", "edit_distance")
    )


@register(
    "snm_blocking_eval",
    oracle=f"""
    WITH {_SNM_CAND_CTE},
    truth AS ({_FUZZY_ORACLE}),
    t AS (SELECT count(*) AS truth_pairs FROM truth),
    c AS (SELECT count(*) AS snm_candidates FROM cand),
    m AS (
        SELECT count(*) AS caught
        FROM truth JOIN cand USING (id_a, id_b)
    )
    SELECT t.truth_pairs, c.snm_candidates, m.caught,
           round(m.caught / t.truth_pairs, 6) AS recall
    FROM t, c, m
    """,
    tags=("llm", "dedup", "entity-resolution", "evaluation"),
)
def snm_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality scorecard: how many of the q-gram family's
    verified Levenshtein<=1 pairs does two-pass SNM(window=5) surface as
    candidates? Recall is MEASURED, not assumed — the honest way to run
    a sort-key-dependent blocking scheme (a recall miss here is a missed
    duplicate at 100 TB, silently)."""
    from ..operators.dedup import fuzzy_match_pairs

    supp, cand = _snm_spark(spark, sf_dir)
    # r13: both the fuzzy truth pipeline and the SNM candidate pipeline
    # feed TWO consumers each (their count + the intersection join) —
    # persist so each expensive pass runs once (guide §1.2). Cache
    # released by the harness clearCache after the terminal action.
    cand = cand.persist()
    truth = fuzzy_match_pairs(
        supp, "s_name", "s_suppkey", max_dist=1, q=2
    ).select("id_a", "id_b").persist()
    t = truth.agg(F.count("*").alias("truth_pairs"))
    c = cand.agg(F.count("*").alias("snm_candidates"))
    m = truth.join(cand, ["id_a", "id_b"]).agg(F.count("*").alias("caught"))
    return (
        t.crossJoin(c)
        .crossJoin(m)
        .withColumn(
            "recall", F.round(F.col("caught") / F.col("truth_pairs"), 6)
        )
    )


# ---------------------------------------------------------------------------
# Embedding outlier pruning: per-label distance-to-centroid decile flags.
# Every cross-element sum is quantized to 1e-9 BIGINTs first (the entropy/
# logreg integer discipline applied to dot products), so no float fold
# order exists anywhere — cosines are exact rationals over integer sums.
# ---------------------------------------------------------------------------


@register(
    "embedding_outliers",
    oracle="""
    WITH el AS (
        SELECT vec_id, label,
               unnest(list_transform(embedding, x -> round(CAST(x AS DOUBLE), 3)))
                   AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    cent AS (
        SELECT label, pos, sum(v) / count(*) AS c
        FROM el GROUP BY 1, 2
    ),
    cq AS (
        SELECT label,
               sum(CAST(round(c * c * 1000000000) AS BIGINT)) AS nc_q
        FROM cent GROUP BY 1
    ),
    vecq AS (
        SELECT el.vec_id, el.label,
               sum(CAST(round(el.v * cent.c * 1000000000) AS BIGINT)) AS dot_q,
               sum(CAST(round(el.v * el.v * 1000000000) AS BIGINT)) AS nv_q
        FROM el JOIN cent ON el.label = cent.label AND el.pos = cent.pos
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT v.vec_id, v.label,
               v.dot_q / (sqrt(v.nv_q) * sqrt(c.nc_q)) AS cos_raw
        FROM vecq v JOIN cq c USING (label)
    ),
    tiled AS (
        SELECT vec_id, label, cos_raw,
               ntile(10) OVER (
                   PARTITION BY label ORDER BY cos_raw ASC, vec_id ASC
               ) AS tile
        FROM scored
    )
    SELECT vec_id, label, round(cos_raw, 6) AS cosine_to_centroid
    FROM tiled WHERE tile = 1 ORDER BY label, vec_id
    """,
    tags=("llm", "embedding", "quality"),
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bottom cosine-to-centroid decile of each label — the
    embedding-space junk candidates a curation pass reviews or prunes
    (mislabeled / off-distribution vectors sit far from their label's
    center). Elements snap to a 1e-3 grid and every dot/norm sum is
    1e-9-quantized BIGINTs, so the score is an exact rational — no float
    fold order anywhere; the decile cut uses a total order
    (score, vec_id). Shape: one posexplode aggregate for centroids
    (labels x dim rows, broadcast back), one for scores; the ntile
    window partitions by label."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "raw")
    ).select(
        "vec_id",
        "label",
        "pos",
        F.round(F.col("raw").cast("double"), 3).alias("v"),
    )
    cent = el.groupBy("label", "pos").agg(
        (F.sum("v") / F.count("*")).alias("c")
    )
    cq = cent.groupBy("label").agg(
        F.sum(
            F.round(F.col("c") * F.col("c") * 1e9).cast("long")
        ).alias("nc_q")
    )
    vecq = (
        el.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                F.round(F.col("v") * F.col("c") * 1e9).cast("long")
            ).alias("dot_q"),
            F.sum(
                F.round(F.col("v") * F.col("v") * 1e9).cast("long")
            ).alias("nv_q"),
        )
    )
    scored = vecq.join(F.broadcast(cq), "label").select(
        "vec_id",
        "label",
        (
            F.col("dot_q") / (F.sqrt("nv_q") * F.sqrt("nc_q"))
        ).alias("cos_raw"),
    )
    w = W.partitionBy("label").orderBy(F.asc("cos_raw"), F.asc("vec_id"))
    return (
        scored.withColumn("tile", F.ntile(10).over(w))
        .filter(F.col("tile") == 1)
        .select(
            "vec_id",
            "label",
            F.round("cos_raw", 6).alias("cosine_to_centroid"),
        )
        .orderBy("label", "vec_id")
    )


@register(
    "label_centroid_similarity",
    oracle="""
    WITH el AS (
        SELECT vec_id, label,
               unnest(list_transform(embedding, x -> round(CAST(x AS DOUBLE), 3)))
                   AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    cent AS (
        SELECT label, pos, sum(v) / count(*) AS c
        FROM el GROUP BY 1, 2
    ),
    cq AS (
        SELECT label,
               sum(CAST(round(c * c * 1000000000) AS BIGINT)) AS nc_q
        FROM cent GROUP BY 1
    ),
    cross_q AS (
        SELECT a.label AS label_a, b.label AS label_b,
               sum(CAST(round(a.c * b.c * 1000000000) AS BIGINT)) AS dot_q
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT x.label_a, x.label_b,
           round(x.dot_q / (sqrt(na.nc_q) * sqrt(nb.nc_q)), 6)
               AS centroid_cosine
    FROM cross_q x
    JOIN cq na ON na.label = x.label_a
    JOIN cq nb ON nb.label = x.label_b
    ORDER BY 1, 2
    """,
    tags=("llm", "embedding", "profiling"),
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between label centroids — the class-separability
    matrix (two labels whose centroids cosine near 1 are candidates for
    merging or for label-noise review). All sums are 1e-9-quantized
    BIGINTs over the 1e-3 element grid: exact rationals, no fold order.
    The pair join runs over labels x dim rows — dashboard cardinality,
    never the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    el = emb.select(
        "label", F.posexplode("embedding").alias("pos", "raw")
    ).select(
        "label", "pos", F.round(F.col("raw").cast("double"), 3).alias("v")
    )
    cent = el.groupBy("label", "pos").agg(
        (F.sum("v") / F.count("*")).alias("c")
    )
    cq = cent.groupBy("label").agg(
        F.sum(F.round(F.col("c") * F.col("c") * 1e9).cast("long")).alias(
            "nc_q"
        )
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("c").alias("cb")
    )
    cross_q = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.round(F.col("ca") * F.col("cb") * 1e9).cast("long")
            ).alias("dot_q")
        )
    )
    na = cq.select(F.col("label").alias("label_a"), F.col("nc_q").alias("na_q"))
    nb = cq.select(F.col("label").alias("label_b"), F.col("nc_q").alias("nb_q"))
    return (
        cross_q.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot_q") / (F.sqrt("na_q") * F.sqrt("nb_q")), 6
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


@register(
    "supplier_entity_clusters",
    oracle=f"""
    WITH RECURSIVE {_SNM_CAND_CTE},
    truth AS ({_FUZZY_ORACLE}),
    snmv AS (
        SELECT c.id_a, c.id_b FROM cand c
        JOIN base x ON x.id = c.id_a
        JOIN base y ON y.id = c.id_b
        WHERE levenshtein(x.t, y.t) <= 1
    ),
    allp AS (
        SELECT id_a, id_b FROM snmv
        UNION SELECT id_a, id_b FROM truth
    ),
    eedges AS (
        SELECT id_a AS u, id_b AS v FROM allp
        UNION SELECT id_b AS u, id_a AS v FROM allp
    ),
    enodes AS (SELECT DISTINCT u FROM eedges),
    ereach AS (
        SELECT u, u AS r FROM enodes
        UNION
        SELECT e.u, ereach.r FROM eedges e JOIN ereach ON e.v = ereach.u
    ),
    ecmap AS (SELECT u AS s_suppkey, min(r) AS canonical_id
              FROM ereach GROUP BY 1)
    SELECT s_suppkey, canonical_id FROM ecmap
    """,
    tags=("llm", "entity-resolution", "graph"),
)
def supplier_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: UNION the two blocking families
    (sorted-neighborhood + q-gram count-filter), verify every candidate
    at Levenshtein <= 1, and collapse the verified pair graph into
    transitive clusters via connected components — the composed pipeline
    a record-linkage run actually ships (two cheap recalls patching each
    other's misses, one exact verify, one canonical map). Output:
    (s_suppkey, canonical_id = min key reachable) for every supplier in
    a non-trivial cluster."""
    from ..operators.dedup import fuzzy_match_pairs
    from ..operators.graph import connected_components

    supp, snm_cand = _snm_spark(spark, sf_dir)
    qg = fuzzy_match_pairs(
        supp, "s_name", "s_suppkey", max_dist=1, q=2
    ).select("id_a", "id_b")
    x = supp.select(F.col("s_suppkey").alias("id_a"), F.col("s_name").alias("_ta"))
    y = supp.select(F.col("s_suppkey").alias("id_b"), F.col("s_name").alias("_tb"))
    snm_verified = (
        snm_cand.join(x, "id_a")
        .join(y, "id_b")
        .filter(F.levenshtein("_ta", "_tb") <= 1)
        .select("id_a", "id_b")
    )
    pairs = snm_verified.unionByName(qg).distinct()
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("u").alias("s_suppkey"),
        F.col("component").alias("canonical_id"),
    ).orderBy("s_suppkey")


@register(
    "neardup_local_clustering",
    oracle=f"""
    WITH {_J05_PAIRS_CTE},
    tri AS (
        SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        FROM jpairs e1
        JOIN jpairs e2 ON e2.id_a = e1.id_b
        JOIN jpairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    corners AS (
        SELECT u AS node, count(*) AS triangles
        FROM (SELECT unnest([a, b, c]) AS u FROM tri) GROUP BY 1
    ),
    deg AS (
        SELECT u AS node, count(*) AS degree FROM (
            SELECT id_a AS u FROM jpairs
            UNION ALL SELECT id_b AS u FROM jpairs
        ) GROUP BY 1
    )
    SELECT d.node, d.degree,
           CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles,
           round(CASE WHEN d.degree >= 2
                      THEN 2.0 * coalesce(c.triangles, 0)
                           / (d.degree * (d.degree - 1))
                      ELSE 0.0 END, 6) AS coefficient
    FROM deg d LEFT JOIN corners c USING (node)
    ORDER BY node
    """,
    tags=("llm", "dedup", "graph"),
)
def neardup_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering of the near-dup graph — coefficient 1
    marks clique members (true duplicate groups), low-coefficient
    high-degree nodes are the hubs stitching unrelated docs that a
    reviewer audits first. See operators/graph.local_clustering."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive
    from ..operators.graph import local_clustering

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_adaptive(
        docs, "text", "doc_id", n=3, threshold=0.5
    )
    return local_clustering(pairs, "id_a", "id_b").orderBy("node")


@register(
    "neardup_degree_assortativity",
    oracle=f"""
    WITH {_J05_PAIRS_CTE},
    deg AS (
        SELECT u AS node, count(*) AS degree FROM (
            SELECT id_a AS u FROM jpairs
            UNION ALL SELECT id_b AS u FROM jpairs
        ) GROUP BY 1
    ),
    directed AS (
        SELECT id_a AS u, id_b AS v FROM jpairs
        UNION ALL SELECT id_b AS u, id_a AS v FROM jpairs
    ),
    xy AS (
        SELECT du.degree AS dx, dv.degree AS dy
        FROM directed d
        JOIN deg du ON du.node = d.u
        JOIN deg dv ON dv.node = d.v
    ),
    agg AS (
        SELECT count(*) AS n,
               sum(CAST(dx AS DECIMAL(38,0))) AS sx,
               sum(CAST(dy AS DECIMAL(38,0))) AS sy,
               sum(CAST(dx * dy AS DECIMAL(38,0))) AS sxy,
               sum(CAST(dx * dx AS DECIMAL(38,0))) AS sxx,
               sum(CAST(dy * dy AS DECIMAL(38,0))) AS syy
        FROM xy
    )
    SELECT CAST(n // 2 AS BIGINT) AS n_edges,
           round(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                       AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                      THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 END, 6) AS assortativity
    FROM agg
    """,
    tags=("llm", "dedup", "graph"),
)
def neardup_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup graph (Pearson of endpoint
    degrees over both edge orientations): positive = template farms
    (hubs pair with hubs), negative = star boilerplate (hubs stitch
    leaves). Exact decimal sums, one terminal double expression. See
    operators/graph.degree_assortativity."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive
    from ..operators.graph import degree_assortativity

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_adaptive(
        docs, "text", "doc_id", n=3, threshold=0.5
    )
    return degree_assortativity(pairs, "id_a", "id_b")


@register(
    "cross_source_dup_matrix",
    oracle="""
    WITH ds AS (
        SELECT DISTINCT md5(text) AS h, source
        FROM documents WHERE text IS NOT NULL
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS shared_texts
    FROM ds a JOIN ds b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("llm", "dedup", "profiling"),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many exact texts each PAIR of sources shares — the
    cross-source duplication matrix a mixture designer reads before
    setting per-source weights (two sources mirroring each other's
    content double-count their joint slice). One digest-keyed
    self-join over the (hash, source) DISTINCT frame: rows bounded by
    duplicate groups x source pairs, never the corpus squared."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    ds = docs.select(F.md5("text").alias("h"), "source").distinct()
    a = ds.select("h", F.col("source").alias("source_a"))
    b = ds.select("h", F.col("source").alias("source_b"))
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared_texts"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Content-defined chunk dedup (the FastCDC/rsync boundary trick applied to
# corpus dedup): cut documents where an 8-char rolling window's md5 hits
# 0 mod 64, hash the variable-size chunks, and count cross-document chunk
# reuse. Edit-robust where fixed windows are not: an inserted sentence
# only reslices up to the next boundary, so every later chunk still
# matches its twin in the unedited copy. See operators/chunking.cdc_chunks.
# ---------------------------------------------------------------------------

_CDC_GRAM = 8
_CDC_DIV = 64

# Shared DuckDB replay of operators/chunking.cdc_chunks — reused by both
# CDC queries (the ledger below and the overlap-cluster composition).
_CDC_CHUNKS_CTE = f"""docs AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND length(text) >= {_CDC_GRAM}
    ),
    pos AS (
        SELECT doc_id, text,
               unnest(range(1, length(text) - {_CDC_GRAM} + 2)) AS p
        FROM docs
    ),
    bnd AS (
        SELECT doc_id, text, p + {_CDC_GRAM} - 1 AS e FROM pos
        WHERE CAST(concat('0x',
                   substr(md5(substr(text, p, {_CDC_GRAM})), 1, 4))
                   AS BIGINT) % {_CDC_DIV} = 0
    ),
    cuts AS (
        SELECT DISTINCT doc_id, text, e FROM (
            SELECT doc_id, text, e FROM bnd
            UNION ALL SELECT doc_id, text, length(text) FROM docs
        )
    ),
    chunks AS (
        SELECT doc_id,
               e - coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0)
                   AS chunk_len,
               md5(substr(text,
                    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0)
                        + 1,
                    e - coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e),
                                 0))) AS chunk_hash
        FROM cuts
    )"""


@register(
    "cdc_chunk_dedup",
    oracle=f"""
    WITH {_CDC_CHUNKS_CTE}
    SELECT chunk_hash, CAST(any_value(chunk_len) AS BIGINT) AS chunk_len,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM chunks
    GROUP BY 1
    HAVING count(DISTINCT doc_id) >= 2 AND any_value(chunk_len) >= 16
    ORDER BY n_occurrences DESC, chunk_hash ASC
    LIMIT 50
    """,
    tags=("llm", "dedup", "cdc"),
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top cross-document duplicated content-defined chunks: chunk_hash,
    chunk length, how many distinct docs carry it and total occurrences —
    the sub-document dedup ledger that survives edits (a boilerplate
    paragraph is found even when every copy sits at a different offset,
    which defeats fixed-window chunk hashing).

    Scale: position emission is the O(total_chars) exactness cost already
    paid by exact_substring_pairs; everything after the boundary filter
    is ~1/64th of it. The per-doc lag window partitions on doc over
    boundary rows only; the final aggregate is chunk-hash-keyed with a
    total (n_occurrences desc, chunk_hash asc) order. Tiny chunks
    (< 16 chars — boundary coincidences) are excluded from the ledger.
    """
    from ..operators.chunking import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    ch = cdc_chunks(docs, "text", "doc_id", gram=_CDC_GRAM, divisor=_CDC_DIV)
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.any_value(F.col("chunk_len")).cast("long").alias("chunk_len"),
            F.countDistinct("id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occurrences"),
        )
        .filter((F.col("n_docs") >= 2) & (F.col("chunk_len") >= 16))
        .orderBy(F.desc("n_occurrences"), F.asc("chunk_hash"))
        .limit(50)
    )


@register(
    "cdc_chunk_doc_clusters",
    oracle=f"""
    WITH RECURSIVE {_CDC_CHUNKS_CTE},
    dch AS (
        SELECT DISTINCT doc_id, chunk_hash FROM chunks WHERE chunk_len >= 16
    ),
    hotc AS (
        SELECT chunk_hash FROM dch GROUP BY 1 HAVING count(*) > 64
    ),
    cool AS (
        SELECT * FROM dch
        WHERE chunk_hash NOT IN (SELECT chunk_hash FROM hotc)
    ),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        FROM cool a
        JOIN cool b ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (SELECT id_a, id_b FROM inter WHERE shared >= 3),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ),
    cmap AS (SELECT u AS doc_id, min(r) AS canonical_id FROM reach GROUP BY 1)
    SELECT canonical_id, CAST(count(*) AS BIGINT) AS n_docs
    FROM cmap GROUP BY 1
    ORDER BY n_docs DESC, canonical_id ASC
    """,
    tags=("llm", "dedup", "cdc", "graph"),
)
def cdc_chunk_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document clusters from CHUNK overlap: docs sharing >= 3
    content-defined chunks (>= 16 chars each) are edges; transitive
    closure via connected components gives the edit-robust dedup groups
    fixed-offset methods miss — the composed form of cdc_chunk_dedup,
    and the sub-document sibling of dedup_canonical_map.

    Scale guards: the pair join runs on the DISTINCT (doc, chunk_hash)
    frame with chunks held by > 64 docs excluded first (the hot-key cap
    of exact_substring_pairs / decontamination — license-boilerplate
    chunks would otherwise quadratically explode the join); candidate
    volume is then bounded by dup-group sizes. CC is the adaptive
    pointer-jumping operator (O(log n) rounds, one shuffle each).
    Output is one row per cluster of >= 2 docs, totally ordered."""
    from ..operators.chunking import cdc_chunks
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    ch = cdc_chunks(docs, "text", "doc_id", gram=_CDC_GRAM, divisor=_CDC_DIV)
    # r13: ``dch`` feeds the hot-key scan AND (via ``cool``) both sides
    # of the pair self-join — persist the skinny distinct frame so the
    # per-character CDC chunking pass runs once, not four times
    # (guide §1.2). Released by the harness clearCache.
    dch = (
        ch.filter(F.col("chunk_len") >= 16)
        .select("id", "chunk_hash")
        .distinct()
        .persist()
    )
    hot = (
        dch.groupBy("chunk_hash")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 64)
        .select("chunk_hash")
    )
    cool = dch.join(hot, "chunk_hash", "left_anti")
    a = cool.select(F.col("chunk_hash"), F.col("id").alias("id_a"))
    b = cool.select(F.col("chunk_hash"), F.col("id").alias("id_b"))
    pairs = (
        a.join(b, "chunk_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_shared"))
        .filter(F.col("_shared") >= 3)
        .select("id_a", "id_b")
    )
    cc = connected_components(pairs, "id_a", "id_b")
    return (
        cc.groupBy(F.col("component").alias("canonical_id"))
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("canonical_id"))
    )


@register(
    "cdc_cross_source_matrix",
    oracle=f"""
    WITH {_CDC_CHUNKS_CTE},
    sch AS (
        SELECT DISTINCT d.source, c.chunk_hash
        FROM chunks c JOIN documents d USING (doc_id)
        WHERE c.chunk_len >= 16
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS shared_chunks
    FROM sch a
    JOIN sch b ON a.chunk_hash = b.chunk_hash AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY source_a, source_b
    """,
    tags=("llm", "dedup", "cdc", "provenance"),
)
def cdc_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct content-defined chunks shared per SOURCE pair — the
    sub-document refinement of cross_source_dup_matrix: mirrored
    paragraphs and quoted boilerplate show up here even when no whole
    document is duplicated across the sources. The mixture-design
    diagnostic for what a per-source token budget is really buying.

    Scale: the pair join runs on the DISTINCT (source, chunk_hash) frame,
    so per-hash fan-out is bounded by the SOURCE count (a handful), and
    the output by source pairs — no hot-key cap needed, unlike the
    doc-pair join in cdc_chunk_doc_clusters."""
    from ..operators.chunking import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    ch = cdc_chunks(docs, "text", "doc_id", gram=_CDC_GRAM, divisor=_CDC_DIV)
    # r13: ``sch`` feeds both sides of the source-pair self-join —
    # persist the skinny distinct frame so the CDC chunking pass runs
    # once, not twice (guide §1.2). Released by harness clearCache.
    sch = (
        ch.filter(F.col("chunk_len") >= 16)
        .join(
            docs.select(F.col("doc_id").alias("id"), "source"), "id"
        )
        .select("source", "chunk_hash")
        .distinct()
        .persist()
    )
    a = sch.select(F.col("source").alias("source_a"), "chunk_hash")
    b = sch.select(F.col("source").alias("source_b"), "chunk_hash")
    return (
        a.join(b, "chunk_hash")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("shared_chunks"))
        .orderBy("source_a", "source_b")
    )


@register(
    "cdc_decontamination",
    oracle=f"""
    WITH {_CDC_CHUNKS_CTE},
    tagged AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(concat('eval:',
                    CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT) % 50 = 0
                   AS is_eval
        FROM docs
    ),
    evalchunks AS (
        SELECT DISTINCT c.chunk_hash
        FROM chunks c JOIN tagged t USING (doc_id)
        WHERE t.is_eval AND c.chunk_len >= 32
    ),
    trainside AS (
        SELECT d.doc_id, d.source
        FROM documents d JOIN tagged t USING (doc_id)
        WHERE NOT t.is_eval
    ),
    contaminated AS (
        SELECT DISTINCT c.doc_id
        FROM chunks c JOIN evalchunks e USING (chunk_hash)
        WHERE c.chunk_len >= 32
    )
    SELECT tr.source,
           CAST(count(*) AS BIGINT) AS n_train_docs,
           CAST(count(c.doc_id) AS BIGINT) AS n_contaminated,
           round(CAST(count(c.doc_id) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS contamination_rate
    FROM trainside tr LEFT JOIN contaminated c USING (doc_id)
    GROUP BY 1
    ORDER BY tr.source
    """,
    tags=("llm", "decontamination", "cdc"),
)
def cdc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level eval-set decontamination audit: a deterministic ~2%
    md5-selected eval split, and per source the share of TRAINING docs
    sharing any >= 32-char content-defined chunk with it — the
    edit-robust complement of the n-gram containment audit
    (eval_containment_audit): a quoted eval paragraph is caught at any
    offset, under any surrounding edits.

    Scale: eval chunk hashes are a distinct semi-join probe (eval-sized,
    broadcastable); training docs are flagged by one hash equi-join on
    their own chunk frame — the corpus is chunked ONCE (the shared
    map-only CDC pass) and never pair-joined doc x doc."""
    from ..operators.chunking import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    is_eval = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("eval:"), F.col("doc_id").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % 50
        == 0
    )
    tagged = docs.select("doc_id", "source", is_eval.alias("is_eval"))
    ch = cdc_chunks(docs, "text", "doc_id", gram=_CDC_GRAM, divisor=_CDC_DIV)
    # r13: ``big`` feeds the eval-chunk probe AND the contamination join
    # — persist so the CDC chunking pass runs once (guide §1.2).
    # Cache lifetime: backs the returned lazy frame; harness clearCache.
    big = ch.filter(F.col("chunk_len") >= 32).select(
        F.col("id").alias("doc_id"), "chunk_hash"
    ).persist()
    eval_chunks = (
        big.join(
            tagged.filter(F.col("is_eval")).select("doc_id"), "doc_id"
        )
        .select("chunk_hash")
        .distinct()
    )
    contaminated = (
        big.join(eval_chunks, "chunk_hash").select("doc_id").distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = tagged.filter(~F.col("is_eval"))
    return (
        train.join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_train_docs"),
            F.count("_hit").cast("long").alias("n_contaminated"),
            F.round(
                F.count("_hit").cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("contamination_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# PCA top principal component by quantized power iteration — the
# logreg/Markov integer-iteration discipline extended to a covariance
# eigensolve. Distributed work: ONE nested-posexplode pass producing the
# d x d centered second-moment cells (map-side combined — 4096 cells for
# d=64 no matter how many vectors); the 16-step solve runs driver-side
# on that bounded frame and the oracle replays every step bit-for-bit.
# Division hazard pinned: DuckDB's integer `//` truncates toward zero
# while Python's floors, so EVERY signed division here uses the explicit
# sign-safe half-up form  sign(w) * ((abs(w) + d/2) // d)  in both
# engines.
# ---------------------------------------------------------------------------

_PCA_ITERS = PCA_ITERS  # single source of truth with operators/pca.py
_PCA_SSDIV = (
    "CASE WHEN {w} >= 0 THEN ({w} + {d} // 2) // {d} "
    "ELSE -((-({w}) + {d} // 2) // {d}) END"
)


def _pca_chain() -> str:
    """The shared WITH-chain: quantize -> center -> scale -> 16 steps ->
    sign fix -> downscaled vs (everything but the final SELECT)."""
    its = []
    prev = "v0"
    for k in range(1, _PCA_ITERS + 1):
        ss = _PCA_SSDIV.format(w="w.w", d="d.d")
        its.append(
            f"""w{k} AS MATERIALIZED (
        SELECT m.j, sum(m.s * v.v) AS w
        FROM mat m JOIN {prev} v ON v.j = m.k GROUP BY 1
    ),
    d{k} AS MATERIALIZED (
        SELECT greatest(1, (max(abs(w)) + 999999999) // 1000000000) AS d
        FROM w{k}
    ),
    v{k} AS MATERIALIZED (
        SELECT w.j, CAST({ss} AS BIGINT) AS v
        FROM w{k} w CROSS JOIN d{k} d
    )"""
        )
        prev = f"v{k}"
    ss_m = _PCA_SSDIV.format(w="c.c", d="c.n")
    ss_s = _PCA_SSDIV.format(w="r.s", d="sd.d")
    ss_vs = _PCA_SSDIV.format(w="(f.v * g.s)", d="64")
    return f"""
    WITH el AS MATERIALIZED (
        SELECT vec_id,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS q,
               generate_subscripts(embedding, 1) - 1 AS j
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    cm AS MATERIALIZED (
        SELECT j, sum(q) AS c, count(*) AS n FROM el GROUP BY 1
    ),
    m AS MATERIALIZED (
        SELECT j, CAST({ss_m} AS BIGINT) AS m
        FROM (SELECT j, c, n FROM cm) c
    ),
    ec AS MATERIALIZED (
        SELECT el.vec_id, el.j, el.q - m.m AS qc
        FROM el JOIN m USING (j)
    ),
    s_raw AS MATERIALIZED (
        SELECT a.j AS j, b.j AS k, sum(a.qc * b.qc) AS s
        FROM ec a JOIN ec b USING (vec_id)
        GROUP BY 1, 2
    ),
    sd AS MATERIALIZED (
        SELECT greatest(1, (max(abs(s)) + 99999999) // 100000000) AS d
        FROM s_raw
    ),
    mat AS MATERIALIZED (
        SELECT r.j, r.k, CAST({ss_s} AS BIGINT) AS s
        FROM s_raw r CROSS JOIN sd
    ),
    v0 AS MATERIALIZED (
        SELECT DISTINCT j, CAST(1000000000 AS BIGINT) AS v FROM el
    ),
    {",".join(its)},
    sgn AS MATERIALIZED (
        SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s
        FROM v{_PCA_ITERS} ORDER BY abs(v) DESC, j ASC LIMIT 1
    ),
    vs AS MATERIALIZED (
        SELECT f.j, CAST({ss_vs} AS BIGINT) AS vs
        FROM v{_PCA_ITERS} f CROSS JOIN sgn g
    )"""


def _pca_oracle() -> str:
    return (
        _pca_chain()
        + f""",
    nrm AS (SELECT sum(vs * vs) AS nq FROM vs)
    SELECT CAST(vs.j AS INTEGER) AS dim,
           CAST(f.v * g.s AS BIGINT) AS loading_q,
           CAST(vs.vs AS DOUBLE) / sqrt(CAST(nrm.nq AS DOUBLE)) AS loading
    FROM vs
    JOIN v{_PCA_ITERS} f ON f.j = vs.j
    CROSS JOIN sgn g CROSS JOIN nrm
    ORDER BY dim
    """
    )


@register(
    "embedding_top_pc",
    oracle=_pca_oracle(),
    tags=("llm", "similarity", "pca", "iterative"),
)
def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding table (64 loadings): the
    direction of maximum variance — what an ANN/whitening/compression
    stage diagonalizes first. Components are 1e-6-quantized BIGINTs,
    integer-mean centered; the d x d centered second-moment matrix comes
    from ONE nested-explode pass whose d^2 cells are map-side combined
    (the only data-proportional work — 4096 cells regardless of corpus
    size); 16 power-iteration steps run driver-side in pure integer
    arithmetic (per-step renormalization to <= 1e9 by sign-safe half-up
    division, products bounded < 2^63), with the final sign fixed by
    the largest-|loading| convention and unit-normalized once in double.

    Integer-exactness envelope (SCALE.md): second-moment cells stay
    below 2^63 up to ~10^7 vectors at 1e-6 quantization; beyond that
    the same plan runs at coarser quantization — the documented
    quantization-vs-scale tradeoff.

    Determinism: the oracle replays quantization, centering, scaling,
    all 16 steps, the sign fix, and the downscaled norm bit-for-bit
    (sign-safe divisions everywhere: DuckDB `//` truncates, Python
    floors — the explicit CASE form removes the divergence)."""
    from ..operators.pca import pca_moments_cached

    cells, c, n = pca_moments_cached(spark, sf_dir)
    if not c:
        return spark.createDataFrame(
            [], "dim int, loading_q long, loading double"
        )
    rows = pca_solve_from_moments(cells, c, n)
    return spark.createDataFrame(
        rows, "dim int, loading_q long, loading double"
    ).orderBy("dim")


def _pca_projection_oracle() -> str:
    ss_p = _PCA_SSDIV.format(w="pr", d="1000000")
    return (
        _pca_chain()
        + f""",
    vf AS MATERIALIZED (
        SELECT f.j, f.v * g.s AS v FROM v{_PCA_ITERS} f CROSS JOIN sgn g
    ),
    proj AS MATERIALIZED (
        SELECT el.vec_id, sum((el.q - m.m) * vf.v) AS pr
        FROM el JOIN m USING (j) JOIN vf ON vf.j = el.j
        GROUP BY 1
    ),
    pq AS MATERIALIZED (
        SELECT vec_id, CAST({ss_p} AS BIGINT) AS p FROM proj
    )
    SELECT e.label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(p) AS BIGINT) AS proj_sum_q,
           CAST(min(p) AS BIGINT) AS proj_min_q,
           CAST(max(p) AS BIGINT) AS proj_max_q,
           round(CAST(sum(p) AS DOUBLE) / count(*), 6) AS mean_proj
    FROM pq JOIN embeddings e USING (vec_id)
    GROUP BY 1
    ORDER BY 1
    """
    )


@register(
    "embedding_pc1_label_profile",
    oracle=_pca_projection_oracle(),
    tags=("llm", "similarity", "pca", "iterative"),
)
def embedding_pc1_label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label distribution of the projection onto the top principal
    component — does PC1 separate the classes? (If label means differ by
    more than their spreads, a linear probe along one direction already
    discriminates.) Projections are exact integers: centered quantized
    components dotted with the solved integer eigvector, downscaled by
    the sign-safe half-up division; per-label sums/min/max are integer
    aggregates, the mean is one double division.

    Scale: the solve reuses the d^2-bounded moment pass (driver-side
    matrix); the projection is a SECOND map-only scan — zip_with over
    broadcast literal arrays (mean + eigvector), one dot product per
    row, then a label-keyed aggregate. No join, no explode."""
    from ..operators.pca import PCA_QUANT, pca_moments_cached, ssdiv

    emb = load_table(spark, sf_dir, "embeddings")
    cells, c, n = pca_moments_cached(spark, sf_dir)
    if not c:
        return spark.createDataFrame(
            [],
            "label int, n_vecs long, proj_sum_q long, proj_min_q long, "
            "proj_max_q long, mean_proj double",
        )
    solved = pca_solve_from_moments(cells, c, n)
    dims = [r[0] for r in solved]
    m = {j: ssdiv(c[j], n) for j in dims}
    marr = F.array(*[F.lit(m[j]) for j in dims])
    varr = F.array(*[F.lit(r[1]) for r in solved])
    qarr = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * PCA_QUANT).cast("long"),
    )
    centered = F.zip_with(qarr, marr, lambda x, mm: x - mm)
    terms = F.zip_with(centered, varr, lambda a, v: a * v)
    pr = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
    proj = emb.filter(F.col("embedding").isNotNull()).select(
        "label", pr.alias("_pr")
    )
    # sign-safe half-up downscale in INTEGER arithmetic (`div`, not `/`)
    p = F.expr(
        "CASE WHEN _pr >= 0 THEN (_pr + 500000) div 1000000 "
        "ELSE -((-_pr + 500000) div 1000000) END"
    )
    return (
        proj.select("label", p.alias("p"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("p").cast("long").alias("proj_sum_q"),
            F.min("p").cast("long").alias("proj_min_q"),
            F.max("p").cast("long").alias("proj_max_q"),
            F.round(
                F.sum("p").cast("double") / F.count("*"), 6
            ).alias("mean_proj"),
        )
        .orderBy("label")
    )


def _pca_variance_oracle() -> str:
    ss_vd = _PCA_SSDIV.format(w="v", d="8192")
    ss_wd = _PCA_SSDIV.format(w="acc", d="8192")
    return (
        _pca_chain()
        + f""",
    vd AS MATERIALIZED (
        SELECT j, CAST({ss_vd} AS BIGINT) AS vd FROM v{_PCA_ITERS}
    ),
    wd0 AS MATERIALIZED (
        SELECT m.j, sum(m.s * vd.vd) AS acc
        FROM mat m JOIN vd ON vd.j = m.k GROUP BY 1
    ),
    wd AS MATERIALIZED (
        SELECT j, CAST({ss_wd} AS BIGINT) AS wd FROM wd0
    ),
    ray AS (
        SELECT sum(vd.vd * wd.wd) AS num, sum(vd.vd * vd.vd) AS den
        FROM vd JOIN wd USING (j)
    ),
    tr AS (SELECT sum(s) AS trace FROM s_raw WHERE j = k)
    SELECT CAST(tr.trace AS BIGINT) AS trace_q,
           CAST(ray.num AS BIGINT) AS rayleigh_num,
           CAST(ray.den AS BIGINT) AS rayleigh_den,
           CAST(sd.d AS BIGINT) AS scale_div,
           CAST(ray.num AS DOUBLE) / CAST(ray.den AS DOUBLE)
               * CAST(sd.d AS DOUBLE) AS lambda1_est,
           CAST(ray.num AS DOUBLE) / CAST(ray.den AS DOUBLE)
               * CAST(sd.d AS DOUBLE) / CAST(tr.trace AS DOUBLE)
               AS pc1_variance_share
    FROM tr CROSS JOIN ray CROSS JOIN sd
    """
    )


@register(
    "embedding_pc1_variance_share",
    oracle=_pca_variance_oracle(),
    tags=("llm", "similarity", "pca", "iterative"),
)
def embedding_pc1_variance_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotropy health of the embedding space in one row: the share of
    total variance the top principal component explains (lambda1 /
    trace). Near 1/d means isotropic (healthy for cosine retrieval);
    a large share means one direction dominates — the classic symptom
    that recommends whitening / PC removal before ANN.

    lambda1 comes from the Rayleigh quotient of the solved direction
    over the scaled matrix, evaluated on 2^13-downscaled integer vectors
    so every product stays < 2^63; the trace is an exact BIGINT sum of
    the centered diagonal. The integer inputs (num, den, trace,
    scale_div) are emitted alongside, so the two doubles are each one
    fixed expression over exact integers — deterministic cross-engine.
    Scale: same d^2-bounded moment pass as embedding_top_pc; everything
    after is driver work on 64-row frames."""
    from ..operators.pca import pca_moments_cached, pca_rayleigh_stats

    cells, c, n = pca_moments_cached(spark, sf_dir)
    if not c:
        return spark.createDataFrame(
            [],
            "trace_q long, rayleigh_num long, rayleigh_den long, "
            "scale_div long, lambda1_est double, pc1_variance_share double",
        )
    trace, num, den, sdiv = pca_rayleigh_stats(cells, c, n)
    lam = num / den * sdiv if den else 0.0
    share = num / den * sdiv / trace if den and trace else 0.0
    return spark.createDataFrame(
        [(trace, num, den, sdiv, lam, share)],
        "trace_q long, rayleigh_num long, rayleigh_den long, "
        "scale_div long, lambda1_est double, pc1_variance_share double",
    )


# --- multi-source BFS on the near-dup graph ---------------------------------

_BFS_ROUNDS = 4
_BFS_HUB_DEGREE = 3


def _bfs_cte() -> str:
    parts = [
        f""",
    e0 AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM jpairs
        UNION
        SELECT id_b AS a, id_a AS b FROM jpairs
    ),
    hubs AS MATERIALIZED (
        SELECT a AS node_id FROM (SELECT a, count(*) AS dg FROM e0 GROUP BY a)
        WHERE dg >= {_BFS_HUB_DEGREE}
    ),
    d0 AS MATERIALIZED (
        SELECT node_id, CAST(0 AS INTEGER) AS hops FROM hubs
    )"""
    ]
    for r in range(1, _BFS_ROUNDS + 1):
        parts.append(
            f""",
    d{r} AS MATERIALIZED (
        SELECT node_id, CAST(min(hops) AS INTEGER) AS hops FROM (
            SELECT node_id, hops FROM d{r - 1}
            UNION ALL
            SELECT e.b AS node_id, d.hops + 1 AS hops
            FROM e0 e JOIN d{r - 1} d ON e.a = d.node_id
        ) GROUP BY node_id
    )"""
        )
    return "".join(parts)


@register(
    "neardup_hub_distances",
    oracle=f"""
    WITH {_J05_PAIRS_CTE}{_bfs_cte()}
    SELECT node_id, hops FROM d{_BFS_ROUNDS} ORDER BY node_id
    """,
    tags=("llm", "dedup", "graph", "iterative"),
)
def neardup_hub_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the 0.5-Jaccard near-dup graph: every
    document's exact hop distance (<= 4) to the nearest duplication HUB
    (degree >= 3 node) — triage for 'how close is this doc to a
    template farm'. Fixed 4-round frontier relaxation (one edge join +
    one min-aggregate per round; driver-side for a small graph, see
    ``bfs_hops``), completing the graph family next to CC / PageRank /
    k-core / triangles."""
    from ..operators.dedup import ngram_jaccard_pairs_adaptive
    from ..operators.graph import bfs_hops, degree_counts

    docs = load_table(spark, sf_dir, "documents")
    # r13: ``pairs`` feeds the degree pass (twice — both endpoints) AND
    # both orientations of the BFS edge union — persist the pair frame so
    # the banded Jaccard pipeline runs once, not four times (guide §1.2).
    # Released by the harness clearCache.
    pairs = ngram_jaccard_pairs_adaptive(
        docs, "text", "doc_id", n=3, threshold=0.5
    ).persist()
    hubs = (
        degree_counts(pairs, "id_a", "id_b")
        .filter(F.col("degree") >= _BFS_HUB_DEGREE)
        .select(F.col("node").alias("node_id"))
    )
    return bfs_hops(
        pairs, "id_a", "id_b", hubs, rounds=_BFS_ROUNDS
    ).orderBy("node_id")


@register(
    "packed_sequences_ffd",
    oracle=None,  # sequential bin state is not SQL-expressible; parity is
    # pinned by tests/test_llm_ops.py::test_ffd_pack_matches_reference
    # and the waste comparison vs the greedy packer
    tags=("llm", "packing", "rows-only"),
)
def packed_sequences_ffd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing packing of documents into 256-token bins,
    per shard: (shard, bin_id, doc_count, total_tokens) — the ATOMIC
    packing contract (no doc straddles a context window), vs the
    zero-padding straddling contract of packed_sequences; FFD backfills
    gaps with small docs so it beats atomic next-fit on padding
    (pytest-measured).
    The bin state is inherently sequential -> applyInPandas per shard
    (the one batch Arrow-grouped tier); declared rows-only, with exact
    python-reference parity and the FFD<=greedy bins claim pinned by
    pytest."""
    from ..operators.chunking import ffd_pack_documents

    docs = load_table(spark, sf_dir, "documents")
    return (
        ffd_pack_documents(docs, "text", "doc_id", bin_tokens=256, n_shards=32)
        .groupBy("shard", "bin_id")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .orderBy("shard", "bin_id")
    )


@register(
    "media_phash_near_dups",
    oracle=r"""
    WITH b AS (
        SELECT doc_id,
               [ascii(substr(text, i + 1, 1)) for i in range(63)] AS by,
               CAST(list_sum([ascii(substr(text, i + 1, 1))
                              for i in range(63)]) AS BIGINT) AS total
        FROM documents
        WHERE text IS NOT NULL AND strlen(text) >= 63
    ),
    h AS (
        SELECT doc_id,
               CAST(list_sum(
                   [CASE WHEN by[i + 1] * 63 > total
                         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END
                    for i in range(63)]) AS BIGINT) AS phash
        FROM b
    ),
    bv AS (
        SELECT doc_id, phash, k, (phash >> (21 * CAST(k AS INTEGER)))
               & 2097151 AS v
        FROM (SELECT doc_id, phash, unnest(range(3)) AS k FROM h)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, a.phash AS ha,
                        b.doc_id AS id_b, b.phash AS hb
        FROM bv a JOIN bv b ON a.k = b.k AND a.v = b.v
         AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= 8
    ORDER BY id_a, id_b
    """,
    tags=("llm", "multimodal", "dedup"),
)
def media_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicates over the media path: 63-bit aHash per
    asset (Arrow mapInPandas over raw payloads — the stub seam; a real
    decoder swaps in the 8x8 luma grid), candidates from 3 x 21-bit band
    buckets, exact Hamming verify (<= 8) on candidates only. Recall is
    the standard banded tradeoff: pigeonhole GUARANTEES a shared band
    only for hamming <= 2 (3 bands, at most 2 flips leave one band
    untouched); above that a pair surfaces unless every band has a flip
    — both engines apply the same banding, so the oracle checks the
    banded semantics exactly. Extends the multimodal family
    beyond byte-exact dedup. ASCII corpus => oracle replays the byte
    hash from text characters."""
    from ..operators.multimodal import (
        documents_as_assets,
        perceptual_hash_assets,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") >= 63)
    )
    hashed = perceptual_hash_assets(documents_as_assets(docs))
    bands = hashed.select(
        "asset_id",
        "phash",
        F.explode(F.array(*[F.lit(k) for k in range(3)])).alias("k"),
    ).withColumn(
        "v",
        F.expr("(phash >> (21 * k)) & 2097151"),
    )
    a = bands.select(
        F.col("asset_id").alias("id_a"),
        F.col("phash").alias("ha"),
        "k",
        "v",
    )
    b = bands.select(
        F.col("asset_id").alias("id_b"),
        F.col("phash").alias("hb"),
        "k",
        "v",
    )
    cand = (
        a.join(b, ["k", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "ha", "id_b", "hb")
        .distinct()
    )
    hamming = F.expr("CAST(bit_count(ha ^ hb) AS INT)")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 8)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Greedy k-center coreset (round 8): diverse-subset selection over the
# embedding corpus — the farthest-point 2-approximation used to pick
# representative documents / seed labeling budgets / init k-means. The
# logreg/Markov/PCA integer-iteration discipline applied to a SELECTION
# loop: quantized components make every distance an exact BIGINT, so the
# oracle replays all k rounds (seed + 7 argmax picks) bit-for-bit.
# ---------------------------------------------------------------------------

_KC_K = 8


def _kc_dist2(v: str, c: str) -> str:
    """Exact integer squared distance over quantized components."""
    return (
        f"CAST(list_sum([({v}[i] - {c}[i]) * ({v}[i] - {c}[i]) "
        f"for i in range(1, {_DIM} + 1)]) AS BIGINT)"
    )


def _kcenter_oracle(k: int = _KC_K) -> str:
    parts = [
        """
    WITH vecs AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
               ) AS qv
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    c0 AS MATERIALIZED (
        SELECT vec_id, qv FROM vecs
        ORDER BY list_sum(list_transform(qv, x -> x * x)) DESC, vec_id ASC
        LIMIT 1
    ),
    d1 AS MATERIALIZED (
        SELECT v.vec_id, v.qv, """
        + _kc_dist2("v.qv", "c.qv")
        + """ AS dmin
        FROM vecs v CROSS JOIN c0 c
    )"""
    ]
    for r in range(1, k):
        parts.append(
            f""",
    c{r} AS MATERIALIZED (
        SELECT vec_id, qv, dmin FROM d{r}
        ORDER BY dmin DESC, vec_id ASC LIMIT 1
    )"""
        )
        if r < k - 1:
            parts.append(
                f""",
    d{r + 1} AS MATERIALIZED (
        SELECT v.vec_id, v.qv,
               least(v.dmin, {_kc_dist2('v.qv', 'c.qv')}) AS dmin
        FROM d{r} v CROSS JOIN c{r} c
    )"""
            )
    unions = [
        "SELECT 0 AS sel_round, vec_id, CAST(0 AS BIGINT) AS dist2_q FROM c0"
    ] + [
        f"SELECT {r} AS sel_round, vec_id, dmin AS dist2_q FROM c{r}"
        for r in range(1, k)
    ]
    body = "\n    UNION ALL ".join(unions)
    return (
        "".join(parts)
        + f"""
    SELECT CAST(sel_round AS INT) AS sel_round, vec_id, dist2_q,
           round(sqrt(CAST(dist2_q AS DOUBLE)) / 1000000, 6) AS radius
    FROM ({body})
    ORDER BY sel_round
    """
    )


@register(
    "coreset_kcenter_selection",
    oracle=_kcenter_oracle(),
    tags=("llm", "similarity", "curation", "coreset", "iterative"),
)
def coreset_kcenter_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 8-pick greedy k-center coreset over the embedding corpus with
    its non-increasing coverage-radius sequence — the quantity a curation
    pipeline watches to decide how many representatives a corpus needs.

    Scale: k narrow map passes (zip_with vs a broadcast-literal center)
    + k TakeOrdered(1) reads; the running dmin frame is persisted per
    round so no round replays its predecessors; driver traffic is one
    row per round (operators/similarity.py kcenter_coreset)."""
    from ..operators.similarity import kcenter_coreset

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, "vec_id", "embedding", k=_KC_K)


# ---------------------------------------------------------------------------
# Hard-negative mining (round 8): the similarity-join shape applied to
# contrastive-training pair prep. contrastive_negatives draws UNIFORM
# negatives; an embedding model trains on the negatives it nearly
# confuses — the most-similar DIFFERENT-label vector. Same banded-LSH
# candidate scheme as dedup_embedding_pairs (collide in any band),
# verify-once, per-anchor bounded ranking window.
# ---------------------------------------------------------------------------

_HN_BANDS = 4
_HN_BITS = 8
_HN_SALT = "hardneg"


def _duck_hn_bucket(vec: str, band: int) -> str:
    out = []
    for b in range(_HN_BITS):
        terms = " + ".join(
            f"{vec}[{i + 1}] * ({_pseudo_coef(f'{_HN_SALT}:{band}:{b}:{i}')})"
            for i in range(_DIM)
        )
        out.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(out)


_HN_BAND_COLS = ",\n               ".join(
    f"{_duck_hn_bucket('v', t)} AS b{t}" for t in range(_HN_BANDS)
)
_HN_MATCH_ANY = " OR ".join(f"a.b{t} = b.b{t}" for t in range(_HN_BANDS))

_HN_ORACLE = f"""
    WITH vecs AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    bucketed AS (
        SELECT vec_id, label, v,
               {_HN_BAND_COLS}
        FROM vecs
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS anchor_id, b.vec_id AS negative_id
        FROM bucketed a JOIN bucketed b
          ON a.label <> b.label AND a.vec_id <> b.vec_id
         AND ({_HN_MATCH_ANY})
    ),
    scored AS (
        SELECT anchor_id, negative_id,
               a.label AS anchor_label, b.label AS negative_label,
               round({_duck_dot('a.v', 'b.v')}
                     / (sqrt({_duck_dot('a.v', 'a.v')})
                        * sqrt({_duck_dot('b.v', 'b.v')})),
                     6) AS cosine_sim
        FROM cand
        JOIN bucketed a ON a.vec_id = cand.anchor_id
        JOIN bucketed b ON b.vec_id = cand.negative_id
        WHERE sqrt({_duck_dot('a.v', 'a.v')})
              * sqrt({_duck_dot('b.v', 'b.v')}) > 0
    ),
    ranked AS (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY anchor_id
                   ORDER BY cosine_sim DESC, negative_id ASC
               ) AS INTEGER) AS neg_rank
        FROM scored
    )
    SELECT anchor_id, negative_id, anchor_label, negative_label,
           cosine_sim, neg_rank
    FROM ranked WHERE neg_rank <= 1
    ORDER BY anchor_id, neg_rank
"""


@register(
    "hard_negative_mining",
    oracle=_HN_ORACLE,
    tags=("llm", "similarity", "training-pairs", "lsh"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each anchor's single hardest negative (most-similar different-label
    vector among its banded-LSH collisions) — see
    ``operators/similarity.hard_negatives`` for the blocked candidate
    scheme; anchors with only same-label collisions drop out, the honest
    recall cost of never going n^2."""
    from ..operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(
        emb,
        "vec_id",
        "embedding",
        "label",
        dim=_DIM,
        bands=_HN_BANDS,
        bits=_HN_BITS,
        salt=_HN_SALT,
        k=1,
    )


# ---------------------------------------------------------------------------
# Semantic decontamination (round 8): the EMBEDDING-space complement of
# the two lexical decontamination audits (eval_containment_audit's
# n-grams, cdc_decontamination's content-defined chunks) — a
# paraphrased/translated eval leak shares no chunk hash but sits at
# high cosine. Same banded-LSH blocking as dedup_embedding_pairs,
# directional (eval probes train), LEFT-joined so every eval doc keeps
# a row (best banded match or NULL) and the flag distribution is the
# audit output.
# ---------------------------------------------------------------------------

_SDC_BANDS = 6
_SDC_BITS = 8
_SDC_SALT = "sdecon"
_SDC_THRESHOLD = 0.35


def _duck_sdc_bucket(vec: str, band: int) -> str:
    out = []
    for b in range(_SDC_BITS):
        terms = " + ".join(
            f"{vec}[{i + 1}] * ({_pseudo_coef(f'{_SDC_SALT}:{band}:{b}:{i}')})"
            for i in range(_DIM)
        )
        out.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(out)


_SDC_BAND_COLS = ",\n               ".join(
    f"{_duck_sdc_bucket('v', t)} AS b{t}" for t in range(_SDC_BANDS)
)
_SDC_MATCH_ANY = " OR ".join(f"a.b{t} = b.b{t}" for t in range(_SDC_BANDS))

_SDC_ORACLE = f"""
    WITH vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               CAST(concat('0x', substr(md5(concat('seval:',
                    CAST(vec_id AS VARCHAR))), 1, 4)) AS BIGINT) % 10 = 0
                   AS is_eval
        FROM embeddings
        WHERE embedding IS NOT NULL
    ),
    bucketed AS (
        SELECT vec_id, v, is_eval,
               {_SDC_BAND_COLS}
        FROM vecs
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS eval_id, b.vec_id AS train_id
        FROM bucketed a JOIN bucketed b
          ON a.is_eval AND NOT b.is_eval AND ({_SDC_MATCH_ANY})
    ),
    scored AS (
        SELECT eval_id, train_id,
               round({_duck_dot('a.v', 'b.v')}
                     / (sqrt({_duck_dot('a.v', 'a.v')})
                        * sqrt({_duck_dot('b.v', 'b.v')})),
                     6) AS cosine_sim
        FROM cand
        JOIN bucketed a ON a.vec_id = cand.eval_id
        JOIN bucketed b ON b.vec_id = cand.train_id
        WHERE sqrt({_duck_dot('a.v', 'a.v')})
              * sqrt({_duck_dot('b.v', 'b.v')}) > 0
    ),
    best AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY eval_id
                       ORDER BY cosine_sim DESC, train_id ASC) AS rk
            FROM scored
        ) WHERE rk = 1
    )
    SELECT e.vec_id AS eval_id,
           best.train_id AS best_train_id,
           best.cosine_sim,
           coalesce(best.cosine_sim >= {_SDC_THRESHOLD}, FALSE)
               AS contaminated
    FROM vecs e LEFT JOIN best ON best.eval_id = e.vec_id
    WHERE e.is_eval
    ORDER BY eval_id
"""


@register(
    "semantic_decontamination",
    oracle=_SDC_ORACLE,
    tags=("llm", "decontamination", "similarity", "lsh"),
)
def semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per eval-split vector (deterministic ~10% md5 split): its
    best-cosine banded-LSH match in the training split and whether that
    match clears the contamination threshold. Banding caps candidates
    (never eval x train); its recall concentrates on HIGH-cosine leaks —
    exactly the memorization-relevant ones — and at 100 TB you raise
    bands, not bucket width."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Cache lifetime: backs the returned LAZY frame; harness releases
    vecs = sdc_bucketed(emb).persist()
    keys = vecs.select(
        "vec_id", "_is_eval", F.posexplode("_bs").alias("_band", "_bucket")
    )
    cand = (
        keys.filter("_is_eval")
        .select(F.col("vec_id").alias("eval_id"), "_band", "_bucket")
        .join(
            keys.filter(~F.col("_is_eval")).select(
                F.col("vec_id").alias("train_id"), "_band", "_bucket"
            ),
            ["_band", "_bucket"],
        )
        .select("eval_id", "train_id")
        .distinct()
    )
    return sdc_flags(vecs, cand)


def sdc_is_eval() -> Column:
    """The deterministic ~10% md5 eval-split rule over ``vec_id``."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("seval:"), F.col("vec_id").cast("string"))),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 10
        == 0
    )


def sdc_bucketed(emb: DataFrame) -> DataFrame:
    """Composition seam: vectors + banded buckets + split flag + norm —
    shared by the batch query and the streaming maintenance leg."""
    from ..operators.similarity import _multitable_buckets_udf
    from ..functions.vectors import as_double, norm

    buckets_arr = _multitable_buckets_udf(_DIM, _SDC_BITS, _SDC_BANDS, _SDC_SALT)
    # A NULL embedding would crash the Arrow bucket UDF (np.asarray on
    # None); the kcenter path filters the same way (ADVICE r8).
    emb = emb.filter(F.col("embedding").isNotNull())
    return emb.select(
        "vec_id",
        as_double("embedding").alias("_v"),
        buckets_arr(F.col("embedding")).alias("_bs"),
        sdc_is_eval().alias("_is_eval"),
    ).withColumn("_nrm", norm(F.col("_v")))


def sdc_train_bucket_keys(emb: DataFrame) -> DataFrame:
    """(_band, _bucket, train_id) rows for the TRAIN side — an additive
    set (maintained as count-monoid rows by the incremental-agg sink in
    the streaming leg; parity pinned in tests/test_streaming_llm.py)."""
    vecs = sdc_bucketed(emb)
    return (
        vecs.filter(~F.col("_is_eval"))
        .select(
            F.col("vec_id").alias("train_id"),
            F.posexplode("_bs").alias("_band", "_bucket"),
        )
        .groupBy("_band", "_bucket", "train_id")
        .agg(F.count("*").alias("c"))
    )


def sdc_flags(vecs: DataFrame, cand: DataFrame) -> DataFrame:
    """Read-side stage: exact verify + per-eval best + flag, from any
    (eval_id, train_id) candidate frame."""
    from ..functions.vectors import dot

    a = vecs.select(
        F.col("vec_id").alias("eval_id"),
        F.col("_v").alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = vecs.select(
        F.col("vec_id").alias("train_id"),
        F.col("_v").alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    n = F.col("_na") * F.col("_nb")
    scored = (
        cand.join(a, "eval_id")
        .join(b, "train_id")
        .select(
            "eval_id",
            "train_id",
            F.round(
                F.when(n > 0, dot(F.col("_va"), F.col("_vb")) / n), 6
            ).alias("cosine_sim"),
        )
        # Zero-norm pairs have undefined cosine; drop them (the oracle's
        # WHERE norm-product > 0 does the same) instead of letting a NULL
        # cosine win the per-eval rank (ADVICE r8).
        .filter(F.col("cosine_sim").isNotNull())
    )
    w = Window.partitionBy("eval_id").orderBy(
        F.desc("cosine_sim"), F.asc("train_id")
    )
    best = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("eval_id", F.col("train_id").alias("best_train_id"), "cosine_sim")
    )
    return (
        vecs.filter("_is_eval")
        .select(F.col("vec_id").alias("eval_id"))
        .join(best, "eval_id", "left")
        .select(
            "eval_id",
            "best_train_id",
            "cosine_sim",
            F.coalesce(
                F.col("cosine_sim") >= _SDC_THRESHOLD, F.lit(False)
            ).alias("contaminated"),
        )
        .orderBy("eval_id")
    )


# ---------------------------------------------------------------------------
# Corpus-level lexical diversity (round 8): vocabulary concentration per
# source — the signal that separates template/boilerplate feeds (low
# hapax share, low corpus TTR) from organic text. Complements the
# per-document TTR in doc_stats and the head-of-vocabulary views
# (vocab_top_tokens, zipf_profile) with the TAIL: hapax legomena.
# ---------------------------------------------------------------------------


@register(
    "lexical_diversity_profile",
    oracle=r"""
    WITH toks AS (
        SELECT source,
               lower(unnest(list_filter(string_split_regex(text, '\s+'),
                                        t -> t <> ''))) AS token
        FROM documents WHERE text IS NOT NULL
    ),
    tc AS (
        SELECT source, token, count(*) AS c FROM toks GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS total_tokens,
           CAST(count(*) AS BIGINT) AS distinct_tokens,
           CAST(count(*) FILTER (c = 1) AS BIGINT) AS hapax_tokens,
           round(CAST(count(*) FILTER (c = 1) AS DOUBLE) / count(*), 6)
               AS hapax_share,
           round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
               AS corpus_ttr
    FROM tc GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "text", "vocab", "curation"),
)
def lexical_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary concentration: corpus type-token ratio and
    hapax-legomenon share. Scale: ONE (source, token) shuffle whose
    map-side combine collapses each partition to its distinct tokens; the
    re-aggregation input is the per-source vocabulary, already far
    smaller than the corpus."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    return lexical_diversity_over_counts(token_counts_by_source(docs))


def token_counts_by_source(docs: DataFrame) -> DataFrame:
    """The (source, token, c) additive count frame — a sum-monoid, so the
    incremental-agg sink maintains it per micro-batch and the streaming
    profile equals batch (pinned in tests/test_streaming_llm.py)."""
    from ..functions.text import tokens

    return (
        docs.select("source", F.explode(tokens("text")).alias("t"))
        .select("source", F.lower("t").alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )


def lexical_diversity_over_counts(tc: DataFrame) -> DataFrame:
    """Read-side stage: diversity profile from any (source, token, c)
    count frame — batch-computed or drained streaming state."""
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("total_tokens"),
            F.count("*").cast("bigint").alias("distinct_tokens"),
            F.count_if(F.col("c") == 1).cast("bigint").alias("hapax_tokens"),
            F.round(
                F.count_if(F.col("c") == 1).cast("double") / F.count("*"), 6
            ).alias("hapax_share"),
            F.round(
                F.count("*").cast("double") / F.sum("c").cast("double"), 6
            ).alias("corpus_ttr"),
        )
        .orderBy("source")
    )


@register(
    "dedup_token_savings",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id, shingles,
           {_SIG_COLS}
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
        SELECT doc_id, unnest([{_BAND_EXPRS}]) AS band FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    dupes AS (
        SELECT DISTINCT id_b
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
        WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.3
    ),
    dtok AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    t -> t <> '')) AS BIGINT) AS n_tok
        FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           CAST(sum(n_tok) AS BIGINT) AS tokens_before,
           -- coalesce: a source whose every doc is dropped keeps 0 tokens
           -- (matching the Spark builder), not NULL (ADVICE r8)
           CAST(coalesce(sum(n_tok) FILTER (doc_id NOT IN
                    (SELECT id_b FROM dupes)), 0) AS BIGINT) AS tokens_after,
           round(1.0 - CAST(coalesce(sum(n_tok) FILTER (doc_id NOT IN
                     (SELECT id_b FROM dupes)), 0) AS DOUBLE)
                 / CAST(sum(n_tok) AS DOUBLE), 6) AS savings_share
    FROM dtok GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "dedup", "curation"),
)
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline KPI a dedup pass reports: per source, token volume
    before vs after the MinHash keep-first policy (the dedup_keep_list
    rule) and the share of training tokens it saves. Scale: the keep
    list is the banded-LSH pass the engine already runs; the savings
    report adds one map-only token count + a (source) aggregate."""
    from ..functions.text import token_count
    from ..operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    drop = (
        minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.3)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    dtok = docs.select(
        "doc_id", "source", token_count("text").cast("bigint").alias("n_tok")
    ).join(drop.withColumn("_dup", F.lit(True)), "doc_id", "left")
    kept = F.when(F.col("_dup").isNull(), F.col("n_tok")).otherwise(F.lit(0))
    return (
        dtok.groupBy("source")
        .agg(
            F.sum("n_tok").cast("bigint").alias("tokens_before"),
            F.sum(kept).cast("bigint").alias("tokens_after"),
            F.round(
                1.0
                - F.sum(kept).cast("double") / F.sum("n_tok").cast("double"),
                6,
            ).alias("savings_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# ANN probe sweep (round 8): the tuning table an IVF deployment reads
# before picking n_probe — recall@10 at probes 1/2/4/8 from ONE query,
# the ANN sibling of neardup_threshold_sweep's PR grid. Recall is
# non-decreasing in n_probe by construction (probe sets are nested),
# pinned by pytest; the driver-facing numbers let a 100 TB operator
# trade scan fraction (n_probe/n_list) against recall with data, not
# folklore.
# ---------------------------------------------------------------------------

# r10: probes span the knee of the retuned index (n_list=32, assign=2);
# the production tier sits at n_probe=12 since the r12 retune (between
# the sweep's 8 and 16 anchors)
_SWEEP_PROBES = (2, 4, 8, 16)


def _ivf_sweep_oracle() -> str:
    per_probe = []
    for p in _SWEEP_PROBES:
        per_probe.append(
            f"""
    probes_{p} AS (
        SELECT cid FROM scored WHERE vec_id = {_QUERY_VEC_ID}
        ORDER BY sim DESC, cid ASC LIMIT {p}
    ),
    got_{p} AS (
        SELECT c.vec_id FROM (
            SELECT DISTINCT a.vec_id, a.v
            FROM assigned a JOIN probes_{p} USING (cid)
            WHERE a.vec_id <> {_QUERY_VEC_ID}
        ) c, q
        ORDER BY round({_duck_dot('c.v', 'qv')}
              / (sqrt({_duck_dot('c.v', 'c.v')}) * sqrt({_duck_dot('qv', 'qv')})),
              6) DESC, c.vec_id ASC
        LIMIT 10
    )"""
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT {p} AS n_probe, "
        f"CAST((SELECT count(*) FROM got_{p} JOIN truth USING (vec_id)) AS BIGINT) AS hits"
        for p in _SWEEP_PROBES
    )
    return f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    cents AS (
        SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid,
               v AS cv
        FROM vecs
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        LIMIT {_IVF_NLIST}
    ),
    scored AS (
        SELECT vec_id, v, cid,
               {_duck_dot('v', 'cv')}
               / (sqrt({_duck_dot('v', 'v')}) * sqrt({_duck_dot('cv', 'cv')})) AS sim
        FROM vecs, cents
    ),
    assigned AS (
        SELECT vec_id, v, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM scored
        ) WHERE rn <= {_IVF_NASSIGN}
    ),
    q AS (SELECT v AS qv FROM vecs WHERE vec_id = {_QUERY_VEC_ID}),
    truth AS (
        SELECT vec_id FROM vecs, q
        WHERE vec_id <> {_QUERY_VEC_ID}
        ORDER BY round({_duck_dot('v', 'qv')}
              / (sqrt({_duck_dot('v', 'v')}) * sqrt({_duck_dot('qv', 'qv')})),
              6) DESC, vec_id ASC
        LIMIT 10
    ),{",".join(per_probe)}
    SELECT n_probe, hits,
           round(CAST(hits AS DOUBLE) / 10, 6) AS recall_at_10
    FROM ({unions})
    ORDER BY n_probe
    """


@register(
    "ann_probe_sweep",
    oracle=_ivf_sweep_oracle(),
    tags=("llm", "similarity", "ivf", "tuning"),
)
def ann_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@10 at n_probe in {2,4,8,16} against the exact
    brute-force top-10 — four bounded probes of the PRODUCTION index
    shape (n_list=32, spilled 2x assignment — the r10 retune in
    ``operators/similarity.ivf_topk``); each probe reads
    ~n_assign*n_probe/n_list of the stored entries at scale.

    r13 (guide §1.2): the IVF assignment — the O(|vecs| * n_list)
    centroid-scoring pass — is probe-INDEPENDENT, so it is built once
    via ``ivf_assignment``.

    r14 (guide §2.6/§1.2 — VERDICT r13 ask #6): the four probe settings
    were four separate probe-list broadcasts + four TakeOrdered branches
    over the shared assignment (scaling ratio 0.65 at 8-vs-32 CPUs —
    pure per-job overhead). Now ONE unioned pass: rank the top-
    ``max(_SWEEP_PROBES)`` centroids once, join candidates once, score
    each candidate's cosine once, and per probe setting p a candidate
    participates iff its best-ranked matched centroid is within p
    (exactly ``assigned ⋈ top-p``), with the per-p top-10 taken by a
    rank window under the same (cosine DESC, vec_id ASC) total order the
    TakeOrdered used — row-identical results, one job, no persists."""
    from ..operators.similarity import (
        ROUND_DECIMALS,
        _cosine_vs_query,
        brute_force_topk,
        ivf_assignment,
        norm,
    )
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    truth = brute_force_topk(emb, "vec_id", "embedding", _QUERY_VEC_ID, k=10).select(
        "vec_id"
    )
    vecs, scored, assigned = ivf_assignment(
        emb, "vec_id", "embedding", n_list=_IVF_NLIST, n_assign=_IVF_NASSIGN
    )
    max_p = max(_SWEEP_PROBES)
    probe_order = [F.desc("_sim"), F.asc("cid")]
    probes = (
        scored.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .orderBy(*probe_order)
        .limit(max_p)
        .select(
            "cid",
            F.row_number().over(Window.orderBy(*probe_order)).alias("_prank"),
        )
    )
    q = (
        vecs.filter(F.col("vec_id") == _QUERY_VEC_ID)
        .select(F.col("_v").alias("_query_vec"))
        .withColumn("_qn", norm(F.col("_query_vec")))
    )
    # one exact re-score per DISTINCT candidate (the n_assign>1 dedup of
    # ivf_probe_topk becomes the groupBy; _v is identical per vec_id so
    # min(_prank) + any _v reproduces the per-p candidate sets exactly)
    cand = (
        assigned.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != _QUERY_VEC_ID)
        .groupBy("vec_id")
        .agg(F.min("_prank").alias("_mrank"), F.first("_v").alias("_v"))
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "_mrank",
            F.round(_cosine_vs_query(F.col("_v")), ROUND_DECIMALS).alias(
                "cosine_sim"
            ),
        )
    )
    expanded = cand.select(
        "vec_id",
        "cosine_sim",
        F.explode(
            F.array(*[F.lit(p) for p in _SWEEP_PROBES])
        ).alias("n_probe"),
        "_mrank",
    ).filter(F.col("_mrank") <= F.col("n_probe"))
    w10 = Window.partitionBy("n_probe").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    top10 = (
        expanded.withColumn("_rn", F.row_number().over(w10))
        .filter(F.col("_rn") <= 10)
        .select("n_probe", "vec_id")
    )
    hits = (
        top10.join(F.broadcast(truth), "vec_id")
        .groupBy("n_probe")
        .agg(F.count("*").cast("bigint").alias("hits"))
    )
    # a probe setting with zero candidates must still report hits=0 (the
    # old per-p scalar aggregate always emitted its row)
    pvals = spark.createDataFrame(
        [(p,) for p in _SWEEP_PROBES], "n_probe int"
    )
    return (
        pvals.join(hits, "n_probe", "left")
        .select(
            "n_probe",
            F.coalesce("hits", F.lit(0)).cast("bigint").alias("hits"),
        )
        .select(
            "n_probe",
            "hits",
            F.round(F.col("hits").cast("double") / 10, 6).alias("recall_at_10"),
        )
        .orderBy("n_probe")
    )


# ---------------------------------------------------------------------------
# Containment dedup (round 8): the asymmetric metric |A∩B|/min(|A|,|B|)
# next to the symmetric Jaccard tier — quotes/excerpts embedded in
# longer documents score containment ~1 at low Jaccard, so a
# Jaccard-only dedup keeps both copies of the duplicated content.
# ---------------------------------------------------------------------------


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id, shingles,
           {_SIG_COLS}
        FROM sh WHERE len(shingles) > 0
    ),
    bands AS (
        SELECT doc_id, unnest([{_BAND_EXPRS}]) AS band FROM sigs
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT id_a, id_b,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                 AS jaccard,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / least(len(sa.shingles), len(sb.shingles)) AS containment
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.id_a
        JOIN sh sb ON sb.doc_id = cand.id_b
    )
    SELECT id_a, id_b, jaccard, containment
    FROM scored WHERE containment >= 0.6
    """,
    tags=("llm", "dedup", "containment", "minhash"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded candidates re-verified by shingle CONTAINMENT >= 0.6 with
    the symmetric Jaccard alongside — see
    ``operators/dedup.containment_pairs`` for why excerpt-shaped
    duplication needs the asymmetric metric."""
    from ..operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, "text", "doc_id", threshold=0.6)


# ---------------------------------------------------------------------------
# Source-centroid similarity: which ingestion sources occupy the same
# embedding region? The pairwise-cosine matrix over per-source centroids is
# the curation dashboard for mixture design (two sources with cosine ~ 1
# are redundant; a source orthogonal to all others is unique signal).
# Same grid-rounding determinism contract as embedding_label_centroids.
# ---------------------------------------------------------------------------


@register(
    "source_centroid_similarity",
    oracle="""
    WITH elems AS (
        SELECT d.source,
               unnest(list_transform(e.embedding,
                                     x -> round(CAST(x AS DOUBLE), 3))) AS v,
               generate_subscripts(e.embedding, 1) AS pos
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
        WHERE e.embedding IS NOT NULL
    ),
    cent AS (
        SELECT source, pos, sum(v) / count(*) AS c
        FROM elems GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               sum(a.c * b.c) AS dot,
               sum(a.c * a.c) AS na2,
               sum(b.c * b.c) AS nb2
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b,
           round(CASE WHEN na2 * nb2 > 0
                      THEN dot / sqrt(na2 * nb2) ELSE 0 END, 6)
               AS centroid_cosine
    FROM pairs
    ORDER BY 1, 2
    """,
    tags=("llm", "embedding", "similarity"),
)
def source_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-source embedding centroids.

    Scale shape: posexplode -> (source, pos) partial sums is one
    map-side-combinable aggregate over the fact scan; everything after
    operates on a sources x dim frame (KBs at any corpus size), so the
    pairwise self-join is broadcast-trivial. Elements are rounded to the
    1e-3 grid before summing (embedding_label_centroids contract) so the
    engines' different partial-sum orders cannot diverge."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    elems = (
        emb.join(docs, "vec_id")
        .select("source", F.posexplode("embedding").alias("pos", "raw"))
        .select(
            "source", "pos", F.round(F.col("raw").cast("double"), 3).alias("v")
        )
    )
    cent = elems.groupBy("source", "pos").agg(
        (F.sum("v") / F.count("*")).alias("c")
    )
    a = cent.select(
        F.col("source").alias("src_a"), "pos", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("source").alias("src_b"), "pos", F.col("c").alias("cb")
    )
    pairs = (
        a.join(b, "pos")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sum(F.col("ca") * F.col("ca")).alias("na2"),
            F.sum(F.col("cb") * F.col("cb")).alias("nb2"),
        )
    )
    return pairs.select(
        "src_a",
        "src_b",
        F.round(
            F.when(
                F.col("na2") * F.col("nb2") > 0,
                F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")),
            ).otherwise(0.0),
            6,
        ).alias("centroid_cosine"),
    ).orderBy("src_a", "src_b")


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection audit: project 64-d embeddings to 16-d
# with a fixed Rademacher (+-1/sqrt(k)) sign matrix and measure pairwise
# squared-distance distortion on a deterministic linear sample of pairs.
# The audit a pipeline runs before swapping its ANN index to a cheaper
# projected space. Sign matrix is md5-derived in PYTHON once and inlined
# into both engines as literals; every dot/distance is a left-to-right
# fold (same order both sides), so ratios are bit-identical.
# ---------------------------------------------------------------------------

_JL_K = 16
_JL_OFFSETS = (1, 2, 3)  # pair i with i+1..i+3: O(3n) pairs, never quadratic


def _jl_signs() -> list[list[float]]:
    """sign[k][pos] in {-1.0, +1.0} from md5('jl:pos:k') parity."""
    return [
        [
            1.0
            if int(hashlib.md5(f"jl:{pos}:{k}".encode()).hexdigest()[:4], 16) % 2
            else -1.0
            for pos in range(_DIM)
        ]
        for k in range(_JL_K)
    ]


def _jl_oracle() -> str:
    signs = _jl_signs()
    # build per-k fold expressions with inlined sign literals
    proj_exprs = []
    for k, row in enumerate(signs):
        lits = ", ".join("1.0" if s > 0 else "-1.0" for s in row)
        proj_exprs.append(
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"[v[i] * ([{lits}])[i] for i in range(1, {_DIM} + 1)]), "
            f"(acc, x) -> acc + x) / 4.0 AS p{k}"
        )
    proj_sql = ",\n               ".join(proj_exprs)
    p_list = ", ".join(f"p{k}" for k in range(_JL_K))
    offs = ", ".join(str(o) for o in _JL_OFFSETS)
    return f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    proj AS (
        SELECT vec_id, v,
               {proj_sql}
        FROM vecs
    ),
    pv AS (SELECT vec_id, v, [{p_list}] AS p FROM proj),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   [(a.v[i] - b.v[i]) * (a.v[i] - b.v[i])
                    for i in range(1, {_DIM} + 1)]),
                   (acc, x) -> acc + x) AS d2_orig,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   [(a.p[i] - b.p[i]) * (a.p[i] - b.p[i])
                    for i in range(1, {_JL_K} + 1)]),
                   (acc, x) -> acc + x) AS d2_proj
        FROM pv a
        JOIN unnest([{offs}]) AS t(off) ON TRUE
        JOIN pv b ON b.vec_id = a.vec_id + t.off
    ),
    ratios AS (
        SELECT d2_proj / d2_orig AS ratio FROM pairs WHERE d2_orig > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(CASE WHEN count(*) > 0
                      THEN sum(ratio) / count(*) END, 6) AS mean_ratio,
           round(min(ratio), 6) AS min_ratio,
           round(max(ratio), 6) AS max_ratio,
           round(CASE WHEN count(*) > 0 THEN
                   CAST(count(*) FILTER (WHERE ratio BETWEEN 0.7 AND 1.3)
                        AS DOUBLE) / count(*) END, 6) AS share_within_30pct
    FROM ratios
    """


@register(
    "jl_projection_distortion",
    oracle=_jl_oracle(),
    tags=("llm", "embedding", "projection"),
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared-distance distortion of a fixed Rademacher JL projection
    (64-d -> 16-d, +-1/sqrt(16) entries): pair count, mean/min/max of
    d2_proj/d2_orig, and the share inside the +-30% JL band (E[ratio] = 1,
    sd ~ sqrt(2/k) ~ 0.35 at k=16).

    Pair sample is id-adjacent (i with i+1..i+3) — an equi-join on
    vec_id + offset, so the pair set grows LINEARLY with the table and
    ships as an ordinary keyed shuffle (never an all-pairs blowup; at
    100 TB raise offsets, not the join shape). The projection itself is
    one map-side fold per vector — the exact pattern a 1000-executor
    pipeline would run to re-index a corpus."""
    signs = _jl_signs()
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    vecs = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    proj = vecs.select(
        "vec_id",
        "v",
        F.array(
            *[
                (
                    F.aggregate(
                        F.zip_with(
                            "v",
                            F.array(*[F.lit(s) for s in signs[k]]),
                            lambda x, y: x * y,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / 4.0
                )
                for k in range(_JL_K)
            ]
        ).alias("p"),
    )
    # offsets via explode on the left side, then equi-join on id_a + off
    left = proj.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("p").alias("pa"),
        F.explode(F.array(*[F.lit(o) for o in _JL_OFFSETS])).alias("off"),
    )
    right = proj.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("p").alias("pb"),
    )
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)
    pairs = left.join(
        right, F.col("id_a") + F.col("off") == F.col("id_b")
    ).select(
        fold(
            F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y))
        ).alias("d2_orig"),
        fold(
            F.zip_with("pa", "pb", lambda x, y: (x - y) * (x - y))
        ).alias("d2_proj"),
    )
    ratios = pairs.filter(F.col("d2_orig") > 0).select(
        (F.col("d2_proj") / F.col("d2_orig")).alias("ratio")
    )
    # n > 0 guards: an empty pair sample (found by the 100x overlay probe
    # before its id-block fix) must yield a (0, NULL, ...) row, not an
    # ANSI divide-by-zero — matching the oracle's CASE WHEN semantics
    n = F.count("*")
    return ratios.agg(
        n.cast("bigint").alias("n_pairs"),
        F.round(F.when(n > 0, F.sum("ratio") / n), 6).alias("mean_ratio"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
        F.round(
            F.when(n > 0, F.count_if(F.col("ratio").between(0.7, 1.3)).cast("double") / n),
            6,
        ).alias("share_within_30pct"),
    )


# ---------------------------------------------------------------------------
# Label silhouette (centroid form): per-label clustering quality of the
# embedding space — mean (d_other - d_own)/max(...) per vector against
# label centroids, plus the share of vectors closer to a FOREIGN centroid
# (the mislabel/collapse alarm). Centroid components round to the 1e-6
# grid before distances so both engines fold identical doubles.
# ---------------------------------------------------------------------------


@register(
    "label_silhouette",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> round(CAST(x AS DOUBLE), 3)) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL
    ),
    elems AS (
        SELECT label, unnest(v) AS val, generate_subscripts(v, 1) AS pos
        FROM e
    ),
    cent AS (
        SELECT label, pos, round(sum(val) / count(*), 6) AS c
        FROM elems GROUP BY 1, 2
    ),
    cent_arr AS (
        SELECT label AS c_label, list(c ORDER BY pos) AS cv
        FROM cent GROUP BY 1
    ),
    d AS (
        SELECT e.vec_id, e.label, ca.c_label,
               list_reduce(list_prepend(CAST(0 AS DOUBLE),
                   [(e.v[i] - ca.cv[i]) * (e.v[i] - ca.cv[i])
                    for i in range(1, {_DIM} + 1)]),
                   (acc, x) -> acc + x) AS d2
        FROM e CROSS JOIN cent_arr ca
    ),
    pv AS (
        SELECT vec_id, label,
               max(CASE WHEN c_label = label THEN d2 END) AS d_own,
               min(CASE WHEN c_label <> label THEN d2 END) AS d_other
        FROM d GROUP BY 1, 2
    ),
    s AS (
        SELECT label,
               round(CASE WHEN greatest(d_own, d_other) > 0
                          THEN (d_other - d_own) / greatest(d_own, d_other)
                          ELSE 0 END, 6) AS sil
        FROM pv
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(sum(sil) / count(*), 6) AS mean_silhouette,
           round(CAST(count(*) FILTER (WHERE sil < 0) AS DOUBLE)
                 / count(*), 6) AS share_negative
    FROM s GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "embedding", "evaluation"),
)
def label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-form silhouette per label: for each vector, squared
    distance to its own label centroid vs the nearest foreign centroid;
    silhouette = (d_other - d_own)/max(d_own, d_other). mean_silhouette
    near 1 = tight separated clusters; share_negative is the fraction of
    vectors sitting closer to a foreign centroid — the label-noise /
    embedding-collapse alarm an eval pipeline tracks per training run.

    Scale shape: centroids are one map-combinable (label, pos) aggregate;
    the distance pass is a broadcast of the labels x dim centroid table
    (KBs) against one fact scan with a per-row fold — no shuffle keyed on
    anything data-sized except the final per-label aggregate. Centroid
    components and input elements round to fixed grids (1e-6 / 1e-3) so
    the fold consumes identical doubles in both engines."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    vecs = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double"), 3)
        ).alias("v"),
    )
    elems = vecs.select(
        "label", F.posexplode("v").alias("pos", "val")
    )
    cent = elems.groupBy("label", "pos").agg(
        F.round(F.sum("val") / F.count("*"), 6).alias("c")
    )
    cent_arr = cent.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda x: x.getField("c"),
        ).alias("cv")
    )
    d2 = F.aggregate(
        F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d = vecs.join(F.broadcast(cent_arr)).select(
        "vec_id", "label", "c_label", d2.alias("d2")
    )
    pv = d.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("c_label") == F.col("label"), F.col("d2"))).alias(
            "d_own"
        ),
        F.min(F.when(F.col("c_label") != F.col("label"), F.col("d2"))).alias(
            "d_other"
        ),
    )
    big = F.greatest(F.col("d_own"), F.col("d_other"))
    s = pv.select(
        "label",
        F.round(
            F.when(big > 0, (F.col("d_other") - F.col("d_own")) / big)
            .otherwise(0.0),
            6,
        ).alias("sil"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.round(F.sum("sil") / F.count("*"), 6).alias("mean_silhouette"),
            F.round(
                F.count_if(F.col("sil") < 0).cast("double") / F.count("*"), 6
            ).alias("share_negative"),
        )
        .orderBy("label")
    )


@register(
    "label_pair_affinity",
    oracle=f"""
    WITH e AS (
        SELECT label,
               list_transform(embedding, x -> round(CAST(x AS DOUBLE), 3)) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL
    ),
    elems AS (
        SELECT label, unnest(v) AS val, generate_subscripts(v, 1) AS pos
        FROM e
    ),
    grid AS (
        SELECT label, pos,
               sum(CAST(val AS DECIMAL(20,3))) AS sv,
               sum(CAST(round(val * val, 9) AS DECIMAL(20,9))) AS qv,
               count(*) AS cnt
        FROM elems GROUP BY 1, 2
    ),
    lab AS (
        SELECT label,
               CAST(max(cnt) AS BIGINT) AS n,
               CAST(sum(qv) AS DOUBLE) AS q,
               CAST(sum(CAST(round(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE), 9)
                             AS DECIMAL(24,9))) AS DOUBLE) AS ss2
        FROM grid GROUP BY 1
    ),
    inter AS (
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(sum(CAST(round(CAST(a.sv AS DOUBLE) * CAST(b.sv AS DOUBLE), 9)
                             AS DECIMAL(24,9))) AS DOUBLE) AS spd
        FROM grid a JOIN grid b ON a.pos = b.pos AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT label_a, label_b, kind, n_pairs, mean_pair_dot FROM (
        SELECT label AS label_a, label AS label_b, 'intra' AS kind,
               CAST(n * (n - 1) / 2 AS BIGINT) AS n_pairs,
               CASE WHEN n > 1 THEN
                   round((ss2 - q) / (n * (n - 1.0)), 6)
               END AS mean_pair_dot
        FROM lab
        UNION ALL
        SELECT i.label_a, i.label_b, 'inter' AS kind,
               CAST(la.n * lb.n AS BIGINT) AS n_pairs,
               round(i.spd / (la.n * CAST(lb.n AS DOUBLE)), 6) AS mean_pair_dot
        FROM inter i
        JOIN lab la ON la.label = i.label_a
        JOIN lab lb ON lb.label = i.label_b
    ) ORDER BY label_a, label_b
    """,
    tags=("llm", "embedding", "evaluation"),
)
def label_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mean pairwise dot product within and between labels via the
    sum-of-vectors identity — the O(n^2 * d) cohesion/separation statistic
    computed in O(n * d) with NO pair materialization, ever:

        sum_{i != j in L} v_i . v_j  =  ||S_L||^2 - Q_L
        sum_{i in A, j in B} v_i . v_j  =  S_A . S_B

    where S_L is the per-label vector sum and Q_L the per-label sum of
    squared norms. The readout an eval pipeline tracks next to
    ``label_silhouette`` (centroid-form): intra rows near inter rows =
    embedding collapse; a foreign pair whose mean dot approaches a
    label's intra mean = label confusion. Unlike the silhouette this is
    the TRUE average pairwise similarity, not a centroid approximation.

    Scale shape: ONE explode pass folds to the (label, pos) grid carrying
    (component sum, squared-norm mass, count) — |labels| x dim rows cross
    the only data-sized exchange; intra/inter affinities are grid-only
    arithmetic (a self-join on pos over KBs). At 100 TB the grid is the
    same size, so the statistic that would naively need 10^18 pairs costs
    one combinable aggregate. All cross-vector sums are DECIMAL over
    fixed rounding grids (inputs 1e-3, term products 1e-9 — the
    round-before-DECIMAL-sum discipline), so the result is
    partition-order-free and the oracle replays it bit-for-bit.
    """
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    vecs = emb.select(
        "label",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double"), 3)
        ).alias("v"),
    )
    elems = vecs.select("label", F.posexplode("v").alias("pos", "val"))
    grid = elems.groupBy("label", "pos").agg(
        F.sum(F.col("val").cast("decimal(20,3)")).alias("sv"),
        F.sum(
            F.round(F.col("val") * F.col("val"), 9).cast("decimal(20,9)")
        ).alias("qv"),
        F.count("*").alias("cnt"),
    )
    return pair_affinity_over_grid(grid)


def pair_affinity_over_grid(grid: DataFrame) -> DataFrame:
    """The affinity core over ANY (label, pos, sv, qv, cnt) grid — the
    (label, pos) component sums, squared-norm masses, and counts are all
    additive monoids, so foreach_batch_incremental_agg maintains the grid
    per micro-batch and the intra/inter table over the state equals batch
    exactly (parity-tested in tests/test_streaming_llm.py). Same seam
    discipline as coverage_curve_over_counts."""
    lab = grid.groupBy("label").agg(
        F.max("cnt").cast("bigint").alias("n"),
        F.sum("qv").cast("double").alias("q"),
        F.sum(
            F.round(
                F.col("sv").cast("double") * F.col("sv").cast("double"), 9
            ).cast("decimal(24,9)")
        ).cast("double").alias("ss2"),
    )
    intra = lab.select(
        F.col("label").alias("label_a"),
        F.col("label").alias("label_b"),
        F.lit("intra").alias("kind"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("bigint").alias("n_pairs"),
        F.when(
            F.col("n") > 1,
            F.round(
                (F.col("ss2") - F.col("q"))
                / (F.col("n") * (F.col("n") - F.lit(1.0))),
                6,
            ),
        ).alias("mean_pair_dot"),
    )
    ga = grid.select(
        F.col("label").alias("label_a"), "pos", F.col("sv").alias("sv_a")
    )
    gb = grid.select(
        F.col("label").alias("label_b"), "pos", F.col("sv").alias("sv_b")
    )
    pair = (
        ga.join(gb, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.round(
                    F.col("sv_a").cast("double")
                    * F.col("sv_b").cast("double"),
                    9,
                ).cast("decimal(24,9)")
            ).cast("double").alias("spd")
        )
    )
    na = lab.select(F.col("label").alias("label_a"), F.col("n").alias("n_a"))
    nb = lab.select(F.col("label").alias("label_b"), F.col("n").alias("n_b"))
    inter = (
        pair.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.lit("inter").alias("kind"),
            (F.col("n_a") * F.col("n_b")).cast("bigint").alias("n_pairs"),
            F.round(
                F.col("spd") / (F.col("n_a") * F.col("n_b").cast("double")), 6
            ).alias("mean_pair_dot"),
        )
    )
    return intra.unionByName(inter).orderBy("label_a", "label_b")


# ---------------------------------------------------------------------------
# JL-rerank ANN tier: score ALL vectors in the cheap 16-d projected space,
# shortlist top-C, then exact-cosine re-rank the shortlist in 64-d. The
# production "reduce precision to shortlist, restore it to rank" pattern —
# and the ANN-ladder companion of jl_projection_distortion. Fully
# deterministic (fixed sign matrix), so the oracle replays it end-to-end.
# ---------------------------------------------------------------------------

_JL_SHORTLIST = 300


def _jl_rerank_oracle() -> str:
    signs = _jl_signs()
    proj_exprs = []
    for k, row in enumerate(signs):
        lits = ", ".join("1.0" if s > 0 else "-1.0" for s in row)
        proj_exprs.append(
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"[v[i] * ([{lits}])[i] for i in range(1, {_DIM} + 1)]), "
            f"(acc, x) -> acc + x) / 4.0 AS p{k}"
        )
    proj_sql = ",\n               ".join(proj_exprs)
    p_list = ", ".join(f"p{k}" for k in range(_JL_K))

    def dot(a: str, b: str, dim: int) -> str:
        return (
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"[{a}[i] * {b}[i] for i in range(1, {dim} + 1)]), "
            "(acc, x) -> acc + x)"
        )

    return f"""
    WITH vecs AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings WHERE embedding IS NOT NULL
    ),
    proj AS (
        SELECT vec_id, v,
               {proj_sql}
        FROM vecs
    ),
    pv AS (SELECT vec_id, v, [{p_list}] AS p FROM proj),
    q AS (SELECT v AS qv, p AS qp FROM pv WHERE vec_id = {_QUERY_VEC_ID}),
    shortlist AS (
        SELECT pv.vec_id, pv.v,
               {dot('pv.p', 'qp', _JL_K)}
               / (sqrt({dot('pv.p', 'pv.p', _JL_K)})
                  * sqrt({dot('qp', 'qp', _JL_K)})) AS psim
        FROM pv, q
        WHERE pv.vec_id <> {_QUERY_VEC_ID}
          AND sqrt({dot('pv.p', 'pv.p', _JL_K)}) > 0
        ORDER BY psim DESC, pv.vec_id ASC
        LIMIT {_JL_SHORTLIST}
    )
    SELECT s.vec_id,
           round({dot('s.v', 'qv', _DIM)}
                 / (sqrt({dot('s.v', 's.v', _DIM)})
                    * sqrt({dot('qv', 'qv', _DIM)})), 6) AS cosine_sim
    FROM shortlist s, q
    ORDER BY cosine_sim DESC, s.vec_id ASC
    LIMIT 10
    """


@register(
    "similarity_jl_rerank_topk",
    oracle=_jl_rerank_oracle(),
    tags=("llm", "similarity", "projection"),
)
def similarity_jl_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by exact cosine over a top-{_JL_SHORTLIST} shortlist ranked in
    the 16-d JL space. Unlike the bucketed tiers this scans every vector,
    but each scan row costs a 16-d fold instead of 64-d — the arithmetic-
    reduction ANN axis (4x less work per row), orthogonal to the
    scan-reduction axis (IVF/LSH buckets); production indexes stack both.
    Shortlist then exact re-rank bounds the error: a true neighbor is
    missed only if JL distortion pushes it out of the top-{_JL_SHORTLIST}.

    Scale shape: projection is a per-row map; the shortlist is a
    TakeOrderedAndProject (size-{_JL_SHORTLIST} heap per partition, no
    shuffle of the fact table); re-rank touches {_JL_SHORTLIST} rows."""
    signs = _jl_signs()
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    vecs = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)
    proj = vecs.select(
        "vec_id",
        "v",
        F.array(
            *[
                (
                    fold(
                        F.zip_with(
                            "v",
                            F.array(*[F.lit(s) for s in signs[k]]),
                            lambda x, y: x * y,
                        )
                    )
                    / 4.0
                )
                for k in range(_JL_K)
            ]
        ).alias("p"),
    )
    q = proj.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("v").alias("qv"), F.col("p").alias("qp")
    )
    pdot = fold(F.zip_with("p", "qp", lambda x, y: x * y))
    pnorm = F.sqrt(fold(F.zip_with("p", "p", lambda x, y: x * y)))
    qpnorm = F.sqrt(fold(F.zip_with("qp", "qp", lambda x, y: x * y)))
    shortlist = (
        proj.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .join(F.broadcast(q))
        .filter(pnorm > 0)
        .select("vec_id", "v", "qv", (pdot / (pnorm * qpnorm)).alias("psim"))
        .orderBy(F.desc("psim"), F.asc("vec_id"))
        .limit(_JL_SHORTLIST)
    )
    vdot = fold(F.zip_with("v", "qv", lambda x, y: x * y))
    vnorm = F.sqrt(fold(F.zip_with("v", "v", lambda x, y: x * y)))
    qvnorm = F.sqrt(fold(F.zip_with("qv", "qv", lambda x, y: x * y)))
    return (
        shortlist.select(
            "vec_id",
            F.round(vdot / (vnorm * qvnorm), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# MinHash band-structure sweep: the (bands x rows) tuning table. With 8
# permutations, rows-per-band r in {1,2,4,8} spans the S-curve from
# cheap-and-permissive (r=1: any single matching perm) to strict (r=8: all
# perms match). Bands NEST when r divides NUM_PERM (equality of a wide
# band implies equality of its sub-bands), so the r=1 candidate set is a
# superset of every other config — verification runs ONCE on it and each
# config's recall/precision reads off by a pair semi-join. The companion
# of ann_probe_sweep / neardup_threshold_sweep for the banding axis.
# ---------------------------------------------------------------------------

_SWEEP_ROWS = (1, 2, 4, 8)


def _band_sweep_oracle() -> str:
    def band_exprs(r: int) -> str:
        return ", ".join(
            "md5('b{b}:' || {cat})".format(
                b=b, cat=" || ".join(f"sig_{i}" for i in range(b, b + r))
            )
            for b in range(0, NUM_PERM, r)
        )

    per_r_ctes = ",\n    ".join(
        f"""bands_{r} AS (
        SELECT doc_id, unnest([{band_exprs(r)}]) AS band FROM sigs
    ),
    cand_{r} AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands_{r} a JOIN bands_{r} b
          ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    agg_{r} AS (
        SELECT {r} AS band_rows, {NUM_PERM // r} AS n_bands,
               count(*) AS nc,
               count(*) FILTER (WHERE j >= 0.5) AS nv
        FROM cand_{r} JOIN scored USING (id_a, id_b)
    )"""
        for r in _SWEEP_ROWS
    )
    union = "\n        UNION ALL ".join(
        f"SELECT * FROM agg_{r}" for r in _SWEEP_ROWS
    )
    return f"""
    WITH {_SHINGLES_CTE},
    sigs AS (
        SELECT doc_id, shingles,
           {_SIG_COLS}
        FROM sh WHERE len(shingles) > 0
    ),
    bands_base AS (
        SELECT doc_id, unnest([{band_exprs(1)}]) AS band FROM sigs
    ),
    cand_base AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands_base a JOIN bands_base b
          ON a.band = b.band AND a.doc_id < b.doc_id
    ),
    scored AS (
        SELECT id_a, id_b,
               CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                   AS j
        FROM cand_base
        JOIN sigs sa ON sa.doc_id = cand_base.id_a
        JOIN sigs sb ON sb.doc_id = cand_base.id_b
    ),
    {per_r_ctes},
    truth AS (SELECT nv AS nv1 FROM agg_1),
    u AS ({union})
    SELECT CAST(band_rows AS INTEGER) AS band_rows,
           CAST(n_bands AS INTEGER) AS n_bands,
           CAST(nc AS BIGINT) AS n_candidates,
           CAST(nv AS BIGINT) AS n_verified,
           round(CASE WHEN truth.nv1 > 0
                      THEN CAST(nv AS DOUBLE) / truth.nv1 END, 6) AS recall,
           round(CASE WHEN nc > 0
                      THEN CAST(nv AS DOUBLE) / nc END, 6) AS precision
    FROM u CROSS JOIN truth
    ORDER BY band_rows
    """


@register(
    "minhash_band_sweep",
    oracle=_band_sweep_oracle(),
    tags=("llm", "dedup", "minhash", "calibration"),
)
def minhash_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate volume, verified near-dups (Jaccard >= 0.5), recall vs
    the most permissive config, and precision for each LSH band layout
    (rows-per-band 1/2/4/8 at 8 perms) — the table that decides where on
    the S-curve the production banding sits before anyone hard-codes it.

    Scale shape: signatures compute ONCE (persisted — the standard
    sign-once/band-many LSH table); each config's self-join runs on
    skinny (id, band) rows; Jaccard verification touches only the r=1
    candidate set (a superset of all others by band nesting), and the
    per-config rollups are pair-keyed joins against that one scored
    frame. The r=1 end is quadratic in duplicate-clique size BY DESIGN
    (it is the permissive extreme being audited) — at corpus scale run
    the sweep on a deterministic doc sample (md5 mod), since the
    S-curve is a property of the data distribution, not corpus size."""
    from ..operators.dedup import lsh_band_keys, minhash_signatures

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    # Cache lifetime (signatures + the verified-score frame below):
    # both back the returned LAZY union; harness releases between
    # queries (bench.py/driver sim clearCache)
    sigs = minhash_signatures(docs, "text", "doc_id", NUM_PERM).persist()

    def cand_for(r: int) -> DataFrame:
        bands = sigs.select(
            "doc_id", F.explode(lsh_band_keys(NUM_PERM, r)).alias("band")
        )
        return (
            bands.select(F.col("doc_id").alias("id_a"), "band")
            .join(bands.select(F.col("doc_id").alias("id_b"), "band"), "band")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    sets = sigs.select("doc_id", "shingles")
    scored = (
        cand_for(1)
        .join(
            sets.select(
                F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("j"),
        )
        .persist()
    )
    per_r = []
    for r in _SWEEP_ROWS:
        sc = cand_for(r).join(scored, ["id_a", "id_b"])
        per_r.append(
            sc.agg(
                F.lit(r).cast("int").alias("band_rows"),
                F.lit(NUM_PERM // r).cast("int").alias("n_bands"),
                F.count("*").cast("bigint").alias("n_candidates"),
                F.count_if(F.col("j") >= 0.5).cast("bigint").alias("n_verified"),
            )
        )
    u = per_r[0]
    for frame in per_r[1:]:
        u = u.unionByName(frame)
    truth = per_r[0].select(F.col("n_verified").alias("nv1"))
    return (
        u.join(F.broadcast(truth))
        .select(
            "band_rows",
            "n_bands",
            "n_candidates",
            "n_verified",
            F.round(
                F.when(
                    F.col("nv1") > 0,
                    F.col("n_verified").cast("double") / F.col("nv1"),
                ),
                6,
            ).alias("recall"),
            F.round(
                F.when(
                    F.col("n_candidates") > 0,
                    F.col("n_verified").cast("double") / F.col("n_candidates"),
                ),
                6,
            ).alias("precision"),
        )
        .orderBy("band_rows")
    )


@register(
    "source_temperature_weights",
    oracle="""
    WITH stw AS (
        SELECT source,
               count(*) AS n_docs,
               sum(len(list_filter(string_split_regex(text, '\\s+'),
                                   t -> t <> ''))) AS tokens
        FROM documents
        WHERE text IS NOT NULL
        GROUP BY 1
    ),
    w AS (
        SELECT source, n_docs, tokens,
               CAST(round(sqrt(CAST(tokens AS DOUBLE)), 6)
                    AS DECIMAL(24, 6)) AS w6
        FROM stw
    )
    SELECT source, n_docs, CAST(tokens AS BIGINT) AS tokens,
           CASE WHEN (SELECT sum(w6) FROM w) > 0 THEN
               round(CAST(w6 AS DOUBLE)
                     / CAST((SELECT sum(w6) FROM w) AS DOUBLE), 6)
           END AS weight,
           CASE WHEN tokens > 0 AND (SELECT sum(w6) FROM w) > 0 THEN
               round(round(CAST(w6 AS DOUBLE)
                           / CAST((SELECT sum(w6) FROM w) AS DOUBLE), 6)
                     * 1000000.0 / tokens, 6)
           END AS epochs_at_1m
    FROM w
    ORDER BY source
    """,
    tags=("llm", "sampling", "mixture"),
)
def source_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weights per source (the multilingual /
    multi-domain sampling rule w_i ∝ n_i^(1/τ) with τ=2, i.e. sqrt
    scaling — small sources up-weighted, no source starved): token
    counts, normalized weights, and epochs-per-source at a 1M-token
    budget (epochs > 1 flags sources the mixture would repeat — the
    over-sampling early-warning every data-budget review reads first).

    Determinism: per-source sqrt is IEEE-exact and rounded to 6 decimals
    BEFORE the normalizing sum, which runs in DECIMAL — the sum is
    order-free, so the final single-division doubles match any engine.
    Scale: one combinable groupBy over the corpus plus a 20-row total.
    """
    from ..functions.text import token_count

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    counts = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("tokens"),
    )
    w = counts.withColumn(
        "_w6",
        F.round(F.sqrt(F.col("tokens").cast("double")), 6).cast(
            "decimal(24,6)"
        ),
    )
    total = w.agg(F.sum("_w6").alias("_tot"))
    # NULL guards (r11 degenerate-corpus pin): an all-zero-token corpus
    # makes the normalizing total 0 and tokens 0 — ANSI mode turns the
    # divisions into DIVIDE_BY_ZERO crashes; both ratios are undefined
    # there, so emit NULL (the oracle mirrors with CASE guards)
    weight = F.when(
        F.col("_tot") > 0,
        F.round(
            F.col("_w6").cast("double") / F.col("_tot").cast("double"), 6
        ),
    )
    return (
        w.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_docs",
            "tokens",
            weight.alias("weight"),
            F.when(
                F.col("tokens") > 0,
                F.round(weight * 1_000_000.0 / F.col("tokens"), 6),
            ).alias(
                "epochs_at_1m"
            ),
        )
        .orderBy("source")
    )


_PAD_BUCKETS = (1, 2, 4, 8, 16)


@register(
    "padding_waste_curve",
    oracle=f"""
    WITH pw_docs AS (
        SELECT doc_id,
               len(list_filter(string_split_regex(text, '\\s+'),
                               t -> t <> '')) AS n_tok
        FROM documents
        WHERE text IS NOT NULL
          AND len(list_filter(string_split_regex(text, '\\s+'),
                              t -> t <> '')) > 0
    ),
    pw_assign AS (
        SELECT n_tok,
               {", ".join(f"ntile({b}) OVER (ORDER BY n_tok, doc_id) AS bk_{b}" for b in _PAD_BUCKETS)}
        FROM pw_docs
    ),
    pw_lv AS (
        {" UNION ALL ".join(f"SELECT {b} AS n_buckets, bk_{b} AS bucket, n_tok FROM pw_assign" for b in _PAD_BUCKETS)}
    ),
    pw_per_bucket AS (
        SELECT n_buckets, bucket,
               count(*) AS n_docs, max(n_tok) AS max_tok,
               sum(n_tok) AS sum_tok
        FROM pw_lv GROUP BY 1, 2
    )
    SELECT n_buckets,
           CAST(sum(n_docs * max_tok) AS BIGINT) AS padded_tokens,
           CAST(sum(n_docs * max_tok) - sum(sum_tok) AS BIGINT) AS wasted_tokens,
           round(CAST(sum(n_docs * max_tok) - sum(sum_tok) AS DOUBLE)
                 / CAST(sum(n_docs * max_tok) AS DOUBLE), 6) AS waste_frac
    FROM pw_per_bucket
    GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "packing", "tuning"),
)
def padding_waste_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-padding waste at 1/2/4/8/16 length buckets — the planning
    table behind length-bucketed batching (every doc in a bucket pads to
    the bucket max, the upper bound a bucketed batcher pays): padded
    tokens, wasted tokens, and waste fraction per bucket count. One
    bucket = naive global batching; the curve's knee says how many
    buckets buy most of the padding back (the ann_probe_sweep discipline
    applied to the batching constant). Counterpart to packed_sequences,
    which removes padding entirely by concatenation — bucketing is what
    serving / fixed-format fine-tuning stacks use instead.

    Determinism: ntile over the total order (n_tok, doc_id); integer
    token sums with one terminal division. Scale (VERDICT r10 ask #2):
    the exact global rank comes from range_partitioned_running_sum
    (operators/windows.py) — one repartitionByRange so every task holds
    a contiguous slice of the order, a bounded per-slice count sidecar
    folds slice offsets driver-side, and the intra-slice window is
    partitioned by slice, never global. All 5 ntile assignments are then
    pure column arithmetic over that single rank (the standard ntile
    remainder rule: the first n_rows mod n buckets get the extra row),
    so the whole curve costs ONE range shuffle — no single-task
    Window.orderBy anywhere (pinned by the plan audit).
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    from ..functions.text import token_count
    from ..operators.windows import range_partitioned_running_sum

    # Persist the per-doc token counts: they feed the running sum's EAGER
    # sidecar job, the ranked plan, and the total aggregate (r11 review
    # fix — unpersisted, the tokenize scan re-runs per consumer). Cache
    # lifetime: backs the returned LAZY frame; caller releases
    # (bench.py/driver sim clearCache between queries).
    base = (
        docs.select("doc_id", token_count("text").alias("n_tok"))
        .filter(F.col("n_tok") > 0)
        .persist()
    )
    order = [F.asc("n_tok"), F.asc("doc_id")]
    ranked = range_partitioned_running_sum(
        base.withColumn("_one", F.lit(1).cast("long")),
        order,
        ["_one"],
        prefix="rk_",
    )  # rk__one = exact global rank under the total order
    total = base.agg(F.count("*").cast("long").alias("_n_rows"))
    rank = F.col("rk__one")
    tiles = []
    for b in _PAD_BUCKETS:
        # exact ntile(b) arithmetic from (rank, n_rows): q = floor size,
        # rem buckets of size q+1 lead. When n_rows < b, rem = n_rows and
        # every rank lands in the first branch (tile = rank), matching
        # SQL ntile; the q-division branch is then never taken.
        q = (F.col("_n_rows") / b).cast("long")
        rem = F.col("_n_rows") % b
        threshold = rem * (q + 1)
        tile = F.when(
            rank <= threshold, ((rank - 1) / (q + 1)).cast("long") + 1
        ).otherwise(rem + ((rank - threshold - 1) / q).cast("long") + 1)
        tiles.append(tile.cast("int").alias(f"bk_{b}"))
    assign = ranked.crossJoin(F.broadcast(total)).select("n_tok", *tiles)
    lv = None
    for b in _PAD_BUCKETS:
        part = assign.select(
            F.lit(b).alias("n_buckets"),
            F.col(f"bk_{b}").alias("bucket"),
            "n_tok",
        )
        lv = part if lv is None else lv.unionByName(part)
    per_bucket = lv.groupBy("n_buckets", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.max("n_tok").alias("max_tok"),
        F.sum("n_tok").alias("sum_tok"),
    )
    padded = F.sum(F.col("n_docs") * F.col("max_tok"))
    wasted = padded - F.sum("sum_tok")
    return (
        per_bucket.groupBy("n_buckets")
        .agg(
            padded.cast("bigint").alias("padded_tokens"),
            wasted.cast("bigint").alias("wasted_tokens"),
            F.round(
                wasted.cast("double") / padded.cast("double"), 6
            ).alias("waste_frac"),
        )
        .orderBy("n_buckets")
    )
