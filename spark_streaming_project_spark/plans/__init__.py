"""Query registry: named engine queries with DuckDB oracle twins.

Importing this package populates ``REGISTRY`` from every plan module; the
driver contract (``__spark_entry__.py``) exposes it via ``queries()`` /
``oracle_sql()``.
"""

from .registry import REGISTRY, Query, register

# Import populates REGISTRY; the explicit reorder below (not import order)
# decides what the driver's correctness gate records (first ~50 queries).
from . import reference  # noqa: E402,F401
from . import llm  # noqa: E402,F401
from . import events  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import profiling  # noqa: E402,F401
from . import quality  # noqa: E402,F401
from . import retrieval  # noqa: E402,F401
from . import funnel  # noqa: E402,F401
from . import warehouse  # noqa: E402,F401


DRIVER_WINDOW = 50  # rows the driver's correctness gate records per round

# The rows-only tiers had their markers recorded in r05
# (similarity_{ivf_kmeans,pq,ivfpq}_topk) / r08 (packed_sequences_ffd) and
# stay OUT of refresh rotation. Why each MUST stay rows-only (VERDICT r11
# ask #6): the three ANN tiers return engine-specific approximate top-k
# sets (learned k-means centroids / PQ codebooks have no DuckDB twin —
# their quality gate is the recall@10 floor enforced by bench.py at sf0.1
# and tests/test_llm_ops.py at sf0.01, strictly stronger than a value
# hash of one engine's candidate list; their deterministic-projection
# twins similarity_{pq,ivfpq}_det_topk ARE hash-gated); packed_sequences_ffd
# is sequential bin-state by construction (first-fit-decreasing packing is
# order-dependent and not SQL-expressible — its gate is the bit-exact
# Python-parity pytest plus the bins<=next-fit bound). approx_stats LEFT
# this tier in r12: it now emits an invariant-verdict table (exact counts
# + sketch-within-declared-error booleans) that the full hash gate checks.

# Queries built AFTER the r11 window froze; they lead the r12 window.
# Pinned by tests/test_plans.py: the set of never-recorded registry
# queries outside the r11 window must be EXACTLY this list.
_R12_FIRSTS: list[str] = [
    "vocab_coverage_curve",  # top-k vocabulary token-mass planning table
    "shard_balance_stats",  # hash-shard token-skew write planner
    "lang_entropy_by_source",  # language-mix entropy mixture readout
]

# The intended round-12 recorded window (VERDICT r11 ask #1): the 3
# _R12_FIRSTS lead (first-ever driver recording for each), then the 5
# oracle-bearing r05-stale leftovers (the declared head of the r12
# refresh list since r11 froze), then ALL 38 oracle-bearing queries whose
# newest record is r06, then the alphabetically-first 4 of the 50
# oracle-bearing r07-stale queries. Rows-only tiers stay out of refresh
# rotation as in r09-r11, so every window row is the full
# rows+schema+hash gate. Computed-and-asserted by tests/test_plans.py
# from the committed CORRECTNESS_r01..r11 artifacts (rounds < 12 only,
# so the suite stays green before AND after the driver records r12).
_R12_WINDOW = list(_R12_FIRSTS) + [
    # -- the 6 oracle-bearing r05-stale leftovers (newest record = r05;
    #    approx_stats joined the oracle-bearing rotation in r12 when its
    #    rows-only marker was upgraded to the invariant-verdict oracle)
    "approx_stats",
    "training_shuffle_order",
    "unigram_quality",
    "user_trailing_1h",
    "valuable_parts",
    "value_quantile_sketch",
    # -- all 38 oracle-bearing r06-stale refreshes (newest record = r06)
    "bigram_perplexity",
    "bloom_dedup_verdicts",
    "corpus_duplicate_spans",
    "curation_verdicts",
    "curriculum_order",
    "dedup_keep_longest",
    "dedup_method_agreement",
    "distinct_ngram_diversity",
    "entropy_profile",
    "eval_containment_audit",
    "gopher_quality_flags",
    "gram_novelty_by_doc",
    "hourly_cusum_changepoints",
    "hybrid_rrf_search",
    "k_anonymity_audit",
    "nb_lang_confusion",
    "neardup_centrality_quantized",
    "neardup_kcore",
    "nearest_duplicate_per_doc",
    "order_snapshot_cdc",
    "phrase_search",
    "quality_logreg_scores",
    "similarity_filtered_topk",
    "simple_revenue",
    "sliding_distinct_sketch",
    "snm_blocking_eval",
    "source_quality_scorecard",
    "source_vocab_overlap_sketch",
    "supplier_name_near_matches",
    "temperature_mixture_sample",
    "temperature_mixture_targets",
    "text_embedding_topk",
    "top_categories_donut",
    "top_categories_with_other",
    "vocab_growth_curve",
    "winnowing_hot_fingerprints",
    "winnowing_matches",
    "winnowing_profile",
    # -- the alphabetically-first 3 oracle-bearing r07-stale refreshes
    "benford_price_digits",
    "bloom_filter_words",
    "brand_affinity_rules",
]

# Queries built AFTER the r12 window froze; they lead the r13 window.
# Pinned by tests/test_plans.py: the set of never-recorded registry
# queries outside the r12 window must be EXACTLY this list.
_R13_FIRSTS: list[str] = [
    "label_pair_affinity",  # exact pairwise cohesion via sum-of-vectors
]


def _reorder() -> None:
    """Rotate the registry so the driver's recorded window (the first
    ``DRIVER_WINDOW`` entries) is exactly ``_R12_WINDOW`` — computed and
    asserted, never prose arithmetic."""
    window = list(_R12_WINDOW)
    if len(window) != DRIVER_WINDOW or len(set(window)) != len(window):
        raise ValueError(
            f"intended window has {len(window)} names "
            f"({len(set(window))} unique); must be exactly {DRIVER_WINDOW}"
        )
    missing = [n for n in window if n not in REGISTRY]
    if missing:  # guard against silent drift when queries are renamed
        raise KeyError(f"registry reorder references unknown queries: {missing}")
    ordered = window + [n for n in REGISTRY if n not in set(window)]
    snapshot = dict(REGISTRY)
    REGISTRY.clear()
    for name in ordered:
        REGISTRY[name] = snapshot[name]


_reorder()

__all__ = ["REGISTRY", "Query", "register"]
