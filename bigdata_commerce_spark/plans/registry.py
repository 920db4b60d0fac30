"""Shared registry for the query catalog: name -> (spark fn, oracle),
plus the declared driver catalog.

Every query registers through one decorator, :func:`query`; which
tier it lands in is decided by :data:`DRIVER_CATALOG` alone, never by
the definition site. ``plans/__init__.py`` splits the registry into
the driver catalog (``QUERIES``/``ORACLES``, in declared order) and
the twins (``TWIN_QUERIES``/``TWIN_ORACLES``, everything else).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# Every registered query in registration order: name -> (fn, oracle).
REGISTERED: dict[str, tuple[QueryFn, str | None]] = {}

# The driver's CORRECTNESS gate checks at most 50 catalog entries per
# round — a hard slot budget.
DRIVER_SLOT_CAP = 50

# The driver catalog. Every registered name not listed here is a twin:
# same (fn, oracle) contract, but verified by pytest
# (tests/test_twin_queries.py) instead of burning a driver slot. A
# rotation is an edit to this tuple plus the slot column of the
# ROTATION.md ledger; tests/test_rotation_ledger.py keeps the two in
# agreement.
DRIVER_CATALOG: tuple[str, ...] = (
    # Anchors: one per operator family, never rotated, so every
    # round's CORRECTNESS json stays comparable on them.
    # region_top3_parts is also __spark_entry__.entry().
    "pricing_summary",        # scan + agg + pushdown
    "region_top3_parts",      # dims broadcast join + windowed top-k
    "session_stats",          # commerce sessionization
    "ad_cumulative_stats",    # streaming family (batch twin)
    "pack_sequences",         # sequence packing
    "text_quality_score",     # text analysis
    "corpus_curation",        # composed curation pipeline
    "dedup_minhash_lsh",      # shingle/LSH dedup
    "embedding_cosine_topk",  # exact similarity
    "embedding_ann_ivf",      # ANN indexing
    "multimodal_features",    # mapInPandas kernels
    "dedup_clusters",         # connected components
    "train_test_split",       # mixing/sampling
    "bpe_token_counts",       # tokenizer
    "heavy_hitter_users",     # sketches
    # Rotating slots (ROTATION.md ledger).
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "doc_encoding_quality",
    "doc_fingerprints",
    "doc_top_ngram_coverage",
    "dsir_importance_weights",
    "embedding_ann_ivf_indexed",
    "embedding_ann_lsh",
    "embedding_neardup",
    "event_rollup_ladder",
    "events_pivot",
    "exact_price_percentiles",
    "gopher_quality_flags",
    "lang_id",
    "lineitem_cube",
    "lineitem_rollup",
    "minhash_signatures",
    "multimodal_resize",
    "region_top3_parts_sql",
    "simhash_values",
    "text_stats",
    "users_click_and_purchase",
    "benchmark_contamination",
    "bm25_doc_scores",
    "chunk_documents",
    "cohort_retention",
    "corpus_token_economics",
    "dedup_canonical_docs",
    "doc_char_bigram_nll",
    "doc_contaminated_spans",
    "doc_duplicate_spans",
    "doc_encoding_repair",
    "doc_phrase_tags",
    "doc_quality_linear_score",
    "doc_tfidf_keywords",
)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a catalog query; ``oracle`` is the DuckDB-equivalent
    SQL (omit only for genuinely non-SQL-expressible operators — the
    driver then records a weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTERED:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTERED[name] = (fn, oracle)
        return fn

    return deco
