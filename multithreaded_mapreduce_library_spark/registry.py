"""Central query/operator registry.

Every operator in SURVEY.md §2 is registered here as a named pair:
a PySpark builder ``(spark, sf_dir) -> DataFrame`` and (where SQL-expressible)
the equivalent DuckDB oracle SQL over the same parquet tables. The driver
contract (``__spark_entry__.py``) and the local test suite both consume this
registry, so a query is "done" exactly when it is registered and oracle-green.

Conventions that make the order-insensitive value-hash comparison exact:
- alias every computed column identically in Spark and SQL;
- aggregate money through fixed-point integers (functions.fixed_point:
  floor(x*scale+0.5) — order-independent exact sums, ~5× faster than
  DECIMAL aggregation), divided back to DOUBLE at the end;
- emit timestamps as formatted strings (or DATE), never raw timestamps;
- round genuinely float-path outputs (e.g. cosine) and break ranking ties on
  a unique key.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL; None => driver does a rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}

# Modules whose import populates QUERIES.
_OPERATOR_MODULES = (
    "multithreaded_mapreduce_library_spark.operators.text",
    "multithreaded_mapreduce_library_spark.operators.relational",
    "multithreaded_mapreduce_library_spark.operators.joins",
    "multithreaded_mapreduce_library_spark.operators.windows",
    "multithreaded_mapreduce_library_spark.operators.events",
    "multithreaded_mapreduce_library_spark.operators.dedup",
    "multithreaded_mapreduce_library_spark.operators.similarity",
    "multithreaded_mapreduce_library_spark.operators.pq",
    "multithreaded_mapreduce_library_spark.operators.multimodal",
    "multithreaded_mapreduce_library_spark.operators.udfs",
    "multithreaded_mapreduce_library_spark.operators.approx",
    "multithreaded_mapreduce_library_spark.operators.tpch_shapes",
    "multithreaded_mapreduce_library_spark.operators.tpch_more",
    "multithreaded_mapreduce_library_spark.operators.mapreduce_queries",
    "multithreaded_mapreduce_library_spark.operators.pipeline",
    "multithreaded_mapreduce_library_spark.operators.maintenance",
    "multithreaded_mapreduce_library_spark.operators.graph",
    "multithreaded_mapreduce_library_spark.streaming.queries",
)


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
) -> Callable[[Builder], Builder]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, tags=tuple(tags), doc=doc or (fn.__doc__ or "")
        )
        return fn

    return deco


# Presentation order for the driver contract: a cross-family prefix first
# (reference fidelity, text/LLM pipeline, dedup, similarity, multimodal,
# joins, windows, event-time, core relational, UDF surfaces), so any
# prefix-bounded external check exercises every operator family rather
# than only the first modules imported. Contains no names not registered
# elsewhere; everything unlisted follows in registration order.
_PRIORITY = (
    # --- round-23 rotated 50-query gate prefix --------------------------
    # Generated by scripts/rotate_prefix.py (which reproduces this list
    # bit-for-bit from the tracked CORRECTNESS files + the changed set).
    # The driver verifies a 50-query PREFIX of this order. Steady-state
    # ROTATION RULE (every previously-gated query has >=1 green driver
    # row, so the invariant is bounded staleness; a brand-new query has
    # none and MUST sit in the changed set): each round the prefix is
    #   (1) every query that is NEW or whose builder/oracle text or
    #       semantics changed this round (must be driver-(re)verified),
    #   (2) the least-recently-verified remainder — fill to 50 from the
    #       oldest last-green CORRECTNESS_r*.json round, alphabetical
    #       within a round.
    # Capacity arithmetic (r23): the r22 gate run re-greened its
    # 6-changed + 9-r17-green + 35-r18-green prefix (CORRECTNESS_r22.json,
    # 50/50), so the r23 prefix is 16 changed queries (bpe_train: its
    # merge rounds moved to the driver, which rewrote its @register
    # doc; ivf_train_centroids, embedding_outliers, sim_topk_ivf_trained,
    # dedup_semantic, dedup_semantic_incremental, stream_dedup_semantic:
    # the Lloyd core's `narrow` flag was deleted from their call sites;
    # pq_train_codes, sim_topk_pq: their docs named the deleted window
    # and grouped paths, and their PQ oracle now seeds from the PQ_K
    # smallest vec_ids present; stream_upsert, stream_incremental_agg:
    # their batch-shuffle pin follows defaultParallelism instead of 16,
    # and their bodies now call run_versioned; sim_topk_ivf_quantized,
    # sim_topk_ivfpq: both build their index through build_ann_index,
    # which rewrote their bodies and docs, and sim_topk_ivfpq shares the
    # PQ seed change; time_tumbling, time_sliding: their bodies became
    # tumbling_transform/sliding_transform over load_table, shared with
    # the streaming twins; compact_apply: its rewrite now lives in one
    # settled_in_scratch dir, which rewrote its body and doc) + the 9
    # displaced r18-greens (quarantine_malformed .. unpivot_measures) +
    # the 25 oldest r19-greens. Changed-set cap this round: 39 (16
    # spent); forecast for r24: 34, for r25: 5 (rotate_prefix.py
    # --preview).
    # The optimization-round regime (established r21): a gated query
    # whose builder text changes for PERFORMANCE (output-identical,
    # oracle-proven at sf0.01+sf0.1 before landing) takes a changed-set
    # slot via rotate_prefix.py --apply <names> plus a QUERY_HASHES.json
    # refresh in the same commit — test_changed_hashes_are_declared
    # enforces this mechanically. Current spend: see the (1) marker
    # below; the displaced r18-greens lead the r23 refresh and stay
    # inside the four-round staleness bound. No new operators. Pinned by
    # tests/test_registry_oracle.py::test_gate_prefix_bounds_staleness.
    # Do not pad with trivial variants.
    # (1) new/changed in r23 (16):
    "bpe_train", "ivf_train_centroids", "embedding_outliers",
    "sim_topk_ivf_trained", "dedup_semantic", "dedup_semantic_incremental",
    "stream_dedup_semantic", "pq_train_codes", "sim_topk_pq", "stream_upsert",
    "stream_incremental_agg", "sim_topk_ivf_quantized", "sim_topk_ivfpq",
    "time_tumbling", "time_sliding", "compact_apply",
    # (2) last green in r18 (9):
    "quarantine_malformed", "repetition_ngram", "sample_hash",
    "scalar_subquery", "source_divergence", "stream_dedup_docs",
    "stream_dedup_minhash", "stream_lm_score", "unpivot_measures",
    # (2) last green in r19 (25):
    "compact_plan", "corr_stats", "correlated_subquery", "dist_moments",
    "event_funnel", "group_cube", "grouping_sets", "join_asof",
    "join_broadcast", "join_full", "join_large", "join_left", "join_range",
    "join_right", "join_semi", "join_shuffle_hash", "join_skew_salted",
    "join_theta", "lang_id", "map_in_arrow_project", "mmr_rerank",
    "mr_inverted_index", "multimodal_decode", "multimodal_frame_sample",
    "quality_score",
    # --- end of gate prefix (50) ----------------------------------------
    # rotated out, last green r19 (16):
    "sample_stratified", "sequence_packing", "sessionize", "sim_lsh_buckets",
    "sim_near_dup", "sim_topk_bruteforce", "stream_dedup", "stream_session",
    "stream_sliding_watermark", "stream_stateful_running_max",
    "stream_static_join", "stream_stream_join", "stream_tumbling",
    "token_stats", "udtf_tokenize", "window_range_frame",
    # rotated out, last green r20 (45):
    "agg_argmax", "anomaly_mad", "audio_frame_features",
    "customer_distribution", "dedup_substring", "embedding_quantize",
    "embedding_stats", "eval_auc", "event_transitions", "gaps_islands",
    "heavy_hitters", "histogram_fixed", "interpolate_linear",
    "join_asof_nearest", "join_interval_bins", "layout_zorder",
    "market_share", "mixture_sample", "pareto_frontier", "percentiles",
    "pivot_status", "product_profit", "retention_cohorts", "sample_weighted",
    "scalar_array", "scalar_date", "scalar_map", "scalar_math",
    "setop_except", "setop_except_all", "setop_intersect",
    "setop_intersect_all", "shipping_priority", "sim_topk_quantized",
    "skew_diagnose", "snapshot_diff", "stream_funnel", "time_weighted_avg",
    "variance_stats", "vocab_coverage", "window_lag_lead", "window_ntile",
    "window_rank", "window_running", "window_share",
    # rotated out, last green r21 (45):
    "agg_bool", "agg_listagg", "agg_mode", "agg_salted_skew", "bpe_apply",
    "dedup_apply", "dedup_fuzzy_names", "dedup_keep_list", "dedup_minhash",
    "disjunctive_revenue", "dormant_customers", "excess_shipments",
    "forecast_revenue", "graph_pagerank", "group_rollup", "hypertable_rollup",
    "important_parts", "join_bucketed", "join_cross", "json_extract",
    "large_volume_customers", "lm_bigram_score", "local_supplier_volume",
    "map_in_pandas_filter", "min_cost_supplier", "mr_wordcount",
    "order_priority_check", "pandas_udaf_grouped", "pandas_udf_scalar",
    "parts_supplier_cnt", "pricing_summary", "priority_shipping",
    "promo_revenue_share", "returned_items", "scalar_string", "scd2_merge",
    "setop_union", "sim_topk_ivf", "sim_topk_multiprobe", "small_qty_revenue",
    "split_contamination_gate", "sql_interface", "stream_transitions",
    "tf_idf", "waiting_orders",
    # rotated out, last green r22 (44):
    "agg_stats", "bm25_search", "calendar_fill", "case_when",
    "cogroup_reconcile", "conditional_agg", "contamination_check",
    "corpus_curation", "count_distinct", "dataset_split", "dedup_clusters",
    "dedup_exact", "dedup_keep_first", "dedup_minhash_incremental",
    "dedup_ngram_jaccard", "dedup_simhash", "distinct_rows",
    "doc_fingerprint", "doc_ngram_novelty", "embedding_centroids",
    "filter_project", "grouped_map_zscore", "having_filter",
    "hybrid_retrieval", "incremental_agg", "join_anti", "join_asof_window",
    "lateral_posexplode", "merge_upsert", "multi_count_distinct",
    "multimodal_features", "multimodal_metadata", "multimodal_resize",
    "orderby_limit", "pii_redact", "profile_table", "top_supplier",
    "variant_extract", "volume_shipping", "window_distribution",
    "window_first_last", "window_moving_avg", "window_topk_per_group",
    "wordcount",
)


def load_all() -> dict[str, QuerySpec]:
    """Import all operator modules (idempotent) and return the registry,
    priority names first (see _PRIORITY)."""
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    # A mistyped/renamed _PRIORITY entry must fail loudly: silently
    # skipping it would shift every later query's position and change
    # which queries the prefix-bounded driver gate verifies.
    missing = [n for n in _PRIORITY if n not in QUERIES]
    assert not missing, f"_PRIORITY names not in registry: {missing}"
    ordered = {n: QUERIES[n] for n in _PRIORITY}
    ordered.update((n, s) for n, s in QUERIES.items() if n not in ordered)
    return ordered
