"""Operator registry — the single source of truth for the driver contract.

Every engine op (SURVEY.md §2 inventory + §2.6 relational layer + north-star
extensions) registers here with its Spark implementation and, when
SQL-expressible, the exact DuckDB oracle SQL. ``__spark_entry__.py`` exposes
the registry as ``queries()`` / ``oracle_sql()``.

Determinism contract (why oracles hash-match):
- money sums go through exact integer cents (``det.dsum``) — identical IEEE
  expression trees on both engines, integer accumulation, one final division;
- every computed column is explicitly aliased the same on both sides;
- ranking ties are always broken by a unique key column;
- timestamps are µs precision on both sides (see sources.batch.load_table);
- float32 columns (embeddings) are explicitly CAST to DOUBLE before any
  arithmetic in ORACLE SQL too — DuckDB resolves FLOAT * DECIMAL-literal
  in float32, whose extra rounding step can land exactly on a .5 the
  float64 product avoids (caught by the r4 cross-scale-factor sweep,
  DIFFCHECK_r4_sf0001.txt).
"""

from __future__ import annotations

import functools
import os
import zipfile
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .scratch import scratch_root

QueryFn = Callable[[SparkSession, str], DataFrame]

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def ensure_executor_pyfiles(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Ops whose pandas UDFs reference module-level functions (codecs, envelope)
    are cloudpickled *by reference* — the worker must `import
    australis_indexer_spark` itself. When the harness creates its own
    SparkSession from an arbitrary CWD, the workers' PYTHONPATH does not
    include this repo, so we ship the package the Spark-native way:
    `sc.addPyFile` with a zip (works identically on a real cluster).
    The zip lives under the process-lifetime scratch root, removed at
    exit, not right after `addPyFile`: the local executor may fetch added
    files from their original path.
    """
    sc = spark.sparkContext
    if getattr(sc, "_aispark_pyfiles_added", False):
        return
    zpath = os.path.join(scratch_root(), f"australis_indexer_spark-{os.getpid()}.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(_PKG_DIR):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(_PKG_DIR))
                    zf.write(full, rel)
    sc.addPyFile(zpath)
    sc._aispark_pyfiles_added = True


@dataclass(frozen=True)
class OpSpec:
    name: str
    fn: QueryFn
    # str, a zero-arg builder resolved lazily on first .oracle access, or
    # None (rows-only check). The fixture oracles walk the 48-block
    # gen_blocks fixture to build multi-hundred-KB VALUES SQL — eager
    # construction at decoration time taxed EVERY operators import ~0.66 s
    # + ~270 KB (VERDICT r6 What's-wrong #1), so they register the builder.
    oracle_src: str | Callable[[], str] | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""

    @property
    def oracle(self) -> str | None:
        """DuckDB SQL; None => rows-only check. Lazy builders resolve on
        first access and cache the rendered SQL in place."""
        o = self.oracle_src
        if callable(o):
            o = o()
            object.__setattr__(self, "oracle_src", o)
        return o


REGISTRY: dict[str, OpSpec] = {}


def op(
    name: str,
    *,
    oracle: str | Callable[[], str] | None = None,
    tags: tuple[str, ...] = (),
    doc: str = "",
):
    """Register an engine op. Used as a decorator over (spark, sf_dir) -> DataFrame."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate op name: {name}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_executor_pyfiles(spark)
            return fn(spark, sf_dir)
        REGISTRY[name] = OpSpec(
            name=name, fn=wrapped, oracle_src=oracle, tags=tags,
            doc=doc or (fn.__doc__ or ""),
        )
        return fn

    return deco


# The correctness driver walks ops in registration order with a ~50-op
# per-round budget. The ledger has been closed since r6 (246/246 green
# latest evidence, 0 red, 0 never-seen); every round since is pure
# stalest-first rotation. This tuple is the FULL explicit walk order for
# all 246 ops, re-pinned for the r11 window (continuing the VERDICT r9
# rotation): every op ordered by LATEST green driver round ascending
# (name-sorted within a round). After r10's window re-certified the 46
# remaining r5 greens and the first 4 r6 greens, the stalest evidence is
# r6 — so the 50-op r11 window covers the 46 remaining r6 greens and the
# first 4 r7 greens. The committed per-round plan lives in CERTIFICATION.md.
_PRIORITY = (
    # --- driver-green, latest green r6
    "agg_pivot_returnflag",
    "agg_rollup_sales",
    "dedup_boilerplate_ngrams",
    "dedup_cluster_components",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "explode_actions",
    "explode_chunks",
    "explode_outcomes",
    "explode_receipts",
    "explode_shards",
    "explode_state_changes",
    "explode_tokens",
    "explode_transactions",
    "filter_predicate",
    "filter_shard",
    "join_anti_customers_without_orders",
    "join_asof_purchase_attribution",
    "join_equi_revenue_by_nation",
    "join_range_ship_lag",
    "join_semi_customers_with_urgent_orders",
    "join_strategy_hint_shuffle_hash",
    "multimodal_decode_features",
    "multimodal_decode_real",
    "multimodal_frame_sample",
    "multimodal_meta",
    "multimodal_resize_plan",
    "multimodal_resize_real",
    "project_counts",
    "project_keys",
    "project_paths_canonical",
    "project_reencode_json",
    "scan_from_offset",
    "set_except_churned_buyers",
    "set_intersect_repeat_buyers",
    "sim_embedding_drift",
    "sink_csv_gzip_roundtrip",
    "stats_ab_experiment_readout",
    "stream_windowed_topk",
    "text_langid_margin",
    "text_novelty_by_source",
    "text_tokenizer_fertility",
    # --- driver-green, latest green r7
    "agg_anomalous_hours",
    "agg_cohort_retention",
    "agg_funnel_steps",
    "agg_hll_sketch_users",
    "agg_percentiles_approx",
    "agg_percentiles_exact",
    "cbor_decode",
    "dedup_embedding_lsh",
    "dedup_window",
    "embedding_quantize_int8",
    "envelope_roundtrip",
    "init_config",
    "join_broadcast_dims",
    "join_bucketed_colocated",
    "join_skew_salted",
    "json_decode",
    "json_encode",
    "kmeans_train_centroids",
    "order_by_height",
    "project_envelope",
    "project_unwrap",
    "replay_all",
    "scan_backfill_mode",
    "scan_batch",
    "scan_csv",
    "scan_durable",
    "scan_jsonl",
    "scan_subscribe",
    "set_except_all",
    "set_intersect_all",
    "set_union_buyers",
    "sim_ann_ivf",
    "sim_ann_ivf_trained",
    "sim_ann_lsh",
    "sim_ann_recall",
    "sim_topk_bruteforce",
    "sink_console",
    "sink_durable",
    "sink_publish",
    "sink_retention",
    "sort_topk_orders",
    "stream_stateful_running_totals",
    "window_frame_running_spend",
    "window_lag_order_gap",
    "window_ntile_distributed",
    "window_ntile_percentile",
    "window_rank_top_customers",
    "window_session_stream",
    "window_time_hourly_events",
    "window_time_stream_complete",
    # --- driver-green, latest green r8
    "agg_countmin_heavyhitters",
    "agg_dau_wau_mau",
    "agg_decimal_money_exact",
    "agg_grouping_sets",
    "agg_linear_trend",
    "doc_chunk_tokens",
    "merge_scd2_dimension",
    "pipeline_corpus_build",
    "pipeline_corpus_curation",
    "pipeline_decontaminate",
    "pipeline_interleave_mix",
    "pipeline_media_curation",
    "pipeline_pack_sequences",
    "profile_columns",
    "project_props_variant",
    "project_reencode",
    "query_large_volume_customers",
    "query_local_supplier_volume",
    "query_returned_item_reporting",
    "query_shipping_priority",
    "sample_balanced_strata",
    "sample_reservoir_uniform",
    "sample_split_hash",
    "sample_temporal_split",
    "scalar_funcs_showcase",
    "scan_custom_source",
    "scan_custom_source_stream",
    "scan_orc",
    "sim_ann_pq",
    "sink_clustered_stats",
    "sink_compaction",
    "sink_custom_publish",
    "sink_partitioned_prune",
    "stats_join_key_skew",
    "stream_corpus_ingest",
    "stream_stateful_gap_tracker",
    "stream_stream_join_outcomes",
    "text_fingerprint",
    "text_lang_id",
    "text_normalize",
    "text_pii_redact",
    "text_regex_tokenize",
    "text_repetition_stats",
    "text_stats_quality",
    "text_token_count",
    "text_top_terms",
    "window_rolling_7day_volume",
    "window_session_user",
    "window_time_hierarchical_rollup",
    "window_time_sliding_events",
    # --- driver-green, latest green r9
    "agg_argmax_latest_order",
    "agg_bitmap_distinct",
    "agg_bitmap_set_ops",
    "agg_gini_concentration",
    "agg_histogram_fixed_bins",
    "agg_median_absolute_deviation",
    "agg_new_vs_returning_users",
    "agg_quantile_from_histogram",
    "cbor_encode",
    "compress_roundtrip",
    "health_check",
    "join_null_safe_eq",
    "join_outer_reconciliation",
    "profile_benford_digits",
    "profile_constraints",
    "profile_fd_discovery",
    "profile_k_anonymity",
    "profile_parquet_metadata",
    "query_bridge_decomposition",
    "query_customer_distribution",
    "query_disjunctive_predicates",
    "query_dormant_rich_customers",
    "query_exists_late_orders",
    "query_forecast_revenue",
    "query_lateral_topk",
    "query_market_share",
    "query_nation_pair_trade",
    "query_promo_revenue",
    "query_rfm_segmentation",
    "query_small_quantity_revenue",
    "query_top_supplier",
    "query_waiting_suppliers",
    "query_yoy_growth",
    "scan_stream",
    "stats_association_rules",
    "stats_markov_transitions",
    "stats_seasonality_heatmap",
    "stats_triangle_count",
    "window_longest_streak",
    "window_pareto_concentration",
    "window_pattern_cep",
    "window_running_distinct",
    "window_share_of_total",
    "window_sliding_distinct_users",
    "window_time_gapfill_locf",
    "window_time_in_state",
    "window_time_interpolate_linear",
    "window_time_ohlc_bars",
    "window_time_rate_of_change",
    "window_value_functions",
    # --- driver-green, latest green r10
    "agg_approx_distinct_users",
    "agg_cube_order_status",
    "agg_distinct_active_users",
    "agg_hash_pricing_summary",
    "agg_hll_daily_merge",
    "agg_listagg_ordered",
    "agg_mode_per_group",
    "agg_unpivot_roundtrip",
    "agg_weighted_average_exact",
    "dedup_minhash_quality",
    "embedding_gram_matrix",
    "join_asof_nearest",
    "join_bloom_prefilter",
    "join_dpp_partition_pruned",
    "join_fuzzy_name",
    "join_pit_temporal_dim",
    "join_self_temporal_overlap",
    "multimodal_pair_alignment",
    "multimodal_phash_neardup",
    "pipeline_dataset_card",
    "pipeline_index_build",
    "pipeline_mixture_plan",
    "pipeline_shard_manifest",
    "pipeline_tombstone_delete",
    "project_props_json",
    "sample_epoch_shuffle",
    "sample_importance_weighted",
    "scalar_higher_order_arrays",
    "scalar_null_semantics",
    "scan_binary_files",
    "scan_jsonl_corrupt_tolerant",
    "scan_schema_evolution",
    "sim_ann_quality_curve",
    "sink_zorder_stats",
    "stats_degree_distribution",
    "stats_join_fanout_estimate",
    "stream_cdc_upsert",
    "stream_incremental_rollup",
    "stream_ivm_join_view",
    "stream_late_data_policy",
    "stream_stateful_cep",
    "table_snapshot_diff",
    "text_boolean_search",
    "text_cooccurrence_pairs",
    "text_inverted_index",
    "text_langid_quality",
    "text_tfidf_topterms",
    "udf_pandas_grouped_agg",
    "udf_pandas_scalar_batch",
    "udf_python_udtf_chunks",
)


def load_all() -> dict[str, OpSpec]:
    """Import every module that registers ops, then return the registry
    re-ordered so the driver's next 50-op correctness window covers exactly
    the ops that most need (re-)certification.

    Decorator execution fixes the raw registration order per module; the
    explicit ``_PRIORITY`` list then imposes the committed walk order —
    since r7 a pure stalest-first rotation (every op green, ordered by
    latest green driver round ascending, name-sorted within a round).
    """
    from .operators import wire  # noqa: F401  (imports .envelope first)
    from .streaming import cdc, pipeline, rollup, stateful  # noqa: F401
    from .operators import (  # noqa: F401
        curation,
        fuzzy,
        iterative,
        maintenance,
        pq,
        profiling,
        scale,
        storage,
        timeseries,
        tpch,
        sampling,
        similarity,
        text_analysis,
    )
    from .operators import (  # noqa: F401
        dedup,
        explode,
        multimodal,
        project,
        relational,
    )

    missing = [n for n in _PRIORITY if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"priority ops not registered: {missing}")
    ordered = {n: REGISTRY[n] for n in _PRIORITY}
    # The non-priority remainder (all already driver-green) sorts by NAME:
    # decorator insertion order depends on which module got imported first
    # in this process (cli, tests, or load_all itself), and the driver's
    # walk order — and the CERTIFICATION.md ledger generated from it —
    # must not vary with import history.
    ordered.update(
        (n, REGISTRY[n]) for n in sorted(REGISTRY) if n not in ordered
    )
    REGISTRY.clear()
    REGISTRY.update(ordered)
    return REGISTRY
