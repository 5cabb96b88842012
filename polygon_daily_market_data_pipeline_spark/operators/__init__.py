"""Library operators (SURVEY.md §4.3) — no custom Catalyst rules needed;
each is a composition of DataFrame algebra that Catalyst can optimize.

Re-exports are LAZY (PEP 562, round 17): importing any one operator
module (e.g. ``operators.versioned`` inside the per-stream
``python_streaming_source_runner`` the Python-DataSource change feed
spawns, or an executor worker unpickling one Arrow function) used to
eagerly import every sibling — including ``similarity``, which pulls
numpy/pandas (~0.45 s measured per fresh worker process). Names resolve
to the same objects on first attribute access; ``from ...operators
import X`` and ``operators.X`` are unchanged.
"""

_EXPORTS = {
    # bm25
    "bm25_postings": "bm25",
    "bm25_topk": "bm25",
    "rrf_fuse": "bm25",
    "mmr_rerank": "bm25",
    # bpe
    "train_bpe": "bpe",
    "bpe_segment": "bpe",
    "bpe_encode_text": "bpe",
    "bpe_encode_text_arrow": "bpe",
    "word_frequency_table": "bpe",
    # catalog
    "catalog_commit": "catalog",
    "catalog_snapshot": "catalog",
    "catalog_rollback": "catalog",
    "catalog_sql": "catalog",
    "catalog_versions": "catalog",
    "read_catalog": "catalog",
    # cbo
    "table_size_estimate": "cbo",
    "filtered_size_bound": "cbo",
    "key_skew_ratio": "cbo",
    "key_uniqueness": "cbo",
    "plan_join_with_stats": "cbo",
    "plan_star_join": "cbo",
    "dynamic_file_prune_join": "cbo",
    # decontam
    "contamination_hits": "decontam",
    "decontaminate": "decontam",
    "eval_ngram_set": "decontam",
    # dedupe
    "latest_by_key": "dedupe",
    # governance (its ``governance()`` reader is not re-exported: the
    # submodule import binds that package attribute to the module)
    "set_masking_policy": "governance",
    "drop_masking_policy": "governance",
    "set_row_access_policy": "governance",
    "drop_row_access_policy": "governance",
    "read_governed": "governance",
    "governed_columns": "governance",
    "access_history": "governance",
    "k_anonymity_violations": "governance",
    "enforce_k_anonymity": "governance",
    # incremental
    "invalidate_partitions": "incremental",
    "read_aggregate": "incremental",
    "refresh_aggregate": "incremental",
    "streaming_aggregate_sink": "incremental",
    # layout
    "bloom_filter_options": "layout",
    "zorder_write": "layout",
    # lm_score
    "bigram_surprisal_scores": "lm_score",
    "train_bigram_model": "lm_score",
    "score_with_bigram_model": "lm_score",
    "dsir_log_weights": "lm_score",
    "dsir_select": "lm_score",
    # matview
    "create_matview": "matview",
    "refresh_matview": "matview",
    "read_matview": "matview",
    "rollup_matview": "matview",
    "matview_stream_sink": "matview",
    "matview_source_version": "matview",
    # merge
    "insert_only_merge": "merge",
    "merge_upsert": "merge",
    # quality_model
    "train_quality_model": "quality_model",
    "quality_model_scores": "quality_model",
    "filter_by_quality_model": "quality_model",
    # result_cache
    "cached_result": "result_cache",
    # scd
    "as_of": "scd",
    "scd2_init": "scd",
    "scd2_merge": "scd",
    "scd2_store_init": "scd",
    "scd2_store_merge": "scd",
    "scd2_store_read": "scd",
    # similarity
    "cosine_topk_bruteforce": "similarity",
    "cosine_topk_lsh": "similarity",
    "cosine_topk_ivf": "similarity",
    "cosine_topk_pq": "similarity",
    "cosine_topk_ivfpq": "similarity",
    "cosine_topk_sq": "similarity",
    "cosine_topk_ivfsq": "similarity",
    "semantic_dedup": "similarity",
    # skew
    "salted_join": "skew",
    "hot_key_salted_join": "skew",
    "heavy_hitters": "skew",
    "two_phase_distinct_count": "skew",
    # versioned
    "branch_dir": "versioned",
    "clone_table": "versioned",
    "create_branch": "versioned",
    "create_tag": "versioned",
    "drop_branch": "versioned",
    "drop_tag": "versioned",
    "list_branches": "versioned",
    "list_tags": "versioned",
    "publish_branch": "versioned",
    "resolve_tag": "versioned",
    "add_check": "versioned",
    "drop_check": "versioned",
    "drop_column": "versioned",
    "rename_column": "versioned",
    "drop_clone": "versioned",
    "commit_version": "versioned",
    "optimize_zorder": "versioned",
    "delete_version_keys": "versioned",
    "delete_version_vectors": "versioned",
    "delete_version_where": "versioned",
    "diff_versions": "versioned",
    "drop_partitions": "versioned",
    "fast_count": "versioned",
    "materialize_dv": "versioned",
    "merge_version": "versioned",
    "optimize_compact": "versioned",
    "update_version_vectors": "versioned",
    "update_version_where": "versioned",
    "read_changes": "versioned",
    "replicate_changes": "versioned",
    "read_version": "versioned",
    "rollback": "versioned",
    "scan_version": "versioned",
    "scan_version_with_stats": "versioned",
    "vacuum": "versioned",
    "versioned_stream_sink": "versioned",
    "write_json_sidecar": "versioned",
}

__all__ = [
    "latest_by_key",
    "insert_only_merge",
    "merge_upsert",
    "invalidate_partitions",
    "read_aggregate",
    "refresh_aggregate",
    "streaming_aggregate_sink",
    "bloom_filter_options",
    "zorder_write",
    "as_of",
    "scd2_init",
    "scd2_merge",
    "scd2_store_init",
    "scd2_store_merge",
    "scd2_store_read",
    "contamination_hits",
    "decontaminate",
    "eval_ngram_set",
    "branch_dir",
    "clone_table",
    "create_branch",
    "create_tag",
    "drop_branch",
    "drop_tag",
    "list_branches",
    "list_tags",
    "publish_branch",
    "resolve_tag",
    "add_check",
    "drop_check",
    "drop_column",
    "rename_column",
    "drop_clone",
    "commit_version",
    "optimize_zorder",
    "delete_version_keys",
    "delete_version_vectors",
    "delete_version_where",
    "diff_versions",
    "drop_partitions",
    "fast_count",
    "materialize_dv",
    "merge_version",
    "optimize_compact",
    "update_version_vectors",
    "update_version_where",
    "read_changes",
    "replicate_changes",
    "read_version",
    "rollback",
    "scan_version",
    "scan_version_with_stats",
    "vacuum",
    "versioned_stream_sink",
    "write_json_sidecar",
    # round-13 continuation surfaces
    "bm25_postings", "bm25_topk", "rrf_fuse", "mmr_rerank",
    "train_bpe", "bpe_segment", "bpe_encode_text",
    "bpe_encode_text_arrow", "word_frequency_table",
    "catalog_commit", "catalog_snapshot", "catalog_rollback",
    "catalog_sql", "catalog_versions", "read_catalog",
    "create_matview", "refresh_matview", "read_matview",
    "rollup_matview", "matview_stream_sink", "matview_source_version",
    "cached_result",
    "table_size_estimate", "filtered_size_bound", "key_skew_ratio",
    "key_uniqueness", "plan_join_with_stats", "plan_star_join",
    "dynamic_file_prune_join",
    "bigram_surprisal_scores", "train_bigram_model",
    "score_with_bigram_model", "dsir_log_weights", "dsir_select",
    "cosine_topk_bruteforce", "cosine_topk_lsh", "cosine_topk_ivf",
    "cosine_topk_pq", "cosine_topk_ivfpq", "cosine_topk_sq",
    "cosine_topk_ivfsq", "semantic_dedup",
    "salted_join", "hot_key_salted_join", "heavy_hitters",
    "two_phase_distinct_count",
    "train_quality_model", "quality_model_scores",
    "filter_by_quality_model",
    "set_masking_policy", "drop_masking_policy", "set_row_access_policy",
    "drop_row_access_policy", "read_governed",
    "governed_columns", "access_history", "k_anonymity_violations",
    "enforce_k_anonymity",
]


def __getattr__(name: str):
    import importlib

    mod = _EXPORTS.get(name)
    if mod is not None:
        val = getattr(importlib.import_module(f".{mod}", __name__), name)
        globals()[name] = val  # cache: next access skips __getattr__
        return val
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def __dir__():
    return sorted(set(globals()) | set(__all__))
