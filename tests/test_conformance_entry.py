"""The conformance entry point (``__spark_entry__.py``) and the plan-layer
helpers it relies on: loud plan imports, a query window ordered by the
committed correctness records, and the scratch-table helper's cleanup."""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

import __spark_entry__ as contract

# The 164 registered conformance queries; a refactor of the plan layer
# must neither drop nor add one.
_REGISTERED = """
    llm_ann_lsh_topk llm_ann_recall llm_ann_topk llm_bloom_decontam llm_bm25
    llm_bpe_encode llm_bpe_train llm_budget_select llm_centroid llm_chunk
    llm_classifier llm_cluster_best llm_corpus_line_dedup llm_corpus_report
    llm_curation_funnel llm_decontam llm_dedup_exact llm_dedup_index
    llm_dsir llm_dup_clusters llm_dup_ngram_frac llm_embed_neardup
    llm_exact_sample llm_filtered_ann llm_fingerprint llm_gopher
    llm_hash_embed llm_hash_split llm_heavy_hitters llm_intra_dup
    llm_ivf_index_topk llm_ivf_topk llm_keywords llm_knn_join llm_lang_id
    llm_length_buckets llm_line_dedup llm_lm_score llm_minhash
    llm_minhash_dedup llm_mix_temperature llm_multimodal llm_neardup_window
    llm_normalize llm_pack llm_pack_read llm_pii llm_pq_topk
    llm_quantize_int8 llm_repetition llm_semdedup llm_shuffle llm_simhash
    llm_simhash_neardup llm_span_dedup llm_stratified llm_text_knn
    llm_text_quality llm_token_bpe llm_token_count llm_topk_lang llm_url_cap
    llm_vocab_coverage q_add_column q_agg q_analyze q_anti_join
    q_asof_forward q_asof_join q_bitor q_bloom_lookup q_bucket_join
    q_cardinality q_case q_cdf_keyed q_change_feed q_clone
    q_compact_partitions q_constraints q_copy_into q_cube q_datetime q_dedup
    q_delete_mor q_events_window q_except q_expectations q_filter
    q_fk_orphans q_funnel q_gap_fill q_ghcnh_parse q_harmonic
    q_hidden_partition q_incr_rollup q_intersect q_isd_parse q_join
    q_json_extract q_jsonl_ingest q_keep_latest q_lakehouse_scan
    q_lead_hours q_matview_mor q_matview_refresh q_merge_cdc q_merge_evolve
    q_merge_into q_meta_agg q_metrics q_multijoin q_part_agg
    q_partition_evolution q_pipeline_clean q_pipeline_daily q_pivot
    q_project q_quantile q_quantile_group q_quarantine_replay q_range_join
    q_rank_topn q_rename_evolution q_replace_where q_replicate q_retention
    q_rollup q_scan q_scd2 q_season q_semi_join q_session_window
    q_sessionize q_show_partitions q_skew_agg q_split q_sql_cdf
    q_sql_console q_sql_ddl q_sql_dml q_sql_generated q_sql_identity
    q_sql_merge q_star_revenue q_stream_cdc q_stream_dedup q_stream_events
    q_stream_join q_stream_matview q_stream_neardup q_stream_replicate
    q_stream_sessions q_stream_source q_stream_upsert q_stream_versioned
    q_ts_parse q_union q_units q_update_mor q_window_expand q_window_lag
    q_window_range q_window_roll q_zorder_skip
""".split()

_PLAN_MODULES = (
    "declared",
    "function_queries",
    "llm_queries",
    "pipeline_queries",
    "relational_queries",
    "streaming_queries",
    "temporal_queries",
)


@pytest.mark.parametrize("module", _PLAN_MODULES)
def test_plan_import_failure_fails_the_contract(monkeypatch, module):
    # A None entry makes the next import of that module raise ImportError.
    monkeypatch.setitem(sys.modules, f"temp_data_pipeline_spark.plans.{module}", None)
    with pytest.raises(ImportError):
        contract.queries()


def _latest_green_rounds() -> dict[str, int]:
    latest: dict[str, int] = {}
    for fname in os.listdir(contract._REPO):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        with open(os.path.join(contract._REPO, fname)) as fh:
            records = json.load(fh)
        for name, rec in records.items():
            if (
                rec["rows_match"] is True
                and rec["schema_match"] is True
                and rec["hash_match"] is True
                and rec["err"] is None
            ):
                latest[name] = max(latest.get(name, 0), int(m.group(1)))
    return latest


def test_query_window_takes_the_stalest_records_first():
    order = list(contract.queries())
    assert sorted(order) == sorted(_REGISTERED)
    assert len(order) == len(set(order)) == 164
    recheck = set(contract._RECHECK)
    assert recheck <= set(order)
    latest = _latest_green_rounds()
    window = [latest.get(n, 0) for n in order[:50] if n not in recheck]
    rest = [latest.get(n, 0) for n in order[50:] if n not in recheck]
    assert max(window) <= min(rest)
    oracles = contract.oracle_sql()
    assert list(oracles) == [n for n in order if n in oracles]


def test_scratch_table_cleans_up_after_return(spark):
    from temp_data_pipeline_spark.plans.declared import scratch_table

    seen = []

    @scratch_table("t_scratch_")
    def build(spark, sf_dir, scratch):
        seen.append(scratch)
        spark.range(5).write.parquet(f"{scratch}/t")
        return spark.read.parquet(f"{scratch}/t")

    df = build(spark, "unused")
    assert not os.path.exists(seen[0])
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4]


def test_scratch_table_cleans_up_after_error(spark):
    from temp_data_pipeline_spark.plans.declared import scratch_table

    seen = []

    @scratch_table("t_scratch_")
    def build(spark, sf_dir, scratch):
        seen.append(scratch)
        spark.range(5).write.parquet(f"{scratch}/t")
        raise RuntimeError("builder failed")

    with pytest.raises(RuntimeError, match="builder failed"):
        build(spark, "unused")
    assert not os.path.exists(seen[0])
