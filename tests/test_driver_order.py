"""Driver-window order of ``__spark_entry__.queries()``: derived from the
``CORRECTNESS_r*.json`` verdict files, stalest verdict first."""

import json

import pytest

import __spark_entry__ as se

# 34 entries last verified in round 12, then the 16 alphabetically first
# of round 13's
_WINDOW = [
    "a5_rollup", "a6_having", "a7_percentiles", "a8_derived_moments",
    "dedup_edit_distance_verify", "dedup_url_exact", "delta_interop_read",
    "events_funnel", "events_markov_transitions", "events_resample_ffill",
    "f10_map_ops", "f11_struct_ops", "f13_variant_json", "f1_string",
    "f2_datetime", "f2b_date_arith", "f3_math", "f4_json", "f5_hash",
    "f6_array", "f7_conversion", "f8_conditional", "f9_string_agg",
    "hudi_hfile_block_read", "hudi_mor_interop_read", "iceberg_interop_read",
    "seq_chunk_windows", "snapshot_dv_delete", "text_compression_ratio",
    "text_domain_rollup", "text_fix_mojibake", "text_minhash_containment",
    "text_repetition_signals", "text_url_canonicalize",
    "asof_events_orders", "dedup_exact_groups", "dedup_exact_stats",
    "dedup_fingerprint", "dedup_ngram_jaccard", "dedup_simhash",
    "emb_label_outliers", "emb_pca_project", "events_sessionize_batch",
    "hudi_cdc_block_read", "hudi_mor_kryo_delete_read",
    "hudi_mor_parquet_block_read", "iceberg_export_dv_partitioned",
    "iceberg_v3_dv_read", "j1_inner_equi", "j2_left_outer",
]


def test_window_is_the_stalest_fifty():
    from easy_sql_spark.queries import QUERIES

    order = list(se.queries())
    assert order[:50] == _WINDOW
    assert sorted(order) == sorted(QUERIES)


def test_unknown_verdict_name_raises(tmp_path):
    verdict = {"rows_match": True, "hash_match": True, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"b": verdict, "no_such_query": verdict})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"a": verdict}))
    with pytest.raises(KeyError, match="no_such_query"):
        se._driver_order(["a", "b", "c"], str(tmp_path))
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"b": verdict}))
    assert se._driver_order(["a", "b", "c"], str(tmp_path)) == ["c", "b", "a"]
