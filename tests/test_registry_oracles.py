"""The registry gate: every ``queries()`` entry runs on the sf0.001 test
data and must equal its ``oracle_sql()`` in DuckDB, with the canonical
comparison of tools/check_oracles.py (row count, column names, and the
order-insensitive exact value multiset). Also pins the registry's names
and the exact oracle text."""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

import duckdb
import pytest

from processor_post_timeseries_spark.contract import TABLES, oracle_sql, queries

SF_DIR = "/root/testdata/sf0.001"
# DuckDB has no xxhash64, so this query is checked on rows only
ROWS_ONLY = {"dedup_minhash_lsh64_parity"}
ORACLE_SHA256 = "eda8ee76892e89e022d27f508f394133b96eeb864607075984d0b16a4a79fc05"
NAMES = [
    "a1_channel_extents", "a2_irregular_rate", "a2_rate_inference",
    "a2_rate_validation", "a4_manifest_batches", "agg_count_distinct",
    "agg_exact_quantiles", "agg_grouping_sets", "agg_heavy_hitters",
    "agg_pivot_status", "agg_sketches", "ann_cosine_topk", "ann_cosine_topk_q8",
    "ann_ivf_topk", "ann_lsh_bucket_hist", "ann_quantize_roundtrip",
    "blocks_roundtrip", "bpe_encode_stats", "bpe_pair_counts", "bpe_train_merges",
    "codec_roundtrip", "curation_keepset", "curation_keepset_neardup", "decontaminate",
    "decontaminate_bloom", "decontaminate_normalized", "dedup_components",
    "dedup_containment", "dedup_embedding_cosine", "dedup_exact", "dedup_exact_runs",
    "dedup_minhash_lsh", "dedup_minhash_lsh64_parity", "dedup_ngram_jaccard",
    "dedup_simhash", "dedup_span_report", "emb_centroid_outliers",
    "emb_label_centroids", "gopher_quality_flags", "j1_create_set_anti",
    "j1_reconcile_theta", "j2_key_bind_lookup", "j3_asof_align", "j4_interval_join",
    "j5_full_outer", "j_semi_exists", "l1_first_k", "l2_stratified_sample",
    "l3_hash_sample", "l4_mixture_rates", "l5_mixture_sample", "lm_avg_prob",
    "lttb_downsample", "m4_downsample", "multimodal_audio_energy",
    "multimodal_features", "multimodal_inventory", "multimodal_resize",
    "p11_string_normalize", "p12_json_extract", "p14_size_parsing", "p17_date_parts",
    "p1_affine_scale", "p2_unit_normalization", "p4_timestamp_math",
    "p5_legacy_blocks", "p7_key_format", "p8_regex_extract", "q1_pricing_summary",
    "q3_shipping_priority", "retention_policy", "rollup_tier_parity",
    "rollup_tier_upsert", "s5_legacy_roundtrip", "s6_channel_metadata",
    "s8_lineage_certify", "set_ops_union_except", "src_char_drift",
    "src_overlap_matrix", "text_fingerprint", "text_lang_id", "text_ngram_topk",
    "text_pii_scrub", "text_quality", "text_repetition", "text_token_counts",
    "text_winnow_fingerprints", "tok_pack_blocks", "tok_pack_incremental",
    "tok_pack_manifest", "tok_subsequence_search", "tok_unigram_zipf",
    "train_order_batches", "train_order_manifest", "ts_cusum_changepoint",
    "ts_diff2_spike", "ts_trend_slope", "ts_value_histogram", "w10_incremental_append",
    "w11_rank_functions", "w12_irregular_segments", "w13_irregular_block_keys",
    "w14_irregular_resample", "w15_irregular_tier", "w1_gap_count",
    "w1_sessionize_events", "w2_gapfill_grid", "w2_gapfill_interp", "w3_fixed_blocks",
    "w5_cascade_1h_from_1m", "w5_time_weighted", "w5_tumbling_1m", "w6_running_frames",
    "w7_resample_linear", "w8_sliding_windows", "w9_minmax_downsample",
    "w_anomaly_zscore",
]


def _check_oracles():
    """tools/check_oracles.py, loaded by file path (it is a script, not a
    package module) for its ``canon``."""
    path = os.path.join(os.path.dirname(__file__), os.pardir, "tools", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


canon = _check_oracles().canon


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def test_registry_names_pinned():
    assert sorted(queries()) == NAMES


def test_oracle_text_pinned():
    blob = json.dumps(oracle_sql(), sort_keys=True).encode()
    assert hashlib.sha256(blob).hexdigest() == ORACLE_SHA256


def test_only_documented_queries_are_rows_only():
    assert set(queries()) - set(oracle_sql()) == ROWS_ONLY


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, duck, name):
    srows = [r.asDict() for r in queries()[name](spark, SF_DIR).collect()]
    if name in ROWS_ONLY:
        assert len(srows) == 1 and srows[0]["families_agree"] is True
        return
    d = duck.sql(oracle_sql()[name])
    dcols = [c[0] for c in d.description]
    drows = [dict(zip(dcols, r)) for r in d.fetchall()]
    assert len(srows) == len(drows)
    if srows:
        assert sorted(srows[0]) == sorted(dcols)
    assert canon(srows) == canon(drows)
