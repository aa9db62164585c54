"""Frozen query lists and the result check for the ``queries`` workload.

The two lists are ``bench.py``'s HEADLINE split by family module:
OLAP (``relational``, ``windows_q``, ``consensus_q``) and LLM curation
(``llmdata``). They are frozen here so the benchmark does not move when
the headline does.

A full pass of all 113 takes about three minutes on 4 cores, longer
than one timed run may last, so the workload runs a fixed systematic
sample: every eighth headline query, starting from the seventh. The
rule picks by position, not by cost or stability; it keeps both
families and includes q190, the query with the largest known
run-to-run swing.

Correctness: each query's result is fingerprinted in the same execution
as its timed noop write, through an ``Observation`` (row count plus the
sum of a 64-bit hash of every row rendered as text). The expected
fingerprints in ``oracle_hashes.json`` come from
``make_oracle_hashes.py``, which records them only together with the
proof that the same Spark result equals the DuckDB oracle at sf0.1.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

OLAP_QUERIES = (
    "q01_pricing_summary", "q02_topk_orders", "q04_join_inner",
    "q10_broadcast_star", "q11_range_join", "q12_multi_agg", "q18_window_rank",
    "q20_window_frames", "q30_json_funcs", "q39_salted_agg",
    "q40_consensus_winner", "q44_consensus_decision", "q69_returned_items",
    "q70_tumbling", "q72_sessionize", "q74_asof_join", "q103_first_seen_dedup",
    "q108_funnel", "q110_gap_fill", "q111_peak_concurrency",
    "q112_quality_audit", "q115_zscore_outliers", "q116_ohlc_bars",
    "q119_segment_correlation", "q121_bucketed_join", "q124_path_trigrams",
    "q156_shipping_priority", "q159_suppliers_kept_waiting",
    "q168_cheapest_supplier", "q165_large_orders", "q176_affinity_lift",
    "q193_ols_trend", "q194_inclusion_profile", "q196_collated_grouping",
    "q197_lateral_topk", "q198_pipe_syntax", "q200_aqp_estimates",
    "q202_quantile_merge_order",
)

CURATION_QUERIES = (
    "q50_exact_dedup", "q52_minhash_signatures", "q53_lsh_candidate_pairs",
    "q56_quality_scores", "q58_knn_exact", "q62_simhash_bands",
    "q64_ann_hyperplane_lsh", "q65_winnowing_fingerprints",
    "q66_multimodal_features", "q67_dedup_components", "q76_trigram_lang_id",
    "q81_lsh_rescored_jaccard", "q82_bucket_cosine_pairs",
    "q84_training_set_select", "q86_stratified_sample", "q87_bm25_topk",
    "q89_token_chunks", "q90_bigram_pmi", "q93_kmeans_assign",
    "q94_curation_pipeline", "q95_pack_sequences", "q96_decontamination",
    "q99_pii_scrub", "q100_global_shuffle", "q102_tfidf_terms",
    "q104_source_quota", "q120_ticket_weighted_sample",
    "q91_cluster_representative", "q97_incremental_dedup",
    "q127_prefix_filter_join", "q128_sorted_neighborhood",
    "q179_hybrid_retrieval_rrf", "q182_lm_likelihood_filter",
    "q183_bloom_incremental_dedup", "q184_recursive_hierarchy",
    "q185_variant_shredding", "q186_simpson_diversity",
    "q187_stratified_split", "q188_countmin_frequency",
    "q190_containment_join", "q191_kmv_distinct", "q192_arrow_knn",
    "q199_bpe_merges", "q204_semantic_dedup_clusters", "q205_phash_near_dup",
    "q206_record_linkage", "q207_fs_em_weights", "q208_fs_trained_classify",
    "q209_dct_phash_near_dup", "q210_bpe_tokenize", "q211_jaro_winkler",
    "q212_kmeans_train", "q213_smoothed_lm_filter", "q214_er_entities",
    "q215_golden_records", "q216_soundex_blocking", "q217_corpus_mixer",
    "q224_perceptron_quality", "q225_dsir_importance",
    "q226_source_quality_lcb", "q227_incremental_lsh_pairs",
    "q228_repetition_profile", "q229_embedding_drift",
    "q230_length_drift_chi2", "q220_dim_truncation_recall",
    "q221_funnel_ablation", "q222_dedup_threshold_sweep",
    "q223_tokenizer_fertility", "q231_perplexity_buckets",
    "q232_source_vocab_overlap", "q233_tfidf_keywords",
    "q234_zipf_head_profile", "q235_bigram_novelty",
    "q236_cluster_size_histogram", "q238_capped_lsh_recall",
)

#: ``bench.py`` HEADLINE order, as frozen: OLAP and curation interleaved.
HEADLINE_ORDER = (
    "q01_pricing_summary", "q02_topk_orders", "q04_join_inner",
    "q10_broadcast_star", "q11_range_join", "q12_multi_agg", "q18_window_rank",
    "q20_window_frames", "q30_json_funcs", "q39_salted_agg",
    "q40_consensus_winner", "q44_consensus_decision", "q50_exact_dedup",
    "q52_minhash_signatures", "q53_lsh_candidate_pairs", "q56_quality_scores",
    "q58_knn_exact", "q62_simhash_bands", "q64_ann_hyperplane_lsh",
    "q65_winnowing_fingerprints", "q66_multimodal_features",
    "q67_dedup_components", "q69_returned_items", "q70_tumbling",
    "q72_sessionize", "q74_asof_join", "q76_trigram_lang_id",
    "q81_lsh_rescored_jaccard", "q82_bucket_cosine_pairs",
    "q84_training_set_select", "q86_stratified_sample", "q87_bm25_topk",
    "q89_token_chunks", "q90_bigram_pmi", "q93_kmeans_assign",
    "q94_curation_pipeline", "q95_pack_sequences", "q96_decontamination",
    "q99_pii_scrub", "q100_global_shuffle", "q102_tfidf_terms",
    "q103_first_seen_dedup", "q104_source_quota", "q108_funnel",
    "q110_gap_fill", "q111_peak_concurrency", "q112_quality_audit",
    "q115_zscore_outliers", "q116_ohlc_bars", "q119_segment_correlation",
    "q120_ticket_weighted_sample", "q121_bucketed_join", "q124_path_trigrams",
    "q91_cluster_representative", "q97_incremental_dedup",
    "q127_prefix_filter_join", "q128_sorted_neighborhood",
    "q156_shipping_priority", "q159_suppliers_kept_waiting",
    "q168_cheapest_supplier", "q165_large_orders", "q176_affinity_lift",
    "q179_hybrid_retrieval_rrf", "q182_lm_likelihood_filter",
    "q183_bloom_incremental_dedup", "q184_recursive_hierarchy",
    "q185_variant_shredding", "q186_simpson_diversity",
    "q187_stratified_split", "q188_countmin_frequency",
    "q190_containment_join", "q191_kmv_distinct", "q192_arrow_knn",
    "q193_ols_trend", "q194_inclusion_profile", "q196_collated_grouping",
    "q197_lateral_topk", "q198_pipe_syntax", "q199_bpe_merges",
    "q200_aqp_estimates", "q202_quantile_merge_order",
    "q204_semantic_dedup_clusters", "q205_phash_near_dup",
    "q206_record_linkage", "q207_fs_em_weights", "q208_fs_trained_classify",
    "q209_dct_phash_near_dup", "q210_bpe_tokenize", "q211_jaro_winkler",
    "q212_kmeans_train", "q213_smoothed_lm_filter", "q214_er_entities",
    "q215_golden_records", "q216_soundex_blocking", "q217_corpus_mixer",
    "q224_perceptron_quality", "q225_dsir_importance",
    "q226_source_quality_lcb", "q227_incremental_lsh_pairs",
    "q228_repetition_profile", "q229_embedding_drift",
    "q230_length_drift_chi2", "q220_dim_truncation_recall",
    "q221_funnel_ablation", "q222_dedup_threshold_sweep",
    "q223_tokenizer_fertility", "q231_perplexity_buckets",
    "q232_source_vocab_overlap", "q233_tfidf_keywords",
    "q234_zipf_head_profile", "q235_bigram_novelty",
    "q236_cluster_size_histogram", "q238_capped_lsh_recall",
)

#: The timed sample: every eighth headline query from the seventh.
WORKLOAD_QUERIES = HEADLINE_ORDER[6::8]
#: Run once, untimed, before the first pass: a headline query outside
#: the sample, so first-use costs do not land on whichever sampled
#: query the seed puts first.
WARMUP_QUERY = HEADLINE_ORDER[1]

HERE = Path(__file__).resolve().parent
DATA_DIR = HERE / "data" / "sf0.1"
ORACLE_FILE = HERE / "oracle_hashes.json"


def fingerprint_exprs(df: DataFrame) -> list[Column]:
    """Aggregates over the result rows: count and the sum of an xxhash64
    of each row rendered as text (columns sorted by name, map entries
    sorted), so the value ignores row and column order."""
    parts = []
    for field in sorted(df.schema.fields, key=lambda f: f.name):
        col = F.col(f"`{field.name}`")
        if isinstance(field.dataType, T.MapType):
            col = F.array_sort(F.map_entries(col))
        parts.append(F.coalesce(col.cast("string"), F.lit("␀")))
    row_hash = F.xxhash64(F.concat_ws("␟", *parts))
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(row_hash.cast("decimal(38,0)")), F.lit(0)).alias("hash"),
    ]


def fingerprint(observed: dict) -> dict:
    return {"rows": int(observed["rows"]), "hash": str(observed["hash"])}


def load_expected() -> dict[str, dict]:
    return json.loads(ORACLE_FILE.read_text(encoding="utf-8"))["queries"]


def check(name: str, got: dict, expected: dict[str, dict]) -> str | None:
    """``None`` when the fingerprint matches a DuckDB-verified result,
    otherwise why not."""
    want = expected.get(name)
    if want is None:
        return "no recorded oracle fingerprint"
    if not want["oracle_agrees"]:
        return "recorded Spark result disagrees with the DuckDB oracle"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if not want.get("rows_only") and got["hash"] != want["hash"]:
        return f"fingerprint {got['hash']} != {want['hash']}"
    return None
