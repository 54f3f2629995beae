"""Driver contract for the spark-graft builder (PySpark target).

``entry``     — flagship extraction pipeline on sf0.001 (pages derived
                deterministically from the documents table).
``queries``   — every gate of ``GATES``, in order; each callable
                takes (spark, sf_dir) and returns a DataFrame.
``oracle_sql``— matching ANSI SQL for DuckDB on the same parquet views.
                Extraction-pipeline entries are rows-only (DuckDB cannot
                parse HTML); their byte-identity gate is the pytest
                golden suite (tests/test_local_golden.py,
                tests/test_spark_pipeline.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from gates import (ROWS_ONLY, dedup, events, extract, graph,  # noqa: E402
                   models, relational, sampling, similarity, sketch, text,
                   web)

SF_DEFAULT = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline at sf0.001."""
    return extract.extract_compose(spark, SF_DEFAULT)


# ORDER MATTERS: the driver's CORRECTNESS capture stamps only the FIRST
# 50 entries per round.  Rounds 1-4 re-verified the same q01-q24/dedup/
# sample prefix, leaving 49 oracled queries with no driver-green row ever
# (VERDICT r4 "Next round" item 1, plus the round-5 additions).  Round 5
# leads with one sentinel (extract_compose = byte-identity canary for the
# north rule), then all 49 never-captured entries — exactly filling the
# driver's 50-row window.  q01 (relational canary, driver-green in every
# prior round) moves to slot 51; it and the remaining entries stay
# covered by the local sf0.01 rehearsal + tests/test_oracle_parity.py.
GATES = (
    # -- sentinel (byte-identity canary, driver-green in every round) ---
    extract.extract_compose,
    # -- never driver-verified before round 5 (38 oracled + bpe_encode) --
    web.host_quality,
    web.url_blocklist,
    graph.graph_degrees,
    graph.graph_pagerank,
    graph.graph_html_links,
    graph.graph_html_pagerank,
    graph.graph_html_anchors,
    graph.graph_anchor_topk,
    graph.graph_host_edges,
    graph.graph_host_pagerank,
    web.html_metadata,
    web.robots_allowed,
    web.robots_sitemap_urls,
    sketch.sketch_kmv_distinct,
    sketch.sketch_countmin,
    sketch.sketch_bloom,
    sketch.sketch_hist_quantile,
    text.text_phrases,
    similarity.dedup_semantic,
    similarity.dedup_semantic_keep,
    similarity.dedup_embedding_contamination,
    similarity.ann_pq_topk,
    similarity.ann_ivfpq_topk,
    text.text_sentences,
    text.text_readability,
    text.text_hash_embedding,
    models.text_bpe_pretokens,
    models.text_bpe_encode,
    text.text_chunks,
    models.text_bm25_topk,
    models.text_lm_quality,
    models.text_lm_buckets,
    models.text_classifier_score,
    models.text_classifier_keep,
    models.text_dsir_score,
    text.text_clean_lines,
    text.text_pii_scrub,
    similarity.multimodal_near_dup,
    extract.lines_confidence_checked,
    # -- round-5 additions (slots 41..50 of the driver window) ----------
    events.events_asof_join,
    events.events_sessionize,
    events.events_rollup,
    events.events_funnel,
    events.events_retention,
    text.text_tfidf_topk,
    sketch.sketch_heavy_hitters,
    sampling.sample_reservoir,
    graph.graph_hits,
    events.events_asof_forward,
    # -- previously driver-verified (r1-r4 green rows on file) ----------
    relational.q01_pricing_summary,
    relational.q02_topk_orders,
    relational.q03_region_revenue,
    relational.q04_anti_join,
    relational.q05_semi_join,
    relational.q06_window_adjacency,
    relational.q07_running_containment,
    relational.q08_group_percentiles,
    relational.q09_ordered_assembly,
    relational.q10_interval_overlap,
    relational.q11_rollup,
    relational.q12_week_buckets,
    relational.q13_set_except,
    relational.q14_exploded_tokens,
    relational.q15_cube,
    relational.q16_topk_per_group,
    relational.q17_harmonize,
    relational.q18_date_arithmetic,
    relational.q19_union_intersect,
    relational.q20_salted_groupby,
    relational.q21_correlated_subquery,
    relational.q22_distinct_counts,
    relational.q23_json_extract,
    relational.q24_top_supplier_per_nation,
    dedup.dedup_exact,
    dedup.dedup_exact_normalized,
    dedup.dedup_ngram_jaccard,
    dedup.dedup_minhash_lsh,
    dedup.dedup_incremental,
    dedup.dedup_incremental_exact,
    dedup.dedup_components,
    dedup.dedup_simhash,
    dedup.dedup_simhash_keep,
    dedup.dedup_substring_keep,
    dedup.dedup_substring,
    dedup.dedup_span_removal,
    text.dedup_paragraphs,
    dedup.dedup_contamination,
    sampling.sample_hash,
    sampling.sample_split,
    sampling.sample_stratified,
    sampling.sample_upsample,
    sampling.sample_token_budget,
    sampling.sample_token_budget_global,
    sampling.sample_pack_sequences,
    sampling.sample_shuffle,
    sampling.sample_interleave,
    models.sample_dsir_topk,
    models.sample_dsir_gumbel,
    web.host_stats,
    web.host_cap,
    similarity.dedup_embedding,
    similarity.dedup_embedding_lsh,
    similarity.ann_cosine_topk,
    similarity.ann_lsh_topk,
    similarity.ann_ivf_topk,
    text.text_token_stats,
    text.text_quality,
    text.text_langid,
    text.text_fingerprint,
    text.text_url_canonical,
    text.text_repetition,
    text.text_gopher_gate,
    similarity.multimodal_payload,
    sketch.sketch_kmv_merge,
    similarity.sample_cluster_balanced,
    sketch.sketch_kmv_jaccard,
    extract.extract_blocks,
    extract.lines_confidence,
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {g.__name__: g for g in GATES}


def oracle_sql() -> dict[str, str]:
    return {g.__name__: g.oracle for g in GATES if g.oracle is not ROWS_ONLY}
