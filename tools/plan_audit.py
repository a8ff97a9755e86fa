"""Plan audit: compile every registered query at a small SF and flag
physical-plan red flags for 100 TB readiness — cartesian products,
broadcast-nested-loop joins, and exchange counts.

A BroadcastNestedLoopJoin is only acceptable when the build side is
BOUNDED BY CONSTRUCTION (a 1-row bounds/max aggregate, a domain-bounded
calendar grid) — those sites are allowlisted here WITH their
justification so the audit output documents the reasoning instead of
hiding it. Anything not allowlisted fails the audit.

Usage: python tools/plan_audit.py [sf_dir] — writes one JSON line and
exits non-zero on unexpected plan shapes.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.session import get_spark

# query -> why a nested-loop/cross against a bounded side is fine there
BOUNDED_BNLJ_OK = {
    # BM25: corpus N/avgdl ride a 1-row broadcast onto the idf and
    # contribution stages (functions/text.py:bm25_topk)
    "doc_bm25_topk": "1-row corpus-stats (N, avgdl) broadcast",
    "doc_bm25_topk_inverted": (
        "1-row corpus-stats (N, avgdl) broadcast — once onto the "
        "term-idf table, once onto the scoring branch"
    ),
    # temperature mixing: the weight normalizer is a 1-row sum
    # broadcast onto the |sources|-row table
    "source_temperature_mix": "1-row weight-normalizer broadcast",
    # NB classifier: class totals + vocab size ride a 1-row broadcast
    # onto the per-term model (functions/text.py:nb_class_log_odds)
    "doc_nb_quality_score": "1-row class-totals (Nt, No, V) broadcast",
    # DSIR: bucket totals ride a 1-row broadcast onto the dim-row
    # model (operators/sampling.py:importance_resample)
    "doc_importance_resample": "1-row bucket-totals (Nt, Nr) broadcast",
    # curation funnel: embeds the NB classifier, whose class totals
    # are a 1-row broadcast (functions/text.py:curation_funnel)
    "doc_curation_funnel": "1-row class-totals (Nt, No, V) broadcast",
    # star builds: ordered_surrogate_key's bucket math joins a 1-row
    # min/max aggregate of the ordering key (operators/keys.py:98,139)
    "event_raw": "1-row min/max bounds for surrogate-key buckets",
    "dim_event": "1-row min/max bounds for surrogate-key buckets",
    "dim_user": "1-row min/max bounds for surrogate-key buckets",
    "dim_parameter": "1-row min/max bounds for surrogate-key buckets",
    "dim_item": "1-row min/max bounds for surrogate-key buckets",
    "fact_events": "1-row min/max bounds for surrogate-key buckets",
    "kpi_most_viewed_item_latest_period": "1-row MAX(period) scalar subquery",
    "kpi_top_items_view_share": "1-row MAX(period) scalar subquery",
    "high_value_order_customers": "1-row AVG(price) scalar subquery",
    # operators/quality.py ref-constraint: two 1-row aggregates (total
    # row count x orphan count) crossed into the summary row
    "order_quality_checks": "1-row total x 1-row orphan-count scalars",
    # operators/bloom.py: the bitmap rides as broadcast DATA (a 1-row
    # array column crossed onto the probe) instead of a plan literal —
    # codegen cost must not grow with filter size
    "bloom_semi_revenue": "1-row broadcast bloom-bitmap cross join",
    # operators/sketches.py:hll_pairwise_overlap — the pair grid is a
    # G×G cross of the DISTINCT group values (G = event types here),
    # bounded by group cardinality, never by data size
    "hll_user_overlap_by_type": "G x G group-pair grid over distinct groups",
    # functions/text.source_unigram_divergence — same pattern: the
    # pair grid crosses the per-source TOTALS frame with itself,
    # bounded by source cardinality, never by corpus size
    "source_unigram_divergence": "S x S source-pair grid over totals",
    # operators/sketches.kmv_source_overlap — the S×S grid crosses the
    # distinct-source frame with itself; everything downstream touches
    # only ≤ k-row-per-source sketch rows
    "kmv_source_overlap": "S x S source-pair grid over sketch sources",
    # sketches.histogram_percentile_rank — the register build and the
    # row re-binning each cross the 1-row global min/max bounds
    # aggregate onto their scan (same class as the quantile sketches)
    "doc_quality_percentile": "1-row min/max global-bin-edge bounds",
    # similarity.pq_topk — the ADC scan crosses the code stream with
    # the broadcast query-LUT set (small by contract, like every
    # query-set broadcast in the similarity family)
    "embedding_topk_pq": "broadcast query-LUT cross join (ADC scan)",
    "order_priority_daily_gapfill": (
        "domain-bounded calendar grid (|priorities| x |days|)"
    ),
    "order_price_quantile_sketch": "1-row min/max/count bounds aggregate",
    # histogram_registers shares bin edges via the same 1-row bounds
    # broadcast (global edges are what make the registers mergeable)
    "quantile_sketch_merge_rollup": "1-row min/max global-bin-edge bounds",
    "rolling_weekly_revenue": "1-row bounds for the day spine",
    "doc_pack_sequences": "1-row min/max bounds for bucket math",
    "csv_ingest_rollup": "1-row corpus-stats aggregate",
    # plans/behavior.rfm_segments — three chained ordered_surrogate_key
    # ranks, each crossing its 1-row min/max bounds aggregate
    "rfm_segments": "1-row min/max bounds for surrogate-key buckets",
    # plans/behavior.frequent_item_pairs — the support denominator is a
    # 1-row COUNT(DISTINCT orderkey) aggregate crossed onto the pairs
    "frequent_item_pairs": "1-row order-count scalar for support",
    # operators/heavyhitters — the exact-recount ratio crosses the
    # 1-row corpus-total aggregate onto the candidate counts
    "heavy_hitter_lines": "1-row corpus-total scalar for the ratio",
    # hotspots: the default-on gram cap reports its corpus-wide
    # truncation count as a 1-row broadcast onto the top-k report
    # (operators/dedup.py:shared_gram_hotspots)
    "dup_span_hotspots": "1-row n_docs_truncated cap-observability scalar",
    # plans/behavior.session_path_mining — session share crosses the
    # 1-row session-count total onto the per-path counts
    "session_path_mining": "1-row session-total scalar for share",
    # operators/stats.ks_two_sample — the band grid and sample sizes
    # ride as one broadcast 1-row min/max/count aggregate
    "segment_price_ks": "1-row min/max/count bounds for ECDF bands",
    # operators/graph.triangle_count — edge/triangle 1-row census
    # scalars crossed into the single summary row
    "coview_triangles": "1-row census scalars crossed into summary",
    # operators/sketches.cms_join_size_estimate — the 1-row estimate
    # crossed onto the 1-row exact count
    "join_size_estimate": "1-row estimate x 1-row exact-count scalars",
    # operators/quality.table_column_profile — per column, the 1-row
    # mode pick broadcast onto the 1-row stats rollup
    "events_column_profile": "per-column 1-row mode x stats scalars",
    # plans/behavior.revenue_gini — ordered_surrogate_key's 1-row
    # min/max bounds for its rank buckets
    "revenue_gini": "1-row min/max bounds for surrogate-key buckets",
    "numeric_column_profile": "1-row multi-column stats, stack unpivot",
    "embedding_topk_lsh": "band-bucket join; query side tiny + broadcast",
    "tfidf_top_terms": "1-row corpus-size (N) scalar for the idf term",
    # functions/text.py:unigram_surprisal — the same 1-row N scalar,
    # broadcast onto the vocabulary for the per-term -ln(tf/N)
    "doc_unigram_surprisal": (
        "1-row total-token (N) scalar for the per-term surprisal"
    ),
    # corpus shuffle reuses ordered_surrogate_key (same 1-row bounds)
    "corpus_shuffle_order": "1-row min/max bounds for surrogate-key buckets",
    # r11 capstone: embeds pack_sequences (1-row min/max bounds for
    # its bucket math — the doc_pack_sequences justification)
    "multimodal_curation_funnel": (
        "1-row min/max bounds for pack_sequences bucket math"
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_audit")
    report: dict[str, dict] = {}
    unexpected: list[str] = []
    for name, fn in entrymod.queries().items():
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as exc:  # noqa: BLE001
            report[name] = {"error": str(exc)[:200]}
            unexpected.append(name)
            continue
        entry = {
            "exchanges": plan.count("Exchange"),
            "bnlj": plan.count("BroadcastNestedLoopJoin"),
            "cartesian": plan.count("CartesianProduct"),
            "broadcast_hash": plan.count("BroadcastHashJoin"),
            "sort_merge": plan.count("SortMergeJoin"),
        }
        if entry["cartesian"] or (
            entry["bnlj"] and name not in BOUNDED_BNLJ_OK
        ):
            unexpected.append(name)
        elif entry["bnlj"]:
            entry["bnlj_justification"] = BOUNDED_BNLJ_OK[name]
        report[name] = entry
    out = {
        "sf_dir": sf_dir,
        "n_queries": len(report),
        "unexpected": unexpected,
        "plans": report,
    }
    print(json.dumps(out))
    spark.stop()
    sys.exit(1 if unexpected else 0)


if __name__ == "__main__":
    main()
