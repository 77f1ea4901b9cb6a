"""Regenerate docs/PLANS.md: the physical-plan evidence for the
engine's scale claims — pushdown, pruning, broadcast vs sort-merge,
Exchange counts, codegen coverage — captured from live plans.

Run after changing any headline query:
    python scripts/gen_plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from etl_jobs_spark import registry  # noqa: E402
from etl_jobs_spark.session import get_spark  # noqa: E402

#: query -> the claim its plan must show
AUDIT = {
    "q1_pricing_summary": "pushed-down filter + pruned scan + partial/final hash agg",
    "join_star_revenue": "small dims broadcast (no fact-side shuffle for the joins)",
    "topk_orders": "global top-k compiles to TakeOrderedAndProject (no full sort)",
    "join_bucketed_colocated": "bucketed SMJ: the ONLY Exchange is the final agg's",
    "join_salted_skew": "join key carries the salt (hot keys spread over partitions)",
    "scan_partition_pruned": "PartitionFilters prune before row data is read",
    "scan_incremental_watermark": "watermark literal pushed to the parquet scan",
    "embed_ivf_topk": "probe reads only n_probe cells (PartitionFilters on cell)",
    "dedup_minhash_lsh": "band-hash equi-join (no cross join anywhere)",
    "agg_grouping_sets": "one Expand pass serves three grouping sets",
    "decontam_ngram_overlap": "eval gram set broadcasts (train side never re-shuffles on text)",
    "mix_rebalance_sources": "quota table broadcasts; ONE keyed window over the corpus",
    "cdc_apply_changelog": "latest-wins window and full-outer apply share one key partitioning",
    "dq_referential_orphans": "dim key broadcasts into the anti-joins (no fact-side shuffle)",
    "q6_forecast_revenue": "whole predicate reaches the scan; no join, no sort",
    "q3_shipping_priority": "dims broadcast; top-10 is TakeOrderedAndProject",
    "q5_local_supplier_volume": "six-way join, all dims broadcast, no SortMergeJoin",
    "q10_returned_items": "broadcast dims + TakeOrderedAndProject top-20",
    "approx_distinct_kmv": "k smallest hashes via TakeOrderedAndProject (no global sort)",
    "agg_mode_value_bucket": "mode = hash agg to (group,bucket) + window on the tiny count table",
    "join_asof_forward": "one shuffle: union+window carries the next right row backward in ts order",
    "dedup_ngram_containment": "shared-gram equi-join; no CartesianProduct anywhere",
    "dedup_semantic_keep_best": "cell-blocked pair join + one keyed window; canonical corpus persisted (20 InMemoryTableScan consumers — the Exchange count re-prints the cached subtree per branch, it executes once)",
    "dedup_incremental_new_docs": "one LEFT ANTI join on 16-byte fingerprints",
    "join_dim_snapshot_asof": "PIT-vs-SCD2 as one shuffle + keyed window (no interval inequality join)",
    "snapshot_diff_audit": "full-outer on key; row content crosses as 16-byte hashes",
    "join_range_autobucket": "range join as bucket equi-join: no nested-loop, no cartesian",
    "join_bloom_prefilter": "bloom probe filters the fact scan BEFORE the broadcast semi join",
    "join_dpp_pruned": "DynamicPruningExpression on the fact scan fed by the dim filter",
    "q2_min_cost_supplier": "part filter semi-joins the fact side BEFORE the argmin aggregation",
    "agg_count_min_sketch": "sketch build is one hash agg to 3x1024 cells; probes broadcast",
    "dedup_incremental_bloom": "bloom-negative rows bypass the anti join entirely",
    "fn_lambda_suite": "all five lambda metrics in ONE map-only projection (no explode)",
    "ts_ewma_hourly": "16 unrolled lags share a single window sort/frame",
    "join_asof_tolerance": "tolerance is a projection over the as-of kernel; purchase ids canonicalize in one keyed window (axis 8)",
    "quality_filter_top_half": "score carried through the projection (no rejoin-by-id); ONE keyed ntile window",
    # round 6
    "basket_brand_affinity": "pairs blocked on the order key; marginals broadcast back onto the pair table",
    "ts_interval_coverage": "sweep-line as one user-partitioned window family; no self-join, no iteration",
    "agg_gini_revenue": "segment dim broadcasts; rank window + both aggs share the segment partitioning",
    "governance_erasure_cascade": "the ~1% erasure cohort broadcasts into every per-table semi join",
    "mv_incremental_refresh": "refresh aggregates ONLY the delta and merges partial states with the stored MV",
    "path_top_sequences": "rn<=3 prunes per user before the path fold; top-20 is TakeOrderedAndProject",
    "scan_text_logparse": "regex field extraction fused into the text scan projection (map-only to the census)",
    "ts_rolling_median_hourly": "bounded 5-row frame: one window sort per type, O(1) state per row",
    "join_null_safe": "null-safe key hashes like any value: plan identical to the plain equi-join",
    "q4_priority_exists": "correlated EXISTS compiles to LEFT SEMI with the date residual (one shuffle)",
    "q18_large_orders": "HAVING cuts before any join; customer broadcasts; top-100 is TakeOrderedAndProject",
    "attr_linear_touch": "touch join + per-purchase count share one user/purchase partitioning family",
    "agg_pareto_share": "rank + count windows share one segment partition sort; cutoff is integer",
    "join_lateral_topn": "LATERAL decorrelates to a rank window — no per-row subquery execution",
    "window_share_of_total": "fact agg is the only big shuffle; share+rank windows share the region partition",
    "stat_chi_square_independence": "one fact aggregation to r x c cells; marginals are windows over 25 rows",
    "agg_bitmap_rollup_weekly": "weekly uniques from stored daily bitmaps via bitmap_or_agg, no raw re-scan",
    "graph_triangle_count": "census = two equi-joins attaching the memoized out-adjacency to each oriented edge + map-side array_intersect (no wedge materialization); Exchange count is inflated by the cached memo lineage explain repeats under each InMemoryTableScan",
    # round 7
    "dedup_substring_spans": "stop-gram window + ONE gram equi-join; diagonal chaining is one window family",
    "join_spatial_grid": "9-offset broadcast explode; the only big join is the cell-key equi-join",
    "geo_grid_density": "one cell-keyed agg; top-20 is TakeOrderedAndProject",
    "embed_kmeans_lloyd": "assignment is map-only broadcast literals; update is one (cid,dim) partial agg",
    "text_pii_redact": "ONE fused map-only regex projection, no Exchange at all",
    "text_bpe_apply_learned": "learned merges ride as literals in a fused map-only replace chain",
    "decontam_substring_hits": "eval/train split is a predicate on the span table, not a second join",
    "agg_hll_custom_deterministic": "ONE map-side-combinable (type,bucket) max-agg; registers grid-complete",
    "dq_order_lineitem_reconcile": "one orderkey rollup + one join; LEFT keeps headless orders",
    "governance_access_report": "cohort broadcasts into LEFT SEMI filters; facts aggregate once by subject",
    "fn_collation_suite": "collation-aware hash join against a 5-row broadcast dim",
    "recursive_cte_hierarchy": "closed-form walk: posexplode of each key's DIV-3 chain, one null-safe join, one per-leaf window; no UnionLoop",
    "agg_weighted_median": "one sort-window per group; crossing row via integer cumulative compare",
    "agg_funnel_time_bound": "two user-keyed stages share one shuffle family",
    "embed_sq8_topk": "broadcast probe set; codes computed map-side (no UDF); integer-dot scan stays codegen",
    "embed_binary_hamming_topk": "16 B/vector packed scan; Hamming shortlist then exact rerank on the shortlist only",
    "graph_link_prediction_cn": "seeds broadcast into the 2-hop equi-join; degree map broadcast twice",
    "window_sliding_distinct_users": "offset-explode of the DEDUPED (user,hour) table; combinable rollup",
    "agg_time_decay_topk": "1-row watermark broadcast; top-k compiles to TakeOrderedAndProject",
    "dedup_gram_novelty_by_source": "gram hash keys (16 B) cross the shuffle, never text",
    "pipeline_rag_retrieval_end_to_end": "quality keep-set as LEFT SEMI on the candidate side only",
}

INTERESTING = re.compile(
    r"PushedFilters: \[[^\]]*[A-Za-z][^\]]*\]|PartitionFilters: \[[^\]]*[A-Za-z][^\]]*\]"
    r"|BroadcastHashJoin [^\n]*|SortMergeJoin [^\n]*|BroadcastNestedLoopJoin"
    r"|TakeOrderedAndProject[^\n]*|Expand|CartesianProduct"
)



#: Decisions that close perf levers for good — appended verbatim to
#: PLANS.md so they survive regeneration and stop being re-chased.
RETIRED_LEVERS = [
    "## Retired levers (decision log)",
    "",
    "**novelty/decontam gram-table unification — RETIRED (round 10,"
    " VERDICT r9 item 4).** `dedup_gram_novelty_by_source` fingerprints"
    " CHARACTER 5-grams over the raw document text (sub-token novelty:"
    " it must see typo-level drift and formatting churn), while"
    " `decontam_ngram_overlap`'s `_doc_grams` table fingerprints WORD"
    " 3-grams over the normalized/tokenized corpus (benchmark-leak"
    " semantics: eval sets match on token sequences, not raw bytes)."
    " The two gram universes intersect only by coincidence — unifying"
    " them means either degrading decontamination to character grams"
    " (false positives on shared substrings across genuinely different"
    " token streams) or degrading novelty to word grams (blind to the"
    " intra-word edits it exists to count). That is a SEMANTIC change"
    " to two driver-green oracles, not a free shuffle saving; the only"
    " shareable piece (the per-doc tokenize) is already memoized"
    " session-wide. Decision: keep the tables separate; do not carry"
    " this as an open lever. (PERF_r09.md first documented the"
    " mismatch; this entry closes it.)",
    "",
]

def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    queries = registry.all_queries()
    out = [
        "# Physical-plan audit",
        "",
        f"Auto-generated by `scripts/gen_plan_audit.py` from live plans at"
        f" `{sf_dir}` — one section per headline query: the scale claim, then"
        " the plan lines that prove it (join strategies, pushed/partition"
        " filters, Exchange count, whole-stage-codegen coverage).",
        "",
    ]
    for name, claim in AUDIT.items():
        df = queries[name](spark, sf_dir)
        # plan SHAPE (exchanges, joins, filters) from the pre-execution
        # plan — the adaptive final tree re-prints each shuffle as a
        # query stage, inflating naive Exchange counts
        plan = df._jdf.queryExecution().executedPlan().toString()
        exchanges = len(re.findall(r"Exchange \w+", plan))
        # codegen marks ("*(n) Op") only appear once AQE finalizes
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        wsc = len(set(re.findall(r"\*\((\d+)\)", final)))
        hits = []
        seen = set()
        for m in INTERESTING.finditer(plan):
            line = re.sub(r"#\d+L?", "", m.group(0))[:150]
            if line not in seen:
                seen.add(line)
                hits.append(line)
        out += [
            f"## {name}",
            "",
            f"**Claim:** {claim}",
            "",
            f"- shuffles (Exchange): {exchanges}; whole-stage-codegen spans: {wsc}",
        ]
        out += [f"- `{h}`" for h in hits[:8]]
        out.append("")
    out += RETIRED_LEVERS
    (REPO / "docs" / "PLANS.md").write_text("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(AUDIT)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
