"""Benchmark driver: times the frozen query census (``CENSUS``, 240
names) over the fixture tables in $SPARK_GRAFT_SF_DIR (default: the
sf0.1 fixtures) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line
on stdout.

Each query runs twice: pass 2 follows a clear and re-stage of the
shared staging memos, so both passes pay the same set-up. A query's
figure is the faster pass, timed end to end (plan + execute + count).
The warmup, the shared fixtures (``SHARED_FIXTURES``) and the Python
DataSource spin-up are set-up and run outside every timed span.

The Spark event log is on for the whole run, in a temp dir deleted
once parsed. After the session stops, ``perfbench.trace`` assigns each
job, stage and task to the query span it was submitted in; the bench
loop is sequential, so the attribution is exact. The kept pass of
every query records its measured layers: jobs, stages, tasks,
``driver_ms`` (wall time minus the union of its job intervals),
``task_cpu_ms``, shuffle, spill and Python-worker time. Writing the
log is not free: on the 30 heaviest queries (sf0.1, 4 cores) it added
4.6% wall time while task-end events repeated their task metrics as
accumulables. Without those, 3 on/off pairs on a noisy 4-vCPU host
gave medians of 61.0 s on and 61.2 s off, inside a 50.7-78.3 s spread.
Walls compare only between event-logged runs.

A full census run writes the whole record to docs/BENCH_FULL_LATEST.json
(sf0.1; ``BENCH_FULL_<sf dir>.json`` at other scales) and appends it to
docs/bench_history.jsonl. It compares against the latest history record
with the same sf, the same cpus and another tag, over the queries both
ran: one raw wall-time ratio and one task-CPU ratio. Records at another
core count are never a basis: on one 4-vCPU host, 32 local cores
instead of 4 cost x1.95 task CPU and x1.57 wall time on the same
queries.

The stdout line carries metric, value (total seconds), unit, cpus, sf,
the FLAGSHIP subset's per-query seconds and the ratios. The caller keeps
only the last 2,000 bytes of stdout, so the line must stay under 1,600.

Environment:
  SPARK_GRAFT_SF_DIR      fixture directory
  SPARK_GRAFT_CPUS        local cores (default: the cores this process
                          may run on)
  SPARK_GRAFT_BENCH_ONLY  comma-separated census names to time; such a
                          run writes no record, and a name outside the
                          census exits 1
  SPARK_GRAFT_BENCH_TAG   the record's tag (default r15)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from etl_jobs_spark import cache, registry
from etl_jobs_spark.queries import analytics_ext as AQ
from etl_jobs_spark.queries import dedup as DQ
from etl_jobs_spark.queries import graph_analytics as GQ
from etl_jobs_spark.queries import multimodal as MMQ
from etl_jobs_spark.queries import similarity as SIMQ
from etl_jobs_spark.queries import streaming as SQ
from etl_jobs_spark.queries import text_analysis as TXQ
from etl_jobs_spark.session import get_spark
from perfbench.trace import Tracer, attribute, parse_event_logs, spark_layer_metrics

DOCS = Path(__file__).resolve().parent / "docs"
METRIC = "headline_queries_total_sec"

#: The benched queries, in run order. Frozen: cross-round ratios are
#: over common subsets, so a new registered query does not join the
#: census by its name alone.
CENSUS = """
q1_pricing_summary join_star_revenue agg_events_by_type window_rank_events
topk_orders join_asof_events agg_rollup_time agg_pivot_events
scan_partition_pruned multimodal_decode_features doc_shard_assign
sample_stratified pack_sequences quality_filter_top_half agg_user_gap_stats
fuzzy_pairs_names ts_resample_interpolate merge_upsert_customers
agg_unpivot_metrics scd2_history agg_retention_cohorts agg_funnel_steps
q6_forecast_revenue q3_shipping_priority q5_local_supplier_volume
q10_returned_items approx_distinct_kmv agg_mode_value_bucket
join_asof_forward join_range_autobucket join_dim_snapshot_asof
snapshot_diff_audit scan_with_lineage decontam_ngram_overlap
mix_temperature_weights corpus_token_budget pipeline_llm_corpus_end_to_end
text_repetition_signals mix_rebalance_sources cdc_apply_changelog
zorder_layout_stats graph_pagerank_transitions dq_k_anonymity
multimodal_decode_png_bmp multimodal_decode_wav multimodal_resize_nearest
pipeline_media_curation udtf_arrow_shingles agg_kmv_intersect_types
join_asof_nearest mix_epoch_plan sink_custom_ledger dq_expectations_suite
join_interval_overlap q14_promo_effect join_bloom_prefilter join_dpp_pruned
q2_min_cost_supplier agg_count_min_sketch ts_anomaly_mad
governance_column_masking maintenance_compact_report multimodal_decode_gif
sink_custom_ledger_stream basket_brand_affinity path_top_sequences
graph_triangle_count ts_interval_coverage ts_autocorr_lag1
ts_ols_daily_trend ts_rolling_median_hourly agg_gini_revenue
mv_incremental_refresh maintenance_vacuum_report governance_erasure_cascade
dq_l_diversity ann_recall_eval curriculum_phase_plan
sample_weighted_bernoulli scan_text_logparse join_null_safe
setop_multiset_all fn_bitwise_suite multimodal_audio_downsample
q4_priority_exists q12_priority_by_flag q18_large_orders attr_linear_touch
agg_pareto_share fn_map_suite scan_json_nested_explode scan_txn_log_snapshot
agg_time_to_convert stat_chi_square_independence stat_ab_test_zscore
dq_drift_psi multimodal_image_histogram ts_seasonal_profile fn_regex_suite
scd2_merge_apply join_lateral_topn fn_url_suite
corpus_quality_threshold_sweep ts_cusum_changepoint dq_benford_first_digit
window_share_of_total fn_interval_suite pipeline_dq_quarantine_replay
agg_bitmap_rollup_weekly window_pct_change_mom agg_repeat_purchase_rate
join_spatial_grid geo_grid_density spatial_point_in_polygon
decontam_substring_hits agg_weighted_median sample_reservoir_per_key
ts_downsample_m4 ts_missing_buckets ts_stl_decompose_hourly
multimodal_audio_rms_energy q7_nation_volume q13_order_count_distribution
q15_top_supplier q17_small_quantity_revenue q21_suppliers_kept_waiting
q22_global_sales_opportunity fn_variant_suite agg_listagg_ordered
recursive_cte_hierarchy agg_hll_custom_deterministic
dq_order_lineitem_reconcile governance_access_report fn_collation_suite
multimodal_image_patches agg_funnel_time_bound pipeline_entity_resolution
dq_drift_ks agg_cohort_ltv ts_bollinger_breakouts feat_quantile_binning
feat_minmax_scale feat_target_encode feat_cross_hash stat_mann_whitney_u
pipeline_pit_training_set graph_bfs_hops ts_holt_level_trend
embed_pca_power_iter fn_try_suite sample_negative_pairs
multimodal_decode_jpeg q8_national_market_share q9_product_type_profit
q11_important_stock q16_supplier_part_count q19_discounted_revenue
q20_potential_promotion stat_kendall_tau stat_bootstrap_ci_mean
dedup_cluster_components dedup_cluster_size_hist dedup_cross_source_matrix
dedup_embed_cosine dedup_exact_text dedup_full_row
dedup_gram_novelty_by_source dedup_incremental_bloom
dedup_incremental_new_docs dedup_keep_canonical dedup_lsh_recall_eval
dedup_lsh_verified dedup_minhash_lsh dedup_ngram_containment
dedup_ngram_jaccard dedup_repeated_ngram_spans dedup_semantic_keep_best
dedup_simhash dedup_substring_coverage dedup_substring_drop_audit
dedup_substring_spans dedup_threshold_sensitivity embed_binary_hamming_topk
embed_cell_label_purity embed_centroid_drift embed_centroid_labels
embed_cosine_topk embed_dim_variance_topk embed_exact_dup_audit
embed_ivf_append_topk embed_ivf_topk embed_ivfpq_topk embed_kmeans_lloyd
embed_lsh_topk embed_matryoshka_topk embed_mmr_diversified_topk
embed_norm_stats embed_pq_topk embed_sq8_topk stream_dedup_exact
stream_interval_join stream_interval_join_full stream_interval_join_outer
stream_media_decode stream_merge_upsert stream_pii_redact
stream_session_windows stream_sink_jdbc stream_sliding_counts
stream_source_custom stream_stateful_pandas stream_static_join
stream_topk_types stream_tws_processor stream_udtf_fanout
stream_watermark_append stream_window_counts text_boilerplate_removal
text_bpe_apply_learned text_bpe_learn text_bpe_tokenize
text_collocation_lift text_fertility_by_lang text_fingerprint
text_hapax_ratio text_hashing_trick_features text_lang_id
text_langid_confusion_eval text_pii_redact text_pii_scrub
text_quality_classifier text_quality_score text_readability
text_simpson_diversity text_tfidf text_token_entropy text_token_stats
text_top_terms text_unigram_commonness text_zipf_slope
""".split()

#: The per-query names the stdout line carries: one per major engine
#: surface, few enough that the line fits the 2,000-byte tail capture.
FLAGSHIP = [
    "q1_pricing_summary",
    "join_star_revenue",
    "agg_events_by_type",
    "window_rank_events",
    "dedup_minhash_lsh",
    "embed_ivfpq_topk",
    "text_tfidf",
    "stream_window_counts",
    "multimodal_decode_features",
    "pipeline_llm_corpus_end_to_end",
    "pipeline_entity_resolution",
]


def _called(*builders, count: bool = False):
    def stage(spark, sf_dir: str) -> None:
        for build in builders:
            out = build(spark, sf_dir)
            if count:
                out.count()

    return stage


def _counted(*builders):
    return _called(*builders, count=True)


def _stage_streaming(spark, sf_dir: str) -> None:
    for fmt, n in [("parquet", 1), ("parquet", 2), ("csv", 4)]:
        SQ._stage(spark, sf_dir, fmt, n)


_STREAMING = ("stream", "sink", "source")

#: Shared memoized fixtures, one (label, query-name prefixes, stage)
#: group each. They are SETUP by policy, never part of a timed span:
#: each first consumer would otherwise pay the whole one-time build
#: (e.g. ~2.8s of the 5.4s join_dpp_pruned recorded in BENCH_r05 was
#: staging). ``prestage_shared`` stages the groups whose prefixes
#: start one of the query names it is given: the bench does so before
#: each pass (``cache.clear_staging_memos`` forgets every fixture in
#: between, so a fixture missing here is timed in both passes) and
#: scripts/scale_ladder.py before its runs. A group labelled None is staged without a timing line.
SHARED_FIXTURES = [
    # streaming fixture inputs: stream_* rows time the operators
    (None, _STREAMING, _stage_streaming),
    # the interval-join trio reads ONE shared full-outer drain
    # (VERDICT r8 item 4): each cell times its filter over it
    ("shared interval-join matrix drain", _STREAMING,
     _counted(SQ._interval_join_matrix)),
    # the custom-source queries' staged JSONL ledger
    (None, _STREAMING, _called(AQ.stage_jsonl)),
    # the partitioned events layout and the DPP dim fixture
    (None, ("scan", "join"),
     _called(AQ._staged_partitioned, AQ._dpp_dim_path)),
    # the MinHash pair memo shared by dedup_minhash_lsh,
    # dedup_cluster_components and dedup_lsh_recall_eval
    # (recorded in docs/PERF_r07.md)
    ("shared minhash pair memo", ("dedup", "decontam"),
     _counted(DQ._minhash_pairs)),
    # round-9 (VERDICT r8 item 6): the rest of the dedup memo set
    # (exact-gram truth side, LSH component labels, jaccard pairs)
    ("shared doc-gram + LSH-component + jaccard-pair memos",
     ("dedup", "decontam"),
     _counted(DQ._doc_grams, DQ._lsh_components, DQ._jaccard_pairs)),
    # round-7 shared artifacts: the substring span table and the
    # learned BPE merge table
    ("shared substring span memo", ("dedup", "decontam"),
     _counted(DQ._span_table)),
    ("shared BPE fit memo", ("text",), _called(TXQ._learn_merges)),
    # round-8/9 shared graph artifacts (VERDICT r7 item 4): edge
    # table, degree map, degree-oriented edges, out-adjacency
    ("shared graph memos", ("graph", "basket"), _counted(
        GQ._copurchase_edges, GQ._copurchase_degrees,
        GQ._copurchase_oriented, GQ._copurchase_out_adjacency,
    )),
    # round-9 ANN index memos (~10s index fit otherwise paid by
    # whichever embed_ query the sweep visits first)
    ("shared ANN index memos (IVF + IVF-PQ fit)", ("embed", "ann"),
     _called(
         SIMQ.ivf_index, SIMQ.pq_index_expr, SIMQ.ivfpq_index_expr,
         SIMQ.ivf_append_index,
     )),
    # the media fixture also entropy-encodes a baseline JPEG per
    # doc (round-8 codec), which the first decode consumer paid;
    # its GIF face is the same grids in a second container
    ("shared media fixture (PNG/BMP/JPEG/WAV/GIF encode)",
     ("multimodal", "pipeline"), _called(MMQ._stage_media, MMQ._stage_media_gif)),
]


def prestage_shared(
    spark, sf_dir: str, names: list[str] | None = None, narrate: bool = False
) -> None:
    """Stage the SHARED_FIXTURES groups: all of them, or with
    ``names`` only those whose prefixes match a name's first
    ``_``-separated word. ``narrate`` prints one timing line per
    labelled group to stderr."""
    words = None if names is None else {n.split("_")[0] for n in names}
    for label, prefixes, stage in SHARED_FIXTURES:
        if words is not None and words.isdisjoint(prefixes):
            continue
        t0 = time.perf_counter()
        stage(spark, sf_dir)
        if narrate and label:
            print(f"# {label}: {time.perf_counter() - t0:.3f}s", file=sys.stderr)


def host_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def select(only: str) -> list[str]:
    """The census, or the comma-separated census names in ``only`` in
    census order. Exits 1 naming every name not in the census."""
    keep = {s.strip() for s in only.split(",") if s.strip()}
    if not keep:
        return list(CENSUS)
    unknown = sorted(keep.difference(CENSUS))
    if unknown:
        print(f"not in the census: {', '.join(unknown)}", file=sys.stderr)
        sys.exit(1)
    return [n for n in CENSUS if n in keep]


def _set_up(spark, sf_dir: str, names: list[str]) -> None:
    # JVM, codegen and file caches
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    prestage_shared(spark, sf_dir, names, narrate=True)
    # the Python DataSource's worker pool and Arrow writer spin up once
    # per JVM (seconds): a 100-row ledger write+read here keeps that
    # out of the first sink_/source_ query's span
    from etl_jobs_spark.scratch import scratch_dir
    from etl_jobs_spark.sources import ledger_source

    ledger_source.register(spark)
    t0 = time.perf_counter()
    warm = str(scratch_dir("bench_ledger_warm"))
    spark.range(100).selectExpr(
        "id AS event_id", "id AS user_id",
        "'warm' AS event_type", "CAST(id AS DOUBLE) AS value",
    ).coalesce(1).write.format("event_ledger").option(
        "path", warm
    ).mode("append").save()
    spark.read.format("event_ledger").option("path", warm).load().count()
    print(
        f"# python-datasource cold spin-up: {time.perf_counter() - t0:.3f}s",
        file=sys.stderr,
    )


def _run_pass(spark, sf_dir, names, tracer, label: str, strict: bool) -> dict:
    """{name: (seconds, span)} for one pass over ``names``. A failing
    query raises when ``strict``, else is left out of the pass."""
    queries = registry.all_queries()
    out = {}
    for name in names:
        try:
            with tracer.span("query", name) as span:
                t0 = time.perf_counter()
                n = queries[name](spark, sf_dir).count()
                secs = round(time.perf_counter() - t0, 3)
        except Exception as e:
            if strict:
                raise
            print(f"# {label} {name}: FAILED ({e!r:.200})", file=sys.stderr)
            continue
        finally:
            # one query's persist must not leak into the next
            cache.release_all()
        out[name] = (secs, span)
        print(f"# {label} {name}: {secs:.3f}s ({n} rows)", file=sys.stderr)
    return out


def measure(sf_dir: str, cpus: int, names: list[str]) -> tuple[dict, dict, dict]:
    """Time ``names`` twice with the event log on. Returns pass-1
    seconds, kept (faster-pass) seconds and the kept pass's layers."""
    log_dir = Path(tempfile.mkdtemp(prefix="bench-eventlog-"))
    try:
        spark = get_spark(
            "etl_jobs_spark-bench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": log_dir.as_uri(),
                # task-end events then carry the task metrics once, not
                # again as internal accumulables; ``perfbench.trace``
                # reads the metrics block and the Python SQL accumulators
                "spark.eventLog.includeTaskMetricsAccumulators": "false",
                # stderr carries the per-query rows, not progress bars
                "spark.ui.showConsoleProgress": "false",
            },
        )
        tracer = Tracer(True)
        _set_up(spark, sf_dir, names)
        run1 = _run_pass(spark, sf_dir, names, tracer, "pass 1", strict=True)
        cache.clear_staging_memos()
        prestage_shared(spark, sf_dir, names)
        # a query failing only on its second run keeps its first
        run2 = _run_pass(spark, sf_dir, names, tracer, "pass 2", strict=False)
        spark.stop()
        jobs, stages, tasks = parse_event_logs(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    att = attribute(tracer.spans, jobs, stages, tasks)
    kept, layers = {}, {}
    for name in names:
        secs, span = min(run1[name], run2.get(name, run1[name]), key=lambda r: r[0])
        kept[name] = secs
        layers[name] = {
            k.split(".", 1)[1]: round(v)
            for k, v in spark_layer_metrics(tracer.spans, att, [span]).items()
        }
        print(
            f"# {name}: {secs:.3f}s jobs={layers[name]['jobs']} "
            f"driver_ms={layers[name]['driver_ms']} "
            f"task_cpu_ms={layers[name].get('task_cpu_ms', 0)}",
            file=sys.stderr,
        )
    return {n: run1[n][0] for n in names}, kept, layers


def record(rec: dict, sf_dir: str) -> None:
    """Write a full census record and append it to the history. Only
    the driver-scale (sf0.1) run is canonical; another sf writes beside
    it."""
    sf_name = Path(sf_dir).name
    name = "BENCH_FULL_LATEST.json" if sf_name == "sf0.1" else f"BENCH_FULL_{sf_name}.json"
    (DOCS / name).write_text(json.dumps(rec, indent=1) + "\n")
    with (DOCS / "bench_history.jsonl").open("a") as f:
        f.write(json.dumps(rec) + "\n")


def compare(cur: dict, history: list[dict]) -> dict:
    """``cur`` over the latest ``history`` record with the same sf, the
    same cpus and another tag, summed over the queries both ran: raw
    wall seconds, and task CPU when both records carry layers."""
    out = {
        "ratio_vs_prev_raw": None,
        "ratio_vs_prev_task_cpu": None,
        "ratio_prev_tag": None,
        "ratio_n_common": 0,
    }
    prior = [
        r
        for r in history
        if r.get("sf") == cur["sf"]
        and r.get("cpus") == cur["cpus"]
        and r.get("tag") != cur["tag"]
        and r.get("queries")
    ]
    if not prior:
        return out
    prev = prior[-1]
    common = sorted(set(prev["queries"]) & set(cur["queries"]))

    def ratio(new: float, old: float) -> float | None:
        return round(new / old, 3) if old > 0 else None

    out["ratio_prev_tag"] = prev.get("tag")
    out["ratio_n_common"] = len(common)
    out["ratio_vs_prev_raw"] = ratio(
        sum(cur["queries"][q] for q in common), sum(prev["queries"][q] for q in common)
    )
    prev_layers, cur_layers = prev.get("queries_layers") or {}, cur["queries_layers"]
    if all(q in prev_layers and q in cur_layers for q in common):
        out["ratio_vs_prev_task_cpu"] = ratio(
            sum(cur_layers[q].get("task_cpu_ms", 0) for q in common),
            sum(prev_layers[q].get("task_cpu_ms", 0) for q in common),
        )
    return out


def main() -> None:
    names = select(os.environ.get("SPARK_GRAFT_BENCH_ONLY", ""))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    cpus = host_cpus()
    run1, kept, layers = measure(sf_dir, cpus, names)
    rec = {
        "tag": os.environ.get("SPARK_GRAFT_BENCH_TAG", "r15"),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "metric": METRIC,
        "value": round(sum(kept.values()), 3),
        "unit": "sec",
        "queries": kept,
        "queries_run1": run1,
        "queries_layers": layers,
    }
    history = DOCS / "bench_history.jsonl"
    rec.update(
        compare(
            rec,
            [json.loads(s) for s in history.read_text().splitlines() if s.strip()]
            if history.exists()
            else [],
        )
    )
    if rec["ratio_prev_tag"] is not None:
        print(
            f"# vs {rec['ratio_prev_tag']}: raw x{rec['ratio_vs_prev_raw']}, task cpu "
            f"x{rec['ratio_vs_prev_task_cpu']} over {rec['ratio_n_common']} queries",
            file=sys.stderr,
        )
    if names != CENSUS:
        # a partial census would poison the common-subset ratios
        print(f"# {len(names)} of {len(CENSUS)} queries: no record written", file=sys.stderr)
    elif DOCS.is_dir():
        record(rec, sf_dir)

    line = json.dumps(
        {
            "metric": METRIC,
            "value": rec["value"],
            "unit": "sec",
            "queries": {k: round(v, 2) for k, v in kept.items() if k in FLAGSHIP},
            "n_queries": len(kept),
            "cpus": cpus,
            "sf": rec["sf"],
            "ratio_vs_prev_raw": rec["ratio_vs_prev_raw"],
            "ratio_vs_prev_task_cpu": rec["ratio_vs_prev_task_cpu"],
            "ratio_prev_tag": rec["ratio_prev_tag"],
        },
        separators=(",", ":"),
    )
    # RuntimeError, not assert: the guard must survive `python -O`
    if len(line) >= 1600:
        raise RuntimeError(f"bench stdout line is {len(line)} bytes; shrink FLAGSHIP")
    print(line)


if __name__ == "__main__":
    main()
