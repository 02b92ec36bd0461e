#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "cpu_s": total_cpu_sec,
"unit": "sec", "queries": {name: sec} (the five slowest), "sf": ...}.

Each query is executed to completion through the noop datasource sink
(every row of every output column is evaluated, nothing is collected)
after a warm-up of the session; per-query wall time excludes session
startup, which a long-lived cluster amortizes anyway.

Round-10 methodology fix: timings previously drove queries with
``.count()``, which lets Catalyst PRUNE any expression the count does
not need — Window nodes and projection math vanished from the counted
plan entirely (window_rolling_avg: 0.18 s under count() vs 0.79 s fully
materialized at sf0.1; text_gopher_rules 0.10 vs 0.57). Every timing
from bench_config revision r10-noop-sink onward measures the full
declared computation; earlier rounds' numbers are comparable to each
other but systematically LOW for projection-/window-shaped queries.

Per-query ledger: the session writes Spark's event log (uncompressed,
non-rolling) to a temporary directory. After the session stops, the log
is read once and each query's window is folded by
``perfbench.eventlog.fold`` into executor CPU time, job time, driver
time, GC, tasks, shuffle, spill and task skew. Every row goes to
BENCH_LOCAL.json and BENCH_LOCAL_c{cores}.json. Executor thread CPU time
does not include hypervisor steal, so ``cpu_s`` compares runs on a noisy
host where wall time cannot.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cognitive_score_bigdata_spark.queries import load_registry
from cognitive_score_bigdata_spark.session import get_spark
from perfbench.eventlog import fold, read_events

# Headline set: flagship + the shapes that dominate at scale (big-table
# aggregate, joins, windows, dedup, ANN). Names must exist in the registry.
HEADLINE = [
    "flagship_dashboard",
    "flagship_stats",
    "agg_group_q1",
    "analytics_q3_shipping",
    "analytics_q5_region_volume",
    "analytics_q10_returns",
    "analytics_q4_exists_priority",
    "analytics_q6_selective",
    "analytics_q7_volume",
    "analytics_q8_market_share",
    "analytics_q9_profit",
    "analytics_q11_share",
    "analytics_q12_priority_mix",
    "analytics_q13_custdist",
    "analytics_q14_promo",
    "analytics_q15_top_supplier",
    "analytics_q17_small_qty",
    "analytics_q18_large_orders",
    "analytics_q19_disjunctive",
    "analytics_q22_dormant",
    "join_inner_broadcast",
    "join_left_composite",
    "join_asof",
    "join_lookup_latest_state",
    "window_latest_per_key",
    "agg_latest_per_key",
    "window_rolling_avg",
    "window_session_30m",
    "text_exact_dedup",
    "text_ngram_jaccard",
    "dedup_minhash_pairs",
    "vector_cosine_topk",
    "vector_cosine_topk_fast",
    # round-2 additions: the previously un-benched heavies
    "dedup_simhash_pairs",
    "dedup_cluster_docs",
    "vector_ann_lsh_neardup",
    "vector_ann_ivf_topk",
    "timeseries_gapfill_daily",
    "range_join_time_binned",
    "multimodal_extract_features",
    "multimodal_decode_real",
    "ml_score_batch",
    # BLAS-vs-expression crossover pair (same oracle, Q=200)
    "vector_cosine_topk_expr_q200",
    "vector_cosine_topk_fast_q200",
    # round-2 late additions: span dedup, sketch, quality filters
    "text_chunk_dedup",
    "sketch_heavy_hitter_tokens",
    "text_boilerplate_ngrams",
    "text_gopher_rules",
    "dedup_cluster_docs_star",
    "corpus_clean_pipeline",
    "multimodal_video_frames",
    "corpus_shard_assignment",
    "corpus_pack_sequences",
    "text_charngram_familiarity",
    "vector_ann_pq_topk",
    # round-3: the still-unbenched round-2 entries + round-3 additions
    "text_collapse_repeats",
    "text_pii_scrub",
    "text_contamination_check",
    "streaming_corpus_clean",
    "dedup_incremental_newbatch",
    "ml_feature_assembly",
    "text_rolling_fingerprint",
    "text_bm25_topk",
    "dedup_cluster_exact",
    "dedup_semantic_pairs",
    "sketch_hll_group_users",
    "sketch_theta_user_overlap",
    "corpus_bpe_encode",
    "corpus_dedup_keep_best",
    "scan_zorder_two_dim",
    "text_fuzzy_token_pairs",
    "multimodal_audio_spectrum",
    # round-3 late additions
    "corpus_train_holdout_split",
    "quality_data_validation",
    "vector_centroid_by_group",
    "scd2_user_event_history",
    # round-4 staging (outside the driver window until the rotation,
    # but benched from day one)
    "events_funnel_conversion",
    "events_retention_cohort",
    "agg_histogram_value",
    "agg_mode_event_type_daily",
    "agg_exact_median_by_type",
    "anomaly_daily_zscore",
    "corpus_bigram_topk",
    "sample_stratified_exact_k",
    "vector_ann_ivfpq_topk",
    "corpus_source_overlap",
    "quality_rank_normalize",
    "agg_percentile_bands",
    "join_asof_forward",
    "scd2_incremental_merge",
    "agg_time_grain_rollup",
    # round-4 staging part 2
    "join_bucketed_colocated",
    "graph_pagerank_copurchase",
    "sample_weighted_systematic",
    "corpus_overlap_chunks",
    "scan_dpp_partitioned_join",
    "join_fuzzy_levenshtein",
    "market_basket_pairs",
    "profile_table_stats",
    "graph_triangle_count",
    "anomaly_daily_mad",
    "text_containment_neardup",
    "join_interval_overlap",
    "hierarchy_rollup_to_root",
    "window_trailing_30d_range",
    "agg_bucketed_no_shuffle",
    "agg_trend_slope_by_type",
    "sketch_kmv_distinct_users",
    "dedup_simhash_pairs_md5",
    "dedup_minhash_pairs_md5",
    "sketch_hll_md5_users",
    "graph_minlabel_components",
    "streaming_hll_users",
    "timeseries_twap_per_user",
    "timeseries_ohlc_hourly",
    "agg_equidepth_deciles",
    "events_session_conversion",
    "text_prefix_filter_join",
    "graph_sssp_copurchase",
    "graph_kcore_copurchase",
    "text_novelty_score",
    "graph_clustering_topk",
    "graph_pagerank_weighted",
    "setop_intersect_all",
    "setop_except_all",
    "timeseries_max_drawdown",
    "agg_weighted_median_by_source",
    "sketch_kmv_overlap3",
    "ml_kfold_assignment",
    "agg_corr_value_hour",
    "agg_gini_value",
    "quality_benford_digits",
    "corpus_dedup_rate_by_source",
    "events_dau_wau_stickiness",
    "events_pareto_user_deciles",
    "events_weekday_profile",
    "quality_independence_residuals",
    # round-5 addition: the production near-dup composition
    "dedup_pipeline_blocked_verify",
    # round-6 staging (benched from day one): skyline sweep + the
    # bucketed-edge pagerank physical mode (pays its one-time bucket
    # write inside the timed run, like the bucketed-join pair)
    "analytics_skyline_parts",
    "graph_pagerank_bucketed",
    "events_markov_transitions",
    "streaming_markov_transitions",
    # round-6 additions: the training-data curation gates
    "corpus_contamination_4gram",
    "sample_domain_quota",
    "quality_repetition_signals",
    "corpus_mix_rebalance",
    "streaming_quota_admission",
    "events_streak_islands",
    "market_rule_lift",
    "scan_runtime_bloom_join",
    "multimodal_arrow_bytes",
    "sketch_cms_md5_tokens",
    "scalar_variant_props",
    "scan_orc_pushdown",
    # round-7 additions: crawl-curation gates
    "curation_url_canonical_hostdedup",
    "quality_length_quantile_audit",
    # round-8 staging (benched from day one; driver window next round)
    "curation_dsir_importance_topk",
    "corpus_token_budget_epochs",
    "proj_unpivot_metrics",
    "agg_listagg_nations",
    "streaming_dedup_watermark",
    # round-8 additions: compliance gate + CCNet keep matrix
    "curation_quality_keep_matrix",
    "curation_compliance_source_filter",
    # round-9 additions: broadcast linear quality scorer + span-level
    # compliance/dedup bridge
    "curation_quality_linear_scorer",
    "curation_compliance_span_bridge",
    # round-10 staging: scorer coverage + calibration audits (benched
    # from day one, driver rows in their round-10 birth window)
    "curation_scorer_oov_audit",
    "curation_scorer_length_bias",
    # round-10 additions: cross-snapshot dedup index merge (pair gen
    # from the merged on-disk index; build+merge are once-per-snapshot
    # artifacts, warmed like the other index builds) + the §9u
    # entity-share audit gate
    "dedup_index_merge_pairs_md5",
    "quality_entity_share_audit",
    # round-11 staging: winnowing substring-overlap pairs (benched
    # from day one, driver row in its round-11 birth window)
    "dedup_winnowing_pairs",
    # round-11 staging: retrieval compositions — RRF hybrid fusion +
    # MMR diversity re-rank (benched from day one)
    "search_hybrid_rrf",
    "search_mmr_rerank",
    # round-11: IVF-backed MMR candidate generation (the 100 TB
    # retrieval path as a registry row; the inverted-file build is a
    # once-per-corpus artifact, warmed like the other index builds)
    "search_mmr_rerank_ivf",
    # round-11: IVF inverted-file incremental merge — timed row
    # measures the full-probe top-k from the merged on-disk file;
    # build+absorb are once-per-snapshot artifacts, warmed below
    "vector_ivf_merge_topk",
    # round-12 staging: distributed BPE merge training (the timed row
    # IS the 16-iteration training run — collapse-to-word-table plus
    # K argmax/replace rounds; no warmable artifact by design) and the
    # IVF-legged hybrid fusion (shares the warmed BM25 + 16-cell IVF
    # artifacts with its exact sibling)
    "corpus_bpe_train_merges",
    "search_hybrid_rrf_ivf",
    # round-11 staging: incremental MV maintenance (timed row measures
    # reading the maintained rollup; build+merge are once-per-corpus
    # artifacts, warmed like the index builds)
    "agg_incremental_mv_merge",
    # round-12: seeded-quantizer SemDeDup (timed row measures the
    # blocked per-cell pair kernel + ids-only cell join; the seed
    # assignment table is a session-scoped build artifact, warmed
    # below) and the composed BPE train->encode->pack->shard pipeline
    # (the timed row IS train + vocabulary join + prefix sum — the
    # training loop is the dominant leg, same contract as
    # corpus_bpe_train_merges; no warmable artifact by design)
    "dedup_semantic_pairs_seeded",
    "corpus_bpe_pipeline",
    # round-13 staging (benched from day one, like every staged pair):
    # incremental semantic probe (timed row = the cogrouped new-batch
    # probe against the warmed seeded-assignment artifact) and the
    # ensemble cluster assignment (timed row = all three evidence legs
    # + the min-label closure — deliberately uncached: the composition
    # IS the cost being measured)
    "dedup_semantic_incremental",
    "dedup_ensemble_clusters",
    # round-14 staging (benched from day one): zone-map-pruned range
    # scan (timed row = the pruned probe + agg; the clustered-artifact
    # publish is a once-per-corpus lake-layout job, warmed below like
    # the other index builds) and leakage-safe splits (timed row = the
    # ensemble's three evidence legs + closure + the split projection —
    # deliberately uncached, mirroring dedup_ensemble_clusters: the
    # composition IS the cost being measured)
    "scan_zonemap_range_agg",
    "corpus_leakage_safe_splits",
    # round-13 births: the seeded-quantizer transfer rows (hash-oracle
    # siblings for the rows-only ANN-probe / theta families)
    "vector_ann_ivf_topk_seeded",
    "sketch_theta_md5_overlap",
    # round-14 staged (r13 session): the UPDATE-shaped lake lifecycle
    # (prune_in fetch -> replace_parts rewrite -> pruned re-fetch)
    "scan_delete_rewrite_fetch",
    # round-15 staging (r13 session, benched from day one): seeded
    # sign-LSH (timed row = the bucket join + blocked verify against
    # the warmed signature table — the hash-oracle sibling for the
    # last rows-only ANN family) and the time-travel deletion audit
    # (timed row = the manifest-diff read + anti-join; the publish and
    # rewrite are the already-warmed rewrite_artifact)
    "vector_ann_lsh_seeded",
    "scan_time_travel_audit",
    # round-16 staging (r13 session, benched from day one): row-level
    # change feed (timed row = the manifest-diff read + classifying
    # full-outer join; the upsert artifact's publish + rewrite are
    # once-per-corpus maintenance commits, warmed below), schema-
    # evolved scan (timed row = the NULL-projecting live read + agg;
    # the publish + evolved append are warmed), and SQ8 asymmetric
    # probe (timed row = the reconstruct-and-rank scan over the code
    # table; fit + encode are the warmed index build)
    "scan_changes_feed",
    "scan_schema_evolution_agg",
    "vector_ann_sq8_topk",
    # CDF-driven incremental MV maintenance (timed row = v1 rollup +
    # feed deltas + merge — the table is never rescanned; the upsert
    # artifact is the already-warmed changes artifact)
    "agg_mv_apply_changes",
    # composed IVF_SQ8 tier (timed row = the 2-of-8-cell probe over
    # one-byte codes; both build artifacts — the seeded IVF index and
    # the SQ8 code table — are already warmed above)
    "vector_ann_ivfsq_topk",
    # MERGE INTO (timed row = the post-merge live scan + agg; the
    # publish + merge_commit are once-per-corpus maintenance commits,
    # warmed below)
    "scan_merge_upsert_agg",
    # round-17 staging (r14 session, benched from day one): the
    # composed stream→admission→ensemble→splits pipeline (timed row =
    # the admitted-corpus ensemble + splits; the admission fixture —
    # index build + availableNow drain — is the once-per-corpus
    # artifact, warmed below). dedup_incremental_newbatch stays in
    # HEADLINE under its existing name (r14: md5 persisted-index
    # oracle upgrade; the LSH index build is warmed as before).
    "curation_stream_training_set",
    # MERGE × schema evolution (timed row = the NULL-projecting
    # post-merge live scan + agg; publish, evolved append and
    # merge_commit are once-per-corpus maintenance commits, warmed
    # below)
    "scan_merge_evolved_agg",
    # binary-quantized two-stage retrieval (timed row = the Hamming
    # code scan + cosine rescore; the sign-bit code pass is the same
    # narrow scan, cheap enough to time in-row like sq8's probe)
    "vector_ann_bq_topk",
    # round-18 staging (r15 session, benched from day one): the
    # cell-pruned sign-bit tier (timed row = probed-cell Hamming scan
    # + cosine rescore; the seeded IVF index is warmed above, the code
    # pass is the same narrow scan as the flat BQ row's) and the
    # fenced streaming query probe (timed row = the committed-results
    # read_index scan; the availableNow drain + per-batch probe
    # commits are the once-per-corpus fixture, warmed below)
    "vector_ann_ivfbq_topk",
    "vector_ann_stream_probe",
    # persisted BQ inverted file (timed row = the cell-pruned probe of
    # the COMMITTED merged code table; build + frozen-quantizer absorb
    # are once-per-corpus maintenance commits, warmed below)
    "vector_ann_ivfbq_merged_topk",
    # round-19 staging (r16 session, benched from day one): the BQ
    # inverted file's fenced STREAMING absorb (timed row = the
    # cell-pruned probe of the stream-absorbed committed code table;
    # the build + availableNow drain with per-batch fenced absorb
    # commits are the once-per-corpus fixture, warmed below)
    "vector_ann_ivfbq_stream_topk",
    # round-20 staging (r16 session, benched from day one): the IVF
    # delete-lifecycle stages (timed rows = the live-view probe at the
    # delete commit / the re-insert commit / the plain committed view
    # after the dirty-cell physical rewrite; the 4-version fixture —
    # build, delete, re-insert batch, rewrite — is a once-per-corpus
    # maintenance sequence, warmed below)
    "vector_ann_ivf_delete_topk",
    "vector_ann_ivf_delete_readd_topk",
    "vector_ann_ivf_delete_rewrite_topk",
    # round-21 staging (r16 session, benched from day one): filtered
    # vector search (timed row = the one narrow probed-cell scan with
    # the label predicate pushed to parquet; the label-denormalized
    # index build is a once-per-corpus commit, warmed below) and the
    # tombstone-aware compact (timed row = the plain committed-view
    # probe after the compact flip; the 4-version fixture is warmed
    # below)
    "vector_ann_ivf_filtered_topk",
    "vector_ann_ivf_compact_dead_topk",
]

# API-parity demonstration rows (VERDICT r6 item 2): these exist to
# exercise a PySpark API surface (cogrouped-pandas, UDTF, grouped-agg
# pandas UDAF) and each has a FASTER production sibling in HEADLINE
# under the same oracle/machinery (join_asof 0.27 s vs the cogrouped
# row's 6.5 s; per-group Arrow overhead is the measured floor, not a
# plan defect — see the join_asof_cogrouped docstring). They are timed
# every round but reported as their own family, excluded from the
# headline total the driver trends, so the headline measures the
# engine, not the API demos.
API_PARITY = [
    "join_asof_cogrouped",
    "text_segment_udtf",
    "agg_pandas_udaf_gmean",
]

# Ledger-row fields taken from perfbench.eventlog.fold: field -> metric.
LEDGER_FIELDS = {
    "cpu_s": "spark.task_cpu_s",
    "job_s": "spark.job_busy_s",
    "gc_s": "spark.gc_s",
    "tasks": "spark.tasks",
    "shuffle_read_mb": "spark.shuffle_read_mb",
    "shuffle_write_mb": "spark.shuffle_write_mb",
    "spill_mb": "spark.spill_mb",
    "skew": "spark.task_skew_max",
}


def materialize(df) -> None:
    """Execute the FULL plan: every row of every output column, via the
    noop sink. Replaces ``.count()``, under which Catalyst pruned
    unused Window/projection expressions out of the timed plan."""
    df.write.format("noop").mode("overwrite").save()


def ledger_row(events, run_index: int, window: tuple[str, int, float], cores: int) -> dict:
    """One query's ledger row: its wall seconds and the Spark work of the
    jobs submitted inside its window. ``driver_s`` is the wall time no job
    covered: planning, driver Python, collects and local finishes."""
    _, start_ms, end_ms = window
    m = fold(events, start_ms, end_ms, cores)
    row = {"secs": round((end_ms - start_ms) / 1000.0, 3), "run_index": run_index}
    row.update({field: round(m[metric], 3) for field, metric in LEDGER_FIELDS.items()})
    row["tasks"] = int(row["tasks"])
    row["driver_s"] = round(row["secs"] - row["job_s"], 3)
    return row


def ledger(events, windows: list[tuple[str, int, float]], cores: int) -> dict[str, dict]:
    """Fold the event log into one row per timed window, in one pass.

    ``windows`` holds ``(name, start_ms, end_ms)`` in run order. Queries
    run one after another, so each window's events are contiguous: the
    stream is cut at the first ``JobStart`` submitted at or after the next
    window's start, and only the current window's events are held."""
    rows, buf, i = {}, [], -1  # buf holds the events of windows[i]
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            while i + 1 < len(windows) and e["Submission Time"] >= windows[i + 1][1]:
                if i >= 0:
                    rows[windows[i][0]] = ledger_row(buf, i, windows[i], cores)
                buf, i = [], i + 1
        if i >= 0:
            buf.append(e)
    for j in range(max(i, 0), len(windows)):  # the last, then any jobless
        rows[windows[j][0]] = ledger_row(buf, j, windows[j], cores)
    return rows


def summary(result: dict) -> str:
    """The one stdout line. The driver keeps the last 2,000 chars of
    stdout, so this line carries totals, per-family subtotals and the
    five slowest rows; every row is in the detail file."""
    secs = {name: row["secs"] for name, row in result["queries"].items()}
    families: dict[str, float] = {}
    for name, sec in secs.items():
        fam = name.split("_", 1)[0]
        families[fam] = round(families.get(fam, 0.0) + sec, 3)
    return json.dumps(
        {
            "metric": result["metric"],
            "value": result["value"],
            "cpu_s": result["cpu_s"],
            "unit": "sec",
            "sf": result["sf"],
            "n_queries": len(secs),
            "families": families,
            "queries": dict(sorted(secs.items(), key=lambda kv: -kv[1])[:5]),
            "api_parity_total": result["api_parity_total"],
            "n_api_parity": len(result["api_parity"]),
            "bench_config": result["bench_config"],
            "detail": "BENCH_LOCAL.json",
        }
    )


def run_session(sf_dir: str, log_dir: str) -> tuple[list[tuple[str, int, float]], int]:
    """Warm the session, time every HEADLINE then API_PARITY query, and
    stop the session. Returns the timed windows and the core count."""
    registry = load_registry()
    spark = get_spark(
        "csb-bench",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    # Warm up the JVM/codegen paths so query timings measure the plans.
    materialize(registry["flagship_stats"].fn(spark, sf_dir))
    # Warm the Python/Arrow worker pool too (first pandas-UDF stage in a
    # session pays worker spawn + numpy/pandas import across all cores —
    # ~8 s of one-time cost that would otherwise land on whichever Arrow
    # query runs first), and the serving model (loaded once per session,
    # like the reference's deployed endpoint — training isn't serving).
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()
    if "ml_score_batch" in registry:
        materialize(registry["ml_score_batch"].fn(spark, sf_dir))
    # Index builds, lake-layout rewrites, maintenance commits and stream
    # fixtures are once-per-corpus-lifetime jobs, not per-probe cost:
    # warm them for the same reason the serving model is warmed above,
    # so each timed row measures its probe or scan, not the build.
    for warm in (
        "dedup_incremental_newbatch",  # minhash LSH index
        "dedup_semantic_pairs",  # SemDeDup quantization
        "dedup_semantic_pairs_seeded",  # seeded assignment table
        "text_bm25_topk",  # inverted-index build
        "scan_zorder_two_dim",  # lake layout rewrite
        "join_bucketed_colocated",  # bucketed-table write
        "scan_dpp_partitioned_join",  # partitioned-lake write
        "streaming_hll_users",  # stream-source JSON export
        "market_basket_pairs",  # co-purchase pair-support build
        "vector_ann_pq_topk",  # PQ codebook train + code-table encode
        "vector_ann_ivfpq_topk",  # IVF+residual-PQ index (VERDICT r7 item 2)
        # 16-cell IVF file, shared with search_mmr_rerank_ivf
        "vector_ann_ivf_topk",
        "dedup_index_merge_pairs_md5",  # snapshot-1 build + snapshot-2 merge
        "vector_ivf_merge_topk",  # inverted-file build + centroid absorb
        "agg_incremental_mv_merge",  # MV materialization + increment merge
        "scan_zonemap_range_agg",  # clustered publish + zone-map harvest
        "vector_ann_ivf_topk_seeded",  # seeded-centroid IVF index
        "scan_delete_rewrite_fetch",  # clustered publish + delete rewrite
        "vector_ann_lsh_seeded",  # sign-LSH signature table
        "scan_changes_feed",  # upsert-rewritten artifact
        "scan_schema_evolution_agg",  # publish + evolved append
        "vector_ann_sq8_topk",  # SQ8 fit + encode
        "scan_merge_upsert_agg",  # clustered publish + MERGE commit
        "curation_stream_training_set",  # admission fixture
        "scan_merge_evolved_agg",  # publish + evolved append + merge
        "vector_ann_stream_probe",  # merged IVF + probe-stream drain
        "vector_ann_ivfbq_merged_topk",  # BQ file build + absorb
        "vector_ann_ivfbq_stream_topk",  # BQ build + streaming absorb
        # the whole 4-version delete fixture (build / tombstone delete /
        # re-insert / dirty-cell rewrite) that the readd and rewrite
        # rows probe later versions of
        "vector_ann_ivf_delete_topk",
        "vector_ann_ivf_filtered_topk",  # label-denormalized index build
        "vector_ann_ivf_compact_dead_topk",  # tombstone-aware compact
    ):
        if warm in registry:
            materialize(registry[warm].fn(spark, sf_dir))
    # The quota-admission stream FIXTURE (session-scoped coalesce(1)
    # JSON export, queries/round6.py) is a once-per-corpus source
    # export like streaming_hll_users's above; warming it leaves the
    # timed run measuring the drain, not the fixture (VERDICT r7
    # item 4).
    try:
        from cognitive_score_bigdata_spark.queries.round6 import _admit_stream_indir

        _admit_stream_indir(spark, sf_dir)
    except Exception as exc:  # pragma: no cover - warm-up best effort
        warn = "streaming_quota_admission fixture lands in timed run"
        print(f"WARN bench warm-up failed ({warn}): {exc!r}", file=sys.stderr)
    # The graph family's shared build artifacts (the co-purchase pair
    # table and its degree-oriented form) are once-per-corpus-lifetime
    # jobs like the index builds above; market_basket_pairs builds its
    # OWN pair table, so these were previously paid by whichever graph
    # query ran first (VERDICT r6 item 7 — per-query numbers should
    # measure fixpoints, not builds).
    try:
        from cognitive_score_bigdata_spark.queries.graphs import (
            _cc_withself_edges,
            _oriented_copurchase,
            _pr_folded_edges,
            copurchase_pairs,
        )
        from cognitive_score_bigdata_spark.queries.round5 import _pr_bucketed_table

        copurchase_pairs(spark, sf_dir).count()
        for part in _oriented_copurchase(spark, sf_dir):
            part.count()  # force the lazy localCheckpoints to persist
        _pr_folded_edges(spark, sf_dir).count()
        _pr_folded_edges(spark, sf_dir, weighted=True).count()
        _cc_withself_edges(spark, sf_dir).count()
        _pr_bucketed_table(spark, sf_dir).count()  # one-time bucket write
    except Exception as exc:  # pragma: no cover - warm-up best effort
        # Queries still build lazily, but say so (ADVICE r7): a silent
        # failure here reverts every graph per-query timing to
        # including its one-time artifact build, with no signal.
        warn = "graph_* per-query timings include build costs"
        print(f"WARN bench graph warm-up failed ({warn}): {exc!r}", file=sys.stderr)

    # Slot-order warm-up (VERDICT r15 item 4): the first ~10 slots
    # absorbed cold-JVM cost — whole-stage-codegen JIT for the TPC-H
    # plan shapes plus first-touch parquet page-cache — and an apparent
    # +23 s regression on UNCHANGED analytics code was entirely those
    # slots (q8 1.14→7.74 s with identical plans). Materialize the early
    # slots once, untimed, so their rows measure warm plans like every
    # later slot, which inherits the session warm-up of the ones before.
    for warm in HEADLINE[:12]:
        if warm in registry:
            materialize(registry[warm].fn(spark, sf_dir))

    # Each timed query's epoch-ms window; the start is floored to the
    # millisecond, as Spark stamps job times.
    windows: list[tuple[str, int, float]] = []
    for name in [n for n in HEADLINE + API_PARITY if n in registry]:
        # Reclaim dead broadcast/shuffle state from prior queries
        # before timing: queries late in a long session otherwise
        # inherit the accumulated heap garbage of every query before
        # them, which showed up as 5-10x slowdowns on the heavy tail.
        spark._jvm.System.gc()  # noqa: SLF001
        start_ms = math.floor(time.time() * 1000)
        materialize(registry[name].fn(spark, sf_dir))
        windows.append((name, start_ms, time.time() * 1000))
    spark.stop()
    return windows, cores


def report(rows: dict[str, dict], cores: int, sf_dir: str) -> dict:
    """The detail-file dict: headline rows, API-parity rows, totals."""
    queries = {n: rows[n] for n in HEADLINE if n in rows}
    api_parity = {n: rows[n] for n in API_PARITY if n in rows}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return {
        "metric": "headline_queries_total",
        "value": round(sum(r["secs"] for r in queries.values()), 3),
        # executor thread CPU time: hypervisor steal is not in it
        "cpu_s": round(sum(r["cpu_s"] for r in queries.values()), 3),
        "unit": "sec",
        # one ledger row per query, run_index = its 0-based slot
        "queries": queries,
        # API-surface demo rows, timed but OUTSIDE the headline total
        # (each has a faster production sibling in `queries` under the
        # same oracle — see API_PARITY comment)
        "api_parity_total": round(sum(r["secs"] for r in api_parity.values()), 3),
        "api_parity": api_parity,
        # `revision` is bumped by hand whenever the warm list or timing
        # methodology changes; headline_hash pins the query set.
        # r18-eventlog-ledger: canaries gone (their two rows now run cold).
        "bench_config": {
            "revision": "r18-eventlog-ledger",
            "headline_hash": hashlib.sha256(
                json.dumps([HEADLINE, API_PARITY]).encode()
            ).hexdigest()[:12],
            "cores": cores,
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # exported, so the session sizes its shuffle partitions from this
    # data, as it does when the caller sets the variable
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    with tempfile.TemporaryDirectory(prefix="bench-eventlog-") as log_dir:
        windows, cores = run_session(sf_dir, log_dir)
        # the stopped session's one finished log
        (log,) = os.listdir(log_dir)
        rows = ledger(read_events(os.path.join(log_dir, log)), windows, cores)
    result = report(rows, cores, sf_dir)
    here = os.path.dirname(os.path.abspath(__file__))
    # the per-core-count copy survives a later run at another core count
    for fname in ("BENCH_LOCAL.json", f"BENCH_LOCAL_c{cores}.json"):
        with open(os.path.join(here, fname), "w") as fh:
            json.dump(result, fh)
            fh.write("\n")
    print(summary(result))


if __name__ == "__main__":
    main()
