"""Headline benchmark — the driver runs this per-round at sf0.1 and
records the JSON line against BASELINE.md.

Each headline query is forced end-to-end with the `noop` sink (full
computation, no driver-side materialization — collect() would make the
driver the bottleneck and measure the wrong thing).

Each query is timed over SPARK_GRAFT_BENCH_REPS runs (default 5) and
reports the MINIMUM — the host is time-shared and bursty contention
otherwise lands on whichever query happens to be running. Every rep
re-plans the query from scratch (fresh DataFrame build through Catalyst),
so planning cost stays in the measurement; only one-time JIT/class
loading is amortized, as intended.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all cores),
     SPARK_GRAFT_BENCH_REPS (default 5).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nchu_bigdata_spark.registry import load_all_queries
from nchu_bigdata_spark.session import get_session

# Representative per family: scan+agg, 3-way join, window, session
# window, grouped pandas UDF, and the LLM-data ops as they land.
# Kept IDENTICAL across rounds so the headline total stays
# apples-to-apples against BASELINE.md.
HEADLINE = [
    "agg_hash",
    "join_shuffle",
    "win_running_total",
    "stream_session",
    "udtf_apply_in_pandas",
    "dedup_minhash",
    "sim_topk",
    "kmeans_fit",
    "text_tokenize_tfidf",
]

# Second tracked group: the LLM-training-data pipeline operators this
# engine is actually about. Reported separately (llm_queries /
# llm_total) so the headline series above stays comparable round-over-
# round while these accumulate their own trend.
LLM_GROUP = [
    "decontam_ngram",
    "curate_corpus",
    "pack_sequences",
    "dedup_clusters",
    # added round 5 (no prior round to delta against; trend starts here)
    "sample_token_budget",
    "text_ngram_stats",
    # the most expensive single query in the suite — tracked so its
    # cost is visible and disciplined, not hidden from the bench
    "dedup_ngram_jaccard",
    # added round 6: the remaining heavy ops that had no bench entry,
    # so regressions there were invisible (VERDICT r5 item 9)
    "dedup_simhash_pairs",
    "sim_ann_ivf",
    # born round 6: PII scrub, int8 quantization, batch-vs-corpus
    # incremental dedup (trend starts here)
    "text_pii_scrub",
    "embed_quantize",
    "dedup_incremental",
    # born round 7: C4-style line dedup, RAG chunking, exact embedding
    # covariance, mixture-recipe solver (trend starts here)
    "text_line_dedup",
    "tokenize_chunk_overlap",
    "embed_covariance",
    "mixture_weights",
    # born late round 7: MG heavy hitters (two corpus passes), DSIR
    # importance filter (vocab join), MIPS top-k (trend starts here)
    "text_heavy_hitters",
    "sample_importance",
    "sim_mips",
    # born round 8: blocked levenshtein pairs, containment pairs,
    # OOV-rate scoring (trend starts here)
    "dedup_edit_distance",
    "dedup_containment",
    "tokenize_vocab_coverage",
    # born late round 8: lexical diversity, Poisson bootstrap,
    # per-domain cap (trend starts here)
    "text_diversity",
    "sample_poisson",
    "curate_domain_balance",
    # born round 8 (this session): portable count-min sketch,
    # k-anonymity audit, temperature mixture (trend starts here)
    "agg_countmin",
    "text_k_anonymity",
    "sample_temperature",
    "dedup_url",
    "embed_outliers",
    # born round 8 (continued): portable bloom membership pre-filter
    # (trend starts here)
    "dedup_bloom",
    "text_readability",
    "dedup_recall_eval",
    "curate_funnel_report",
    "sample_group_holdout",
    "sim_ivf_balance",
    "dedup_cluster_stats",
    # born round 8, session 2: LSH-bucketed ANN, power-iteration PCA,
    # deterministic shard writer, decode-batch planner (trend starts
    # here)
    "sim_ann_lsh",
    "sim_rrf_fusion",
    "embed_pca_power",
    "sample_shard_assign",
    "multimodal_batch_plan",
    "text_vocab_mass_ladder",
    "sample_curriculum",
    "tokenize_padding_waste",
    # born round 10: cluster-bounded semantic dedup + ExactSubstr-style
    # span audit (trend starts here)
    "dedup_semdedup",
    "dedup_substring_spans",
    "decontam_embedding",
    # born round 11: CDC chunk dedup, first-occurrence novelty,
    # mutual-kNN graph, ESS weight audit, PQ encoder, template-prefix
    # audit (trend starts here)
    "dedup_cdc_chunks",
    "text_novelty",
    "sim_mutual_knn",
    "sample_ess_audit",
    "embed_pq",
    "text_template_prefix",
    # born round 11, session 2: Heaps'-law vocab growth + Neyman
    # budget allocation (the training-data pipeline stages of this
    # wave; the geo/chi-square/Wilson/rolling-corr/CIDR/Ljung-Box/
    # Kendall births are tracked in the SQL group) (trend starts here)
    "text_heaps_law",
    "sample_neyman_alloc",
    # born round 12: tokenizer fertility table, quality-gate yield
    # sweep (trend starts here — r12 omitted them, a tracking gap)
    "tokenize_fertility",
    "curate_quality_gate_sweep",
    # born round 13: second-moment isotropy screen (trend starts here)
    "embed_isotropy",
]

# Third tracked group (born round 6): SQL/warehouse/graph composites
# heavy enough that silent regressions would matter — TPC-H shapes,
# the binned interval join, the CDC upsert, and the graph kernels.
# Reported as sql_queries / sql_total; trend starts this round.
SQL_GROUP = [
    "tpch_q7",
    "tpch_q17",
    "join_interval_overlap",
    "scd2_history",
    "stream_cdc_upsert",
    "graph_pagerank",
    "graph_triangles",
    "text_collocation_pmi",
    "events_anomaly",
    "multimodal_phash_pairs",
    # born late round 7: frontier BFS, snapshot diff, gap-filled
    # resample, Morton layout stats (trend starts here)
    "graph_bfs",
    "table_diff",
    "ts_resample",
    "sort_zorder",
    # born round 8: degree histogram, column-stats profile, dyadic
    # EWMA, rolling median (trend starts here)
    "graph_degree_distribution",
    "stats_profile",
    "ts_ewma",
    "win_rolling_median",
    # born late round 8: skyline, streak islands, distributed-rank
    # Lorenz, spine interpolation, overlap matrix (trend starts here)
    "agg_skyline",
    "win_streak",
    "win_lorenz",
    "ts_interpolate",
    "events_overlap_matrix",
    # born round 8 (this session): path mining, burstiness, lag-1
    # autocorr, fulfillment SLA, 3-round k-core (trend starts here)
    "events_trigram_paths",
    "events_burstiness",
    "ts_autocorr",
    "orders_fulfillment_lag",
    "graph_kcore_peel",
    "ts_drawdown",
    "events_stickiness",
    "stream_topk",
    "join_asof_nearest",
    "dq_drift",
    # born round 8 (continued): sweep-line concurrency, tolerance
    # as-of, market-share ranks, freshness audit (trend starts here)
    "events_concurrency",
    "join_asof_tolerance",
    "orders_market_share",
    "dq_freshness",
    "events_bounce",
    "ts_mad_anomaly",
    "agg_benford",
    "events_session_hist",
    "orders_abc_class",
    "events_new_vs_returning",
    "graph_sssp_weighted",
    "orders_hhi",
    "graph_assortativity",
    "orders_customer_migration",
    "events_lateness_profile",
    "graph_clustering_coeff",
    "events_conversion_lag",
    "orders_backlog",
    "graph_link_predict",
    "ts_changepoint",
    "sample_time_split",
    "curate_canonical",
    "agg_winsorized_mean",
    "win_rolling_regression",
    "sample_balanced",
    "ts_decompose",
    "dedup_threshold_sweep",
    "graph_modularity",
    "multimodal_phash_clusters",
    "win_ohlc_bars",
    "orders_reorder_rate",
    "events_hazard_rate",
    "graph_random_walk",
    "table_fingerprint",
    "dq_referential_integrity",
    "win_cusum_chart",
    "join_pit_scd2",
    "multimodal_audio_vad",
    "dedup_band_tuning",
    "events_did",
    "sample_kfold",
    "scan_txn_log",
    "graph_ego_features",
    "orders_margin_waterfall",
    "events_incidents",
    "orders_supplier_scorecard",
    "tokenize_truncation_audit",
    "stream_ohlc",
    "text_rake_keyphrases",
    "ts_densify",
    "text_lang_confusion",
    "agg_weighted_percentile",
    "events_decay_attribution",
    "multimodal_image_stats",
    "scan_mor_deletes",
    "events_slo_burn",
    "dedup_agreement",
    "orders_aging_wip",
    "embed_separability",
    "multimodal_scene_changes",
    "fn_fiscal_calendar",
    "orders_pvm_variance",
    "set_except_all",
    "sample_smote_midpoints",
    "events_bot_flags",
    "events_srm_check",
    "win_mtd_ytd",
    "text_code_detection",
    "sim_nprobe_sweep",
    "orders_xyz_class",
    "sample_class_weights",
    "events_growth_accounting",
    "sample_hard_negatives",
    "win_yoy_compare",
    "agg_tukey_fences",
    "dedup_minhash_estimate",
    "text_vocab_overlap",
    "orders_returns_rate",
    "sub_not_in_null",
    "win_change_runs",
    "events_cuped",
    "events_mann_whitney",
    # born round 8, session 2: 6-round min-label components (the
    # heaviest new op — tracked so its cost stays disciplined), exact
    # KS / Gini / CCF / Lehr stats, histogram percentiles, existence
    # flags, velocity rule, interval union, header-detail audit
    # (trend starts here)
    "graph_connected_components",
    "graph_hits",
    "agg_ols_multi",
    "win_vwap",
    "agg_median_ci_bootstrap",
    "agg_bitmap_intersect",
    "join_anti_range",
    "ts_theil_sen",
    "ts_runs_test",
    "dq_duplicate_billing",
    "win_bollinger",
    "graph_label_propagation",
    "ts_ema_crossover",
    "graph_pagerank_personalized",
    "scan_txn_time_travel",
    "orders_perfect_rate",
    "events_weekend_lift",
    "events_peak_days",
    "sink_dynamic_overwrite",
    "orders_rank_stability",
    "win_drawdown_duration",
    "win_topn_ties",
    "text_feature_hashing",
    "events_ks_test",
    "agg_gini",
    "ts_cross_correlation",
    "events_sample_size",
    "agg_ratio_pin",
    "agg_percentile_hist",
    "join_existence",
    "events_velocity_flags",
    "orders_interval_merge",
    "dq_header_detail",
    # born round 10: compaction planner (trend starts here)
    "sink_compaction",
    # born round 11, session 2: grid-cell spatial join, CIDR LPM,
    # chi-square drift, Wilson ranking, rolling correlation (trend
    # starts here)
    "geo_cell_join",
    "fn_ip_cidr",
    "agg_chi_square",
    "events_wilson_ctr",
    "win_rolling_corr",
    "geo_bbox_join",
    "text_source_drift",
    "win_rsi",
    "ts_ljung_box",
    "ts_kendall_tau",
    "events_welch_ttest",
    # born round 12: no-equi-key interval join, bounded-radius kNN
    # (trend starts here — r12 omitted them, a tracking gap)
    "join_range_partitioned",
    "geo_knn_join",
    # born round 13: position-delete MoR read, dual-runtime interval
    # pairs, z-order zone-map read, Arrow RecordBatch transform
    # (trend starts here)
    "scan_mor_positional",
    "stream_range_join",
    "scan_zorder_pruned",
    "udtf_map_in_arrow",
    "agg_hll_portable",
    # born round 14: KMV bottom-k distinct sketch, irregular-spacing
    # TWAP, priority sampling, deletion-vector read path, k-means||
    # seeding (trend starts here)
    "agg_kmv_distinct",
    "win_time_weighted_avg",
    "sample_weighted_priority",
    "scan_delete_vector",
    "kmeans_init_parallel",
    # born round 14, session 2: theta-sketch intersection, fanout-
    # capped bipartite projection, phonetic blocking, dataChange
    # incremental consume, exact-cents recognition ledger, key
    # discovery, polygon containment, Python DataSource connector,
    # observe()-piggybacked DQ, manifest-committed sink
    # (trend starts here)
    "agg_theta_intersect",
    "graph_bipartite_projection",
    "fn_soundex",
    "scan_incremental_read",
    "orders_revenue_recognition",
    "dq_key_discovery",
    "geo_point_in_polygon",
    "scan_python_datasource",
    "dq_observe_inline",
    "sink_exactly_once",
    "events_alert_debounce",
    "multimodal_audio_resample",
    "join_aqe_runtime_broadcast",
    "tpch_q1",
    "udtf_lateral_python",
    "fn_variant",
]

# Fourth tracked group (round 10, VERDICT r9 item 4): the iterative
# graph kernels — the repo's most expensive plans. They already appear
# in the LLM/SQL groups (those series stay comparable), but there they
# get only the group's reps budget (2 for SQL); here they get the FULL
# headline methodology (reps × best-of, warm session) so a regression
# in the priciest operators is a first-class per-round signal, not a
# one-off SCALE_PROBE row.
GRAPH_GROUP = [
    "graph_pagerank",
    "graph_triangles",
    "graph_connected_components",
    "dedup_clusters",
]



def warm(spark) -> None:
    """One-time runtime initialization, excluded from measurement: JVM
    codegen + shuffle machinery, the parquet datasource / vectorized
    reader / noop sink classes, the Arrow Python-worker pool (each
    worker imports pandas on first use), and the ml typed aggregators.
    Synthetic data only — no benchmark table is touched, so nothing a
    measured query computes is cached."""
    from pyspark.ml.functions import array_to_vector
    from pyspark.ml.stat import Summarizer
    from pyspark.sql import functions as F

    spark.range(100_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    # Decimal partial/final aggregation + timestamp-literal comparison
    # codegen classes (the flagship's hot path) — synthetic range data,
    # nothing the measured queries compute.
    spark.range(100_000).select(
        (F.col("id") % 5).alias("k"),
        F.col("id").cast("decimal(20,6)").alias("d"),
        F.timestamp_micros(F.col("id")).alias("t"),
    ).filter(F.col("t") <= F.lit("2000-09-02").cast("timestamp")).groupBy(
        "k"
    ).agg(
        F.sum("d"), F.avg("d"), F.count(F.lit(1))
    ).collect()
    tmp = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".scratch", "bench_warm"
    )
    spark.range(1000).withColumn("x", F.rand(7)).write.mode(
        "overwrite"
    ).parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").format("noop").save()
    n = spark.sparkContext.defaultParallelism
    inc = F.pandas_udf(lambda s: s + 1, "double")
    base = spark.range(n * 4).select(F.col("id").cast("double").alias("x"))
    base.repartition(n).select(inc("x")).write.mode("overwrite").format(
        "noop"
    ).save()
    base.groupBy((F.col("x") % 2).alias("g")).applyInPandas(
        lambda pdf: pdf, "x double"
    ).write.mode("overwrite").format("noop").save()
    spark.range(64).select(
        array_to_vector(F.array(F.col("id").cast("double"))).alias("v")
    ).agg(Summarizer.mean(F.col("v"))).collect()


def prev_llm_numbers() -> tuple[int | str, dict[str, float]] | None:
    """Latest prior recorded LLM-group timings, for round-over-round
    deltas. Primary source (r10): the last COMMITTED BENCH_LOCAL.json
    (git HEAD) — since r8 the driver's stdout line is the compact
    contract (no llm_queries), so the BENCH_r{N} scan below was
    silently comparing against round 5. Falls back to the newest
    BENCH_r{N}.json whose parsed line still carried llm_queries."""
    import subprocess

    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        head = subprocess.run(
            ["git", "show", "HEAD:BENCH_LOCAL.json"],
            cwd=repo,
            capture_output=True,
            text=True,
            timeout=10,
        )
        if head.returncode == 0:
            d = json.loads(head.stdout)
            if d.get("llm_queries"):
                return ("prev-commit", d["llm_queries"])
    except Exception:  # noqa: BLE001 - fall through to the BENCH_r scan
        pass
    # shared artifact-discovery rule (gate_constants) — highest round
    # first, so the first qualifying record wins
    from nchu_bigdata_spark.gate_constants import bench_round_artifacts

    for rnd, p in bench_round_artifacts(repo):
        try:
            with open(p, encoding="utf-8") as f:
                d = json.load(f)
        except (OSError, ValueError):
            continue
        parsed = d.get("parsed") or {}
        if d.get("rc") == 0 and parsed.get("llm_queries"):
            return (rnd, parsed["llm_queries"])
    return None


def trimmed_mean(samples: list[float]) -> float:
    """Cross-check statistic: mean over the middle reps (drop the
    single min and max when reps >= 3). The host is time-shared with
    multi-minute tenant bursts (r8, r10/r11, and four straight r12
    recordings all landed one mid-run); a plain mean turns one 30 s
    burst into a misleading value_mean while a genuinely slower ENGINE
    still shows up identically in the trimmed mean. Methodology is
    recorded in the payload ("mean_method") so rounds stay
    comparable."""
    if len(samples) < 3:
        return sum(samples) / len(samples)
    s = sorted(samples)[1:-1]
    return sum(s) / len(s)


def wait_for_quiet() -> list[float]:
    """Pre-flight load check (VERDICT r11 item 3): two straight rounds
    published a contention-inflated headline because the bench started
    while the time-shared host was busy. Wait (bounded) for the 1-min
    loadavg to drop below a fraction of the core count before timing
    anything; record the loadavg actually observed so BENCH artifacts
    carry their own noise evidence. No-op on platforms without
    /proc/loadavg. Tunables: SPARK_GRAFT_BENCH_QUIET_FRAC of ncpu
    (default 0.20) and SPARK_GRAFT_BENCH_QUIET_TIMEOUT secs
    (default 300; 0 disables the wait entirely)."""
    timeout = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_TIMEOUT", "300"))
    frac = float(os.environ.get("SPARK_GRAFT_BENCH_QUIET_FRAC", "0.20"))
    ncpu = os.cpu_count() or 1
    deadline = time.monotonic() + timeout
    load = []
    while True:
        try:
            with open("/proc/loadavg", encoding="ascii") as f:
                load = [float(x) for x in f.read().split()[:3]]
        except OSError:
            return []
        if load[0] <= frac * ncpu or time.monotonic() >= deadline:
            return load
        print(
            f"[bench] host busy (load1={load[0]:.1f} > "
            f"{frac * ncpu:.1f}); waiting for quiet ...",
            file=sys.stderr,
        )
        time.sleep(10)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")
    preflight_load = wait_for_quiet()
    spark = get_session("bench")
    specs = load_all_queries()
    names = [n for n in HEADLINE if n in specs]

    warm(spark)

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))

    def run_group(
        group: list[str], group_reps: int | None = None
    ) -> tuple[dict[str, float], dict[str, float]]:
        times: dict[str, float] = {}
        means: dict[str, float] = {}
        for name in group:
            samples = []
            for _ in range(group_reps or reps):
                t0 = time.perf_counter()
                df = specs[name].fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                del df  # release its freezes before the next build
                samples.append(time.perf_counter() - t0)
            times[name] = round(min(samples), 3)
            means[name] = round(trimmed_mean(samples), 3)
        return times, means

    times, means = run_group(names)
    # One automatic headline re-record if the spread still breaches the
    # gate guard (ONE constant, owned by
    # nchu_bigdata_spark.gate_constants.SPREAD_MAX and shared with
    # tools/round_gate — ADVICE r12 item 2 retired the silent 1.25
    # fallback copy here): the burst hit more than one rep per query,
    # so re-measure once and keep the quieter recording. Bounded to a
    # single retry — a persistent breach then records honestly and
    # fails the gate.
    from nchu_bigdata_spark.gate_constants import SPREAD_MAX as _spread_max
    if sum(means.values()) > _spread_max * sum(times.values()):
        print("[bench] headline spread breached; re-recording once",
              file=sys.stderr)
        retry_load = wait_for_quiet()
        times2, means2 = run_group(names)
        if sum(means2.values()) / max(sum(times2.values()), 1e-9) < sum(
            means.values()
        ) / max(sum(times.values()), 1e-9):
            times, means = times2, means2
            # the published headline is now the retry's recording; the
            # self-carried noise evidence must describe THAT run
            preflight_load = retry_load
    llm_times, llm_means = run_group([n for n in LLM_GROUP if n in specs])
    # SQL/graph composites are the slowest AND largest group (~95
    # entries by end of round 8); 2 reps bounds the bench's wall clock
    # (the first rep absorbs plan compilation, the second is the
    # steady-state read) — BENCH_LOCAL.json keeps the full per-query
    # record either way.
    sql_times, sql_means = run_group(
        [n for n in SQL_GROUP if n in specs], group_reps=min(reps, 2)
    )
    graph_times, graph_means = run_group(
        [n for n in GRAPH_GROUP if n in specs]
    )

    total = round(sum(times.values()), 3)
    total_mean = round(sum(means.values()), 3)
    prev = prev_llm_numbers()
    llm_delta = (
        {
            "vs_round": prev[0],
            **{
                q: round(t - prev[1][q], 3)
                for q, t in llm_times.items()
                if q in prev[1]
            },
        }
        if prev
        else None
    )
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # Methodology (recorded so rounds stay comparable): each
        # query timed `reps` times after a warm() pass; headline
        # value is per-query MIN; means give the cross-check.
        "reps": reps,
        "warmup": True,
        "agg": "min",
        # *_mean fields use the trimmed mean (middle reps, single
        # min/max dropped when reps >= 3) — see trimmed_mean()'s
        # rationale; the per-query MIN headline is unchanged.
        "mean_method": "trimmed",
        # Pre-flight 1/5/15-min loadavg observed after the bounded
        # wait-for-quiet (noise evidence for the spread cross-check).
        "preflight_loadavg": preflight_load,
        "queries_mean": means,
        "value_mean": total_mean,
        # LLM-pipeline group, tracked separately from the
        # baseline-comparable headline total above.
        "llm_queries": llm_times,
        "llm_total": round(sum(llm_times.values()), 3),
        "llm_queries_mean": llm_means,
        # Round-over-round LLM-group regression deltas (secs vs
        # the latest recorded BENCH_r{N}; negative = faster).
        "llm_delta": llm_delta,
        # SQL/warehouse/graph composite group (round 6+).
        "sql_queries": sql_times,
        "sql_total": round(sum(sql_times.values()), 3),
        "sql_queries_mean": sql_means,
        # Iterative graph kernels at full headline methodology
        # (round 10+): best-of-`reps`, warm session.
        "graph_queries": graph_times,
        "graph_total": round(sum(graph_times.values()), 3),
        "graph_queries_mean": graph_means,
    }
    line = json.dumps(payload)
    # Lossless side record (VERDICT r6 item 5): the driver captures the
    # stdout TAIL, which truncated rounds 6 AND 7's full line (parsed:
    # null both times). The full JSON lands in a committed file; stdout
    # gets only the COMPACT contract line (metric/value/unit/queries/
    # sf + a pointer) so the driver's tail can always parse it.
    #
    # ADVICE r13 item 1: BENCH_LOCAL.json is the gate's canonical
    # spread record, so ONLY a canonical run (the bench SF the rounds
    # compare at, with enough reps for a meaningful mean) may write
    # it. Smoke/partial runs (sf0.01 iteration loops, reps=1 quick
    # checks) land in BENCH_SMOKE.json instead — a cheap quiet record
    # must never shadow the round's published artifact.
    canonical = sf == "0.1" and reps >= 3
    side_name = "BENCH_LOCAL.json" if canonical else "BENCH_SMOKE.json"
    try:
        side = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), side_name
        )
        with open(side, "w", encoding="utf-8") as f:
            f.write(line + "\n")
    except OSError:
        pass  # stdout line remains the primary contract
    compact = {
        k: payload[k] for k in ("metric", "value", "unit", "queries", "sf")
    }
    compact["detail"] = side_name
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
