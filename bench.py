#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"queries": {...wall...}, "queries_cpu": {...cpu...},
 "queries_construction": {...}, "queries_construction_cpu": {...},
 "construction_eager": [...], "first_sample": [...], "sf": ...,
 "cpu_value": total_cpu_sec, "metric": ..., "value": total_wall_sec}

Every row is one ``queries()`` entry, built by its declared query and
billed by one rule; the bench has no per-row code. Each query is
materialized through the noop sink — full plan execution (scan →
shuffle → aggregate) without driver-collect overhead distorting the
measurement.

Two numbers per row:

- **wall** — elapsed seconds. Sensitive to co-tenant CPU steal on this
  host (documented ±30% across machine states in rounds 10-11).
- **cpu** — CPU seconds attributable to THIS row: executor task-thread
  CPU (executorCpuTime) summed over the stages of the jobs submitted
  under the row's own job group, read from Spark's status store, plus
  the Python driver's process_time delta. Job-group scoping keeps JVM
  GC / compiler threads and heap pressure from earlier rows out of a
  row's bill. Steal-invariant, so regression calls should cite this
  column.

The billing rule, the same for every row:

- **construction** — calling the query function, under its own job
  group, billed once (cold). Rows whose construction runs Spark jobs
  (eager checkpoints, driver-side model fits) are listed in
  ``construction_eager``; every row's construction leg is also emitted
  on its own (``queries_construction`` / ``queries_construction_cpu``).
- **action** — the min of two noop-sink samples when the second ran as
  many Spark tasks as the first; otherwise the first (cold) sample, and
  the row is listed in ``first_sample`` (its second run did not repeat
  the first one's work; it read a lazy checkpoint the first one filled,
  say).
- **long rows** (first action sample > 5 s) take one sample, unless the
  co-tenant detector says the machine was busy during it (external
  non-idle CPU, measured from /proc/stat minus this process tree's own
  CPU, above 15% of capacity): then the row is re-sampled once under the
  same rule, at most 6 times per suite, and listed in ``resampled``.

The cache is cleared after every row.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod  # noqa: E402
from concept_multi_db_query_engine_spark.session import get_spark  # noqa: E402

HEADLINE = [
    # engine-DSL pipeline (validation → ACL → plan → build → execute)
    "filter_eq",
    "filter_pattern_group",
    "join_inner",
    "join_transitive",
    "skew_salted_join",
    "skew_salted_count",
    "agg_group_count",
    "agg_having",
    "counted_exists_gte",
    "exists_in_or_group",
    "nested_exists",
    "order_limit_offset",
    "federated_join",
    "masking_role",
    # analytics
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q4",
    "tpch_q6",
    "tpch_q12",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "tpch_q2",
    "tpch_q11",
    "orders_rollup",
    "orders_cube",
    "orders_profile",
    "events_approx_distinct_kmv",
    "rolling_revenue_7d",
    "customer_order_gaps",
    "nation_revenue_pivot",
    "nation_revenue_unpivot",
    "orders_price_histogram",
    "orders_monthly_growth",
    "customer_revenue_deciles",
    "customer_revenue_concentration",
    "customer_rfm_segments",
    "customer_segments_setops",
    "purchase_click_attribution",
    "text_tfidf_top_terms",
    "text_top_bigrams",
    "window_topk_per_group",
    "events_hourly_rollup",
    "events_hourly_anomaly",
    "order_value_quantiles",
    "orders_winsorize",
    "order_value_quantiles_approx",
    "customer_revenue_deciles_approx",
    "events_funnel",
    "events_funnel_steps",
    "events_cohort_retention",
    "events_sessionize",
    "events_asof_attribution",
    "events_props_rollup",
    "events_transitions",
    "events_cooccurrence",
    "events_rolling_active_users",
    # LLM-data-pipeline operators
    "text_token_stats",
    "text_quality_score",
    "text_fingerprint",
    "text_bpe_token_stats",
    "text_contamination_check",
    "text_repetition_score",
    "text_gopher_rules",
    "text_pii_scrub",
    "docs_feature_matrix",
    "corpus_report",
    "corpus_drift",
    "docs_vocab_growth",
    "docs_stratified_sample",
    "docs_pack_sequences",
    "docs_chunk",
    "docs_hash_split",
    "docs_weighted_sample",
    "docs_clean_corpus",
    "docs_line_dedup",
    "dedup_exact",
    "dedup_incremental",
    "dedup_clusters",
    "dedup_ngram_jaccard",
    "dedup_repeated_passages",
    "dedup_minhash_lsh",
    "dedup_minhash_estimate",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "sim_topk_bruteforce",
    "sim_knn_label_vote",
    "sim_knn_graph",
    "graph_pagerank",
    "graph_pagerank_dangling",
    "embeddings_quantize_int8",
    "embeddings_l2_normalize",
    "sim_topk_lsh",
    "sim_topk_ivf",
    "sim_recall_at_k",
    "multimodal_frame_sample",
    "multimodal_decode_stats",
    "dedup_survivors",
    "sketch_distinct_comparison",
    # statistics / clustering family (round 5b)
    "stats_corr_matrix",
    "stats_ols_regression",
    "events_ab_test",
    "docs_chi_square",
    "embeddings_kmeans",
    "embeddings_random_projection",
    "embeddings_pq_encode",
    "sim_topk_pq",
    "stats_ols_by_group",
    "stats_ks_test",
    "events_mad_outliers",
    "stats_bh_correction",
    "stats_bootstrap_ci",
    "dedup_semantic",
    "embeddings_whiten",
    "sim_cosine_histogram",
    "docs_importance_weights",
    "docs_url_dedup",
    "docs_best_fit_pack",
    "events_heavy_hitters",
    "events_windowed_funnel",
    "graph_label_propagation",
    "events_session_paths",
    "events_reservoir_sample",
    "events_daily_ewma",
    "orders_zorder_layout",
    "events_skew_report",
    "corpus_snapshot_diff",
    "docs_truncation_report",
    "corpus_budget_allocation",
    "orders_equidepth_histogram",
    "orders_frequent_values",
    "docs_bpe_train",
    "docs_bpe_encode",
    "docs_dup_ngram_fraction",
    "dedup_semantic_survivors",
    "stats_welch_t_test",
    "stats_mann_whitney",
    "dedup_containment",
    "text_char_entropy",
    "orders_psi_drift",
    "graph_triangles",
    "graph_adamic_adar",
    "orders_market_basket",
    "docs_token_jsd_drift",
    "embeddings_corpus_stats",
    "events_kmv_resemblance",
    "sim_topk_rp_lsh",
    "events_session_stats",
    "graph_personalized_pagerank",
    "text_unigram_logprob",
    "text_bigram_logprob",
    # round-7 additions
    "orders_bloom_prefilter",
    "orders_upsert_compaction",
    "events_sliding_distinct_kmv",
    "sim_topk_ivf_pq",
    "stats_theil_sen",
    "orders_incremental_state",
    "orders_seasonal_decompose",
    "events_changepoint",
    "docs_lang_confusion",
    "dedup_lsh_tuning",
    "embeddings_pca_project",
    "embeddings_abtt",
    "dedup_minhash_incremental",
    "docs_perplexity_partition",
    "orders_seasonal_forecast",
    "suppliers_fuzzy_match",
    "docs_temperature_mix",
    "docs_nb_language",
    # round-8 additions
    "docs_bpe_encode_large",
    "multimodal_png_decode",
    "multimodal_y4m_decode",
    "docs_quality_logistic",
    "docs_score_calibration",
    "events_kaplan_meier",
    "sim_snn_graph",
    "docs_domain_quota",
    "docs_boilerplate_prefixes",
    "lineitem_join_size_estimate",
    "events_markov_attribution",
    "docs_bm25_topk",
    "docs_hybrid_rrf",
    "docs_grouped_split",
    "orders_conformal_interval",
    "dedup_span_removal",
    "events_position_attribution",
    "docs_mutual_information",
    "embeddings_matryoshka",
    "orders_quantile_regression",
    "docs_c2st_drift",
    "docs_feature_auc",
    "embeddings_negative_samples",
    "sim_ivf_tuning",
    "dedup_span_incremental",
    # round-8 late wave
    "orders_hilbert_layout",
    "orders_pruning_report",
    "graph_hits",
    "dedup_prefix_filter",
    "docs_pareto_frontier",
    "text_pmi_collocations",
    "orders_benford",
    "docs_woe_iv",
    "docs_kappa_lang",
    "sim_rank_rbo",
    "embeddings_silhouette",
    "docs_gains_table",
    "text_vocab_coverage",
    "orders_neyman_allocation",
    "docs_shrunk_rates",
    "events_scd2_history",
    "docs_quantile_normalize",
    "events_cross_correlation",
    "events_autocorrelation",
    "orders_expectations",
    "docs_lexical_diversity",
    "text_burstiness",
    "customers_l_diversity",
    "events_concurrency",
    "docs_target_encoding",
    "orders_wasserstein",
    "orders_table_digest",
    "graph_k_core",
    "events_exit_rates",
    "docs_sliced_accuracy",
    "events_diff_in_diff",
    "docs_mix_diversity",
    "lineitem_weighted_median",
    "docs_cramers_v",
    "embeddings_hard_negatives",
    "docs_threshold_sweep",
    "orders_seasonal_strength",
    "embeddings_triplets",
    "orders_cohort_ltv",
    "customers_fd_check",
    "schema_inclusion_deps",
    "parts_price_band_join",
    "orders_gap_fill",
    "parts_trending_brands",
    "events_log_rank",
    "events_growth_accounting",
    "orders_neyman_sample",
    "orders_holt_forecast",
    "embeddings_truncation_energy",
    "orders_cohens_d",
    "orders_forecast_backtest",
    "orders_daily_quantile_bands",
    "events_arrival_dispersion",
    "parts_abc_classes",
    "events_anomaly_leaderboard",
    "docs_distinctive_terms",
    "orders_fulfillment_sla",
    "orders_anova",
    "orders_kruskal_wallis",
    "orders_mann_kendall",
    "lineitem_spearman",
    "customers_gini",
    "orders_durbin_watson",
    "customers_theil_index",
    "orders_failures_sample",
    "embeddings_margin_pairs",
    "events_ab_sample_size",
    # round-8 rows previously missing from the bench
    "customers_k_anonymity",
    "events_conversion_lag",
    "embeddings_centroid_drift",
    "orders_seasonal_anomaly",
    # round-9 wave: distribution stats on the distributed-prefix
    # primitive, readability/Zipf, b-bit minhash, drift, calibration
    "orders_cvm",
    "orders_energy_distance",
    "lineitem_trimmed_mean",
    "orders_hodges_lehmann",
    "lineitem_kendall_tau",
    "lineitem_percent_rank",
    "docs_reading_ease",
    "docs_zipf_fit",
    "dedup_bbit_minhash",
    "orders_anderson_darling",
    "orders_page_hinkley",
    "docs_isotonic_calibration",
    "orders_simpson_paradox",
    "orders_ks_drift_leaderboard",
    "events_nelson_aalen",
    "orders_uplift_deciles",
    "orders_propensity_ate",
    "dedup_cross_source",
    "multimodal_wav_decode",
    "lineitem_poisson_rate",
    "events_sprt",
    "orders_mmd_drift",
    "orders_cuped",
    "orders_ab_proportion_plan",
    "orders_brown_forsythe",
    "orders_srm_check",
    # round-10 wave: distribution shape, post-hoc / paired / stratified
    # tests, regression diagnostics, resampling, control charts, time
    # series, graph topology, two-stage retrieval, blocking quality
    "orders_jarque_bera",
    "orders_welch_anova",
    "orders_tukey_hsd",
    "lineitem_partial_correlation",
    "orders_point_biserial",
    "orders_grubbs",
    "orders_mcnemar",
    "orders_cochran_armitage",
    "customers_mantel_haenszel",
    "orders_mood_median",
    "lineitem_cronbach_alpha",
    "orders_cusum_control",
    "orders_holm_correction",
    "lineitem_breusch_pagan",
    "orders_cooks_distance",
    "lineitem_vif",
    "orders_ljung_box",
    "orders_permutation_test",
    "graph_assortativity",
    "graph_connected_components",
    "sim_topk_two_stage",
    "dedup_blocking_quality",
    "docs_distinct_ngrams",
    "docs_distinct_ngrams_approx",
    "docs_rake_keywords",
    "orders_hurst_exponent",
    "events_granger_causality",
    "lineitem_lin_ccc",
    "docs_bland_altman",
    "orders_shewhart_xbar",
    "orders_bollinger_bands",
    "graph_resource_allocation",
    "orders_jonckheere_terpstra",
    "suppliers_fellegi_sunter",
    "multimodal_bmp_decode",
    "orders_dunns_test",
    "embeddings_intrinsic_dim",
    "orders_grouping_sets",
    "orders_sample_entropy",
    "orders_runs_test",
    "orders_bartlett",
    "orders_levene",
    "orders_friedman",
    "orders_kendalls_w",
    "docs_cochran_q",
    "docs_fleiss_kappa",
    "orders_page_trend",
    "orders_pot_gpd",
    "docs_vocab_richness",
    "sim_ranking_eval",
    "orders_bradley_terry",
    # round-12 wave: curation ops — DSIR resampling, online preference
    # ratings, DoReMi-lite mixture weights
    "docs_dsir_resample",
    "orders_elo_ratings",
    "docs_doremi_mixture",
    "sim_kcenter_sample",
    "docs_epoch_allocation",
    # round-13 wave: embedding-space decontamination, tokenizer
    # fertility A/B, suffix-array longest-duplicate stats
    "sim_embedding_decontamination",
    "docs_tokenizer_fertility",
    "docs_suffix_dup_stats",
    "docs_suffix_dup_passages",
    "sim_embedding_decontamination_lsh",
    # round-14 wave: post-training curation — turn dedup, atomic SFT
    # packing, hashed n-gram classifier, preference-pair health report
    "sft_turn_dedup",
    "sft_pack_conversations",
    "docs_hashed_ngram_lid",
    "prefs_margin_report",
]


class _CpuClock:
    """Cumulative CPU seconds for THIS process tree: the Python driver,
    the local-mode JVM, and every live /proc descendant — critically the
    pyspark.daemon worker processes that run mapInPandas/applyInPandas
    rows, which the old JVM-only read missed, so a long Arrow-UDF row
    saw its own workers as co-tenant steal in the ext_frac detector and
    burned the re-sample budget on itself. Reaped dead workers are
    covered by each survivor's cutime/cstime (only *waited-for dead*
    children count there, so live descendants are never double-billed).
    Steal-invariant: co-tenant load inflates wall time, not this.
    Used only to take this tree's own CPU out of the ext_frac steal
    detector's machine-wide reading."""

    def __init__(self) -> None:
        self._root = os.getpid()
        self._tck = 100.0
        self._ok = True
        try:
            self._tck = float(os.sysconf("SC_CLK_TCK"))
            self.now()  # probe /proc once; disable on any failure
        except Exception:
            self._ok = False

    def now(self) -> float:
        if not self._ok:
            return time.process_time()
        procs: dict = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    # field 2 (comm) may contain spaces/parens; split
                    # after the closing paren: ppid at idx 1, utime/
                    # stime/cutime/cstime at idx 11/12/13/14
                    rest = f.read().rsplit(") ", 1)[1].split()
                procs[int(d)] = (int(rest[1]),
                                 int(rest[11]) + int(rest[12])
                                 + int(rest[13]) + int(rest[14]))
            except (OSError, IndexError, ValueError):
                continue  # raced a process exit
        kids: dict = {}
        for pid, (ppid, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        total, stack, seen = 0, [self._root], set()
        while stack:
            pid = stack.pop()
            if pid in seen or pid not in procs:
                continue
            seen.add(pid)
            total += procs[pid][1]
            stack.extend(kids.get(pid, ()))
        return total / self._tck


def _machine_busy_seconds() -> float:
    """All-CPU non-idle jiffies from /proc/stat line 1, in seconds.
    Deltas of this minus this process tree's own CPU = co-tenant CPU."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        return (sum(vals) - idle) / float(os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


class _ScopedCpu:
    """Per-phase measurement scoped to a unique Spark job group.

    ``measure(fn)`` runs ``fn`` under a fresh job group and returns
    ``(wall, cpu, tasks, ext_frac, result)``:

    - cpu  = executorCpuTime (task threads only, ns→s) summed over the
      deduped stages of the group's jobs + the Python driver's
      process_time delta — other rows' GC debt and concurrent JVM
      housekeeping are not billed to this row;
    - tasks — completed tasks over those stages (0 when ``fn`` submitted
      no Spark job): the construction-eagerness detector, and the
      same-work check between two action samples;
    - ext_frac — co-tenant CPU during the phase as a fraction of total
      machine capacity (machine non-idle minus this process tree),
      the steal detector for the >5 s re-sample rule.

    The status store is reached through py4j; construction raises if it
    is not there, so no row is ever billed on another clock.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._own = _CpuClock()
        self._n = 0
        self._ncpu = float(os.cpu_count() or 1)
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        gw = self._sc._gateway
        self._empty_list = gw.jvm.java.util.ArrayList()
        self._empty_quantiles = gw.new_array(gw.jvm.double, 0)
        self._bus.waitUntilEmpty()
        # signature probe on a nonexistent stage id: a wrong py4j
        # signature raises here, a missing stage yields an empty Seq
        self._store.stageData(2147483000, False, self._empty_list,
                              False, self._empty_quantiles)

    def _group_stats(self, group: str) -> tuple[float, int]:
        """(executor CPU seconds, completed tasks) of ``group``'s jobs."""
        self._bus.waitUntilEmpty()
        seen: set[int] = set()
        total_ns = tasks = 0
        for jid in self._tracker.getJobIdsForGroup(group):
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                sid = int(sid)
                if sid in seen:
                    continue  # skipped stages are shared across jobs
                seen.add(sid)
                seq = self._store.stageData(
                    sid, False, self._empty_list, False,
                    self._empty_quantiles)
                for i in range(seq.size()):
                    stage = seq.apply(i)
                    total_ns += stage.executorCpuTime()
                    tasks += stage.numCompleteTasks()
        return total_ns / 1e9, tasks

    def measure(self, fn):
        self._n += 1
        group = f"bench-{self._n}"
        self._sc.setJobGroup(group, group)
        busy0 = _machine_busy_seconds()
        own0 = self._own.now()
        py0 = time.process_time()
        w0 = time.perf_counter()
        try:
            result = fn()
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        wall = time.perf_counter() - w0
        # read before this method's own /proc and status-store reads,
        # which grow with the row's stage count and are not its work
        py = time.process_time() - py0
        own_delta = self._own.now() - own0
        ext = max(0.0, (_machine_busy_seconds() - busy0) - own_delta)
        ext_frac = ext / (self._ncpu * wall) if wall > 0 else 0.0
        cpu, tasks = self._group_stats(group)
        return wall, cpu + py, tasks, ext_frac, result


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="cmdbqe-bench", cpus=cpus)

    queries = entry_mod.queries()
    # JVM/codegen warmup on the smallest table
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    # pre-warm the parquet schema memo for every table: the FIRST
    # schema-inferring read of a path runs a 1-task footer job, which would
    # otherwise be billed to (and mis-flag as construction-eager) whichever
    # query touches that table first
    from concept_multi_db_query_engine_spark import testdata as _td

    for _t in ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"):
        _td.load_table(spark, sf_dir, _t)

    scoped = _ScopedCpu(spark)
    try:
        _load1 = round(os.getloadavg()[0], 2)
    except OSError:
        _load1 = -1.0

    timings: dict[str, float] = {}
    cpu_timings: dict[str, float] = {}
    cons_wall: dict[str, float] = {}
    cons_cpu: dict[str, float] = {}
    construction_eager: list[str] = []
    first_sample: list[str] = []
    resampled: list[str] = []
    # the steal detector re-samples at most this many >5 s rows per
    # suite, so a busy co-tenant cannot double the suite's wall time
    resamples_left = 6

    def _emit(partial: bool = False) -> None:
        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        cons_total = round(sum(cons_wall.values()), 4)
        cons_cpu_total = round(sum(cons_cpu.values()), 4)
        cpu_total = round(sum(cpu_timings.values()), 4)
        wall_total = round(sum(timings.values()), 4)
        payload: dict = {
            "queries": timings,
            "queries_cpu": cpu_timings,
            "queries_construction": cons_wall,
            "queries_construction_cpu": cons_cpu,
            "construction_eager": sorted(construction_eager),
            "first_sample": sorted(first_sample),
            "resampled": sorted(resampled),
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "n_queries": len(timings),
            "unit": "sec",
            "cpu_metric": "job-group-scoped executor task CPU + py driver",
            # compact split totals near the tail: the driver archives
            # only the LAST ~2000 chars of this line, so the same-
            # billing round-over-round numbers must live here, not
            # only in the (head-truncated) per-row maps
            "n_construction_eager": len(construction_eager),
            "n_first_sample": len(first_sample),
            "n_resampled": len(resampled),
            "load1_at_start": _load1,
            "construction_wall": cons_total,
            "construction_cpu": cons_cpu_total,
            "action_wall": round(wall_total - cons_total, 4),
            "action_cpu": round(cpu_total - cons_cpu_total, 4),
        }
        if partial:
            # near the tail so the flag survives head truncation: a
            # SIGTERM'd run must never read as a (fast) full suite
            payload["partial"] = True
        # Key order matters: the headline totals ("value"/"metric")
        # go LAST — a truncated head loses individual per-query rows,
        # never totals.
        payload["cpu_value"] = cpu_total
        payload["metric"] = "headline-suite wall time"
        payload["value"] = wall_total
        print(json.dumps(payload), flush=True)

    def _on_term(signum, frame) -> None:
        # an external timeout must not cost the whole run: emit the
        # rows that completed (flagged partial) and exit cleanly
        print(f"[bench] SIGTERM after {len(timings)} rows - emitting "
              "partial suite", file=sys.stderr)
        _emit(partial=True)
        os._exit(0)

    signal.signal(signal.SIGTERM, _on_term)

    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _action(name: str, df) -> tuple[float, float]:
        """The action leg: min of two samples when the second sample ran
        as many tasks as the first, else the first (cold) sample — a
        different task count means the second run did not repeat the
        first one's work (it read a checkpoint or cache the first one
        filled, say). A >5 s row takes one sample, unless the co-tenant
        detector saw external CPU above 15% of machine capacity during
        it; then it is re-sampled once under the same rule."""
        nonlocal resamples_left
        w1, c1, t1, ext1, _ = scoped.measure(lambda: _noop(df))
        if w1 > 5.0:
            if ext1 <= 0.15 or resamples_left == 0:
                return w1, c1
            resamples_left -= 1
            resampled.append(name)
            print(f"[bench] co-tenant busy (ext={ext1:.0%}) during a "
                  f">5s row - re-sampling once", file=sys.stderr)
        w2, c2, t2, _, _ = scoped.measure(lambda: _noop(df))
        if t2 != t1:
            first_sample.append(name)
            return w1, c1
        return min(w1, w2), min(c1, c2)

    def _run_row(name: str, build) -> None:
        """One billing rule for every row: construction (its own job
        group, billed once, cold) plus the action leg, then a cleared
        cache. Construction is also emitted on its own in the
        queries_construction maps, and a row whose construction ran
        Spark jobs is listed in construction_eager."""
        cw, cc, cons_tasks, _, df = scoped.measure(build)
        aw, ac = _action(name, df)
        if cons_tasks:
            construction_eager.append(name)
        timings[name] = round(cw + aw, 4)
        cpu_timings[name] = round(cc + ac, 4)
        cons_wall[name] = round(cw, 4)
        cons_cpu[name] = round(cc, 4)
        # progress marker so a killed/stalled run still shows where it
        # was (stdout stays the one-JSON-line contract)
        print(f"[bench] {name} {cw + aw:.3f}s cpu={cc + ac:.3f}s "
              f"cons={cw:.3f}s", file=sys.stderr)
        spark.catalog.clearCache()

    for name in HEADLINE:
        _run_row(name, lambda: queries[name](spark, sf_dir))

    _emit()


if __name__ == "__main__":
    main()
