"""Dedicated edge-case tests for the round-10 operator wave:
distribution shape (Jarque-Bera, Grubbs), heteroscedastic/post-hoc
k-group tests (Welch ANOVA, Tukey HSD, Mood's median), paired and
stratified categorical tests (McNemar, Cochran-Armitage,
Mantel-Haenszel), agreement/reliability (Cronbach α, point-biserial,
partial correlation), regression diagnostics (Breusch-Pagan, Cook's
distance, VIF), multiple testing (Holm), resampling (permutation
test), control charts (CUSUM), time series (Ljung-Box, Hurst,
Granger), graph topology (assortativity, connected components),
two-stage retrieval, blocking quality, and text diversity/RAKE.
Closed-form known cases + guard rails; oracle parity lives in
tests/test_oracle_parity.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from concept_multi_db_query_engine_spark import operators as ops


class TestShapeStats:
    def test_jarque_bera_symmetric_two_point(self, spark):
        # x ∈ {−1, 1} equally: skew 0, kurtosis 1 → excess −2,
        # JB = n/6 · (0 + 4/4) = n/6
        rows = [(-1.0,)] * 30 + [(1.0,)] * 30
        df = spark.createDataFrame(rows, "v double")
        r = ops.jarque_bera(df, "v").collect()[0]
        assert r["n"] == 60
        assert r["skewness"] == 0.0
        assert r["ex_kurtosis"] == -2.0
        assert r["jb_stat"] == 10.0

    def test_grubbs_flags_the_planted_outlier(self, spark):
        vals = [float(v) for v in range(20)] + [500.0]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        r = ops.grubbs_test(df, "v").collect()[0]
        assert r["suspect_value"] == 500.0
        assert r["g_stat"] > 4.0


class TestKGroup:
    def test_welch_anova_equal_groups_f_zero(self, spark):
        rows = [(g, float(v)) for g in ("a", "b", "c")
                for v in (1.0, 2.0, 3.0, 4.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        r = ops.welch_anova(df, "g", "v").collect()[0]
        assert r["k"] == 3 and r["f_stat"] == 0.0

    def test_welch_anova_degenerate_returns_nulls(self, spark):
        df = spark.createDataFrame([("a", 1.0)], "g string, v double")
        r = ops.welch_anova(df, "g", "v").collect()[0]
        assert r["f_stat"] is None

    def test_tukey_pairs_and_symmetric_diff(self, spark):
        # values scaled up so the unit-lattice MSW quantization keeps
        # within-group variance visible (the production magnitudes)
        rows = [("a", 100.0), ("a", 200.0), ("b", 500.0), ("b", 600.0),
                ("c", 100.0), ("c", 200.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = ops.tukey_hsd(df, "g", "v").collect()
        assert [(r["group_a"], r["group_b"]) for r in out] == [
            ("a", "b"), ("a", "c"), ("b", "c")]
        ab = out[0]
        assert ab["mean_diff"] == -400.0
        ac = out[1]
        assert ac["mean_diff"] == 0.0 and ac["q_stat"] == 0.0

    def test_tukey_zero_msw_yields_null_q(self, spark):
        # all within-group variance vanishes → q undefined, never a
        # divide-by-zero error (ANSI mode)
        rows = [("a", 1.0), ("a", 1.0), ("b", 5.0), ("b", 5.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = ops.tukey_hsd(df, "g", "v").collect()
        assert out[0]["q_stat"] is None

    def test_mood_median_balanced(self, spark):
        # both groups straddle the grand median identically → chi² 0
        rows = [(g, v) for g in ("a", "b")
                for v in (1.0, 2.0, 3.0, 4.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        r = ops.mood_median_test(df, "g", "v").collect()[0]
        assert r["chi2"] == 0.0 and r["df"] == 1
        assert r["grand_median"] == 2.5


class TestPairedAndStratified:
    def test_mcnemar_discordant_cells(self, spark):
        rows = (
            [(True, True)] * 10 + [(True, False)] * 6
            + [(False, True)] * 2 + [(False, False)] * 10
        )
        df = spark.createDataFrame(rows, "a boolean, b boolean")
        r = ops.mcnemar_test(df, "a", "b").collect()[0]
        assert (r["n_10"], r["n_01"]) == (6, 2)
        assert r["mcnemar_chi2"] == 1.125  # (|6−2|−1)²/8
        assert r["discordant_ratio"] == 3.0

    def test_cochran_armitage_perfect_trend(self, spark):
        # success rate strictly increases with the score
        rows = []
        for s, p in ((1, 1), (2, 5), (3, 9)):
            rows += [(s, 1)] * p + [(s, 0)] * (10 - p)
        df = spark.createDataFrame(rows, "s long, k int")
        r = ops.cochran_armitage(df, "s", "k = 1").collect()[0]
        assert r["n"] == 30 and r["k_success"] == 15
        assert r["z_stat"] > 3.0

    def test_mantel_haenszel_null_association(self, spark):
        # within each stratum exposure is independent of outcome
        rows = []
        for st in ("s1", "s2"):
            for e in (True, False):
                for y in (True, False):
                    rows += [(st, e, y)] * 5
        df = spark.createDataFrame(
            rows, "st string, e boolean, y boolean"
        )
        r = ops.mantel_haenszel(df, "st", "e", "y").collect()[0]
        assert r["k_strata"] == 2
        assert r["or_mh"] == 1.0


class TestAgreement:
    def test_cronbach_alpha_perfectly_parallel_items(self, spark):
        # three identical items → α = 1
        rows = [(float(v), float(v), float(v)) for v in range(1, 9)]
        df = spark.createDataFrame(rows, "i1 double, i2 double, i3 double")
        r = ops.cronbach_alpha(df, ["i1", "i2", "i3"]).collect()[0]
        assert r["alpha"] == 1.0

    def test_cronbach_needs_two_items(self, spark):
        df = spark.createDataFrame([(1.0,)], "i1 double")
        with pytest.raises(ValueError):
            ops.cronbach_alpha(df, ["i1"])

    def test_point_biserial_perfect_separation(self, spark):
        rows = [(True, 10.0)] * 5 + [(False, 0.0)] * 5
        df = spark.createDataFrame(rows, "t boolean, v double")
        r = ops.point_biserial(df, "t", "v").collect()[0]
        assert r["mean_pos"] == 10.0 and r["mean_neg"] == 0.0
        assert r["r_pb"] == 1.0

    def test_partial_correlation_removes_confounder(self, spark):
        # x and y both equal z (+tiny jitter-free): r_xy = 1 but the
        # confounder-adjusted partial is undefined-ish; use x=z, y=−z
        rows = [(float(v), float(-v), float(v)) for v in range(1, 11)]
        df = spark.createDataFrame(rows, "x double, y double, z double")
        r = ops.partial_correlation(df, "x", "y", "z").collect()[0]
        assert r["r_xy"] == -1.0 and r["r_xz"] == 1.0


class TestRegressionDiagnostics:
    def test_breusch_pagan_perfect_line_degenerates_to_null(self, spark):
        # exact line y = 2x + 1: zero residual variance → the aux R²
        # (and hence LM) is undefined, surfaced as NULL not a crash
        rows = [(float(v), 2.0 * v + 1.0) for v in range(1, 21)]
        df = spark.createDataFrame(rows, "x double, y double")
        r = ops.breusch_pagan(df, "x", "y").collect()[0]
        assert r["slope"] == 2.0 and r["intercept"] == 1.0
        assert r["lm_stat"] is None

    def test_breusch_pagan_flags_fanning_residuals(self, spark):
        # |residual| grows with x (deterministic fan) → LM well above 0
        rows = []
        for v in range(1, 41):
            e = (1.0 if v % 2 == 0 else -1.0) * v * 10.0
            rows.append((float(v), 5.0 * v + e))
        df = spark.createDataFrame(rows, "x double, y double")
        r = ops.breusch_pagan(df, "x", "y").collect()[0]
        assert r["lm_stat"] is not None and r["lm_stat"] > 5.0
        assert 0.0 <= r["r2_aux"] <= 1.0

    def test_cooks_distance_flags_the_lever_point(self, spark):
        rows = [(i, float(i), float(i)) for i in range(1, 20)]
        rows.append((99, 40.0, -100.0))  # far-x, far-off-line point
        df = spark.createDataFrame(rows, "id long, x double, y double")
        out = ops.cooks_distance(df, "id", "x", "y", top_k=3).collect()
        assert out[0]["id"] == 99
        assert out[0]["cooks_d"] > out[1]["cooks_d"]

    def test_vif_independent_features_near_one(self, spark):
        # orthogonal-ish features: VIF ≈ 1
        rows = [(float(i % 3), float(i % 5), float(i % 7))
                for i in range(105)]
        df = spark.createDataFrame(rows, "a double, b double, c double")
        out = ops.vif_report(df, ["a", "b", "c"]).collect()
        assert len(out) == 3
        for r in out:
            assert 0.99 <= r["vif"] <= 1.05

    def test_vif_requires_three(self, spark):
        df = spark.createDataFrame([(1.0, 2.0)], "a double, b double")
        with pytest.raises(ValueError):
            ops.vif_report(df, ["a", "b"])


class TestMultipleTestingAndResampling:
    def test_holm_monotone_and_capped(self, spark):
        rows = [("h1", 0.001), ("h2", 0.02), ("h3", 0.04),
                ("h4", 0.9)]
        df = spark.createDataFrame(rows, "h string, p_value double")
        out = {r["h"]: r for r in
               ops.holm_adjust(df, "p_value", key_col="h").collect()}
        assert out["h1"]["p_holm"] == pytest.approx(0.004)
        assert out["h2"]["p_holm"] == pytest.approx(0.06)
        # step-down monotonicity
        assert out["h3"]["p_holm"] >= out["h2"]["p_holm"]
        assert out["h4"]["p_holm"] <= 1.0
        assert out["h1"]["significant_holm"] is True
        assert out["h2"]["significant_holm"] is False

    def test_permutation_test_null_is_insignificant(self, spark):
        # consecutive pairs share a value, so the group means are
        # IDENTICAL — obs_diff 0 → every permutation is >= extreme
        rows = [(i, float((i // 2) % 10), i % 2 == 0)
                for i in range(200)]
        df = spark.createDataFrame(rows, "id long, v double, g boolean")
        r = ops.permutation_test_mean(
            df, "v", "g", "id", n_perm=48
        ).collect()[0]
        assert r["n"] == 200 and r["n_perm"] == 48
        assert r["obs_diff"] == 0.0
        assert r["p_value"] == 1.0

    def test_permutation_test_strong_effect(self, spark):
        rows = [(i, 100.0 if i < 100 else 0.0, i < 100)
                for i in range(200)]
        df = spark.createDataFrame(rows, "id long, v double, g boolean")
        r = ops.permutation_test_mean(
            df, "v", "g", "id", n_perm=48
        ).collect()[0]
        assert r["obs_diff"] == 100.0
        assert r["n_extreme"] == 0
        assert r["p_value"] == pytest.approx(1.0 / 49.0, abs=1e-6)


class TestControlAndSeries:
    def test_cusum_detects_level_shift(self, spark):
        vals = [10.0] * 30 + [20.0] * 30
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "idx long, x double"
        )
        r = ops.cusum_control(df, "idx", "x").collect()[0]
        assert r["n_periods"] == 60 and r["mu"] == 15.0
        # positive drift accumulates after the shift at idx 30
        assert r["cusum_pos_max"] == 150.0
        assert r["pos_peak_idx"] == 59

    def test_ljung_box_alternating_series_lag1_negative(self, spark):
        vals = [float(1 if i % 2 == 0 else -1) for i in range(40)]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "idx long, x double"
        )
        out = {r["lag"]: r for r in
               ops.ljung_box(df, "idx", "x", max_lag=3).collect()}
        assert out[1]["r_k"] < -0.9
        assert out[2]["r_k"] > 0.9
        assert out[3]["q_stat"] >= out[1]["q_stat"]

    def test_hurst_bounds_and_shape(self, spark):
        # deterministic trending series → strongly persistent (H high)
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(256)], "idx long, x double"
        )
        out = ops.hurst_exponent(df, "idx", "x").collect()
        assert [r["block_w"] for r in out] == [8, 16, 32, 64]
        assert out[0]["hurst"] > 0.9

    def test_granger_self_driving_series(self, spark):
        # y_t = y_{t−1} + x_{t−1} exactly → unrestricted RSS ~ 0
        ys, xs = [1.0], [float(i % 4 + 1) for i in range(60)]
        for t in range(1, 60):
            ys.append(ys[t - 1] * 0.5 + xs[t - 1])
        rows = [
            (ys[t], ys[t - 1], xs[t - 1]) for t in range(1, 60)
        ]
        df = spark.createDataFrame(rows, "y double, ylag double, xlag double")
        r = ops.granger_causality(df, "y", "ylag", "xlag").collect()[0]
        assert r["rss_unrestricted"] < 0.001
        assert r["f_stat"] > 100.0


class TestGraphAndRetrieval:
    def test_assortativity_star_is_negative(self, spark):
        edges = [(0, i) for i in range(1, 8)]
        df = spark.createDataFrame(edges, "src long, dst long")
        r = ops.degree_assortativity(df).collect()[0]
        assert r["n_nodes"] == 8 and r["n_edges"] == 7
        assert r["assortativity"] == -1.0

    def test_connected_components_two_islands(self, spark):
        edges = [(1, 2), (2, 3), (10, 11)]
        df = spark.createDataFrame(edges, "src long, dst long")
        out = {r["node"]: (r["component"], r["component_size"])
               for r in ops.connected_components(df).collect()}
        assert out[1] == (1, 3) and out[3] == (1, 3)
        assert out[10] == (10, 2) and out[11] == (10, 2)

    def test_connected_components_raises_on_non_convergence(self, spark):
        # a length-6 path needs more than 2 min-propagation rounds;
        # silently-split components must be an error, not an answer
        edges = [(i, i + 1) for i in range(6)]
        df = spark.createDataFrame(edges, "src long, dst long")
        with pytest.raises(ValueError, match="max_iterations"):
            ops.connected_components(df, max_iterations=2)

    def test_duplicate_clusters_raises_on_non_convergence(self, spark):
        # a 61-node chain needs 60 rounds; after 25 the labels would
        # split it into 36 clusters
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(60)], "d1 long, d2 long")
        with pytest.raises(ValueError, match="max_iter=25 rounds"):
            ops.duplicate_clusters(pairs, max_iter=25).collect()

    def test_duplicate_clusters_keeps_self_pair_nodes(self, spark):
        pairs = spark.createDataFrame(
            [(5, 5), (1, 2), (2, 3)], "d1 long, d2 long")
        out = {r["doc_id"]: r["cluster_id"]
               for r in ops.duplicate_clusters(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 5: 5}

    def test_two_stage_requires_shortlist_ge_k(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError):
            ops.two_stage_topk(df, k=10, shortlist=5)


class TestTextAndDedup:
    def test_distinct_ngrams_repeated_doc(self, spark):
        df = spark.createDataFrame(
            [(1, "x y x y"), (2, "x y x y")], "doc_id long, text string"
        )
        out = {r["n"]: r for r in
               ops.distinct_ngram_diversity(df, max_n=2).collect()}
        assert out[1]["total_ngrams"] == 8
        assert out[1]["distinct_ngrams"] == 2
        assert out[2]["total_ngrams"] == 6
        assert out[2]["distinct_ngrams"] == 2  # 'x y' and 'y x'

    def test_distinct_ngrams_approx_tracks_exact(self, spark):
        # 600 distinct unigrams >> k=64: KMV estimate within the
        # ~1/sqrt(k-2) relative-error envelope (3 sigma ~ 38%);
        # small kinds (< k distinct) return the exact count
        # tokenizer is [a-z]-only: build 600 unique letter words
        def word(i):
            return "a" * (i % 25 + 1) + "b" * (i // 25 + 1)
        docs = spark.createDataFrame(
            [(i, f"{word(i)} {word(i)} common") for i in range(600)],
            "doc_id long, text string",
        )
        ex = {r["n"]: r for r in
              ops.distinct_ngram_diversity(docs, max_n=2).collect()}
        ap = {r["n"]: r for r in
              ops.distinct_ngram_diversity_approx(
                  docs, max_n=2, k=64).collect()}
        assert ap[1]["total_ngrams"] == ex[1]["total_ngrams"]
        exact1 = ex[1]["distinct_ngrams"]
        assert ap[1]["k_used"] == 64
        assert abs(ap[1]["distinct_est"] - exact1) / exact1 < 0.40
        # bigrams: 'wN wN', 'wN common' per doc -> 1200 distinct > k;
        # swap to a tiny corpus to hit the exact-k_used branch
        small = spark.createDataFrame(
            [(1, "a b c")], "doc_id long, text string"
        )
        ap_small = {r["n"]: r for r in
                    ops.distinct_ngram_diversity_approx(
                        small, max_n=2, k=64).collect()}
        assert ap_small[1]["k_used"] == 3
        assert ap_small[1]["distinct_est"] == 3.0
        with pytest.raises(ValueError, match="k must be"):
            ops.distinct_ngram_diversity_approx(small, k=4)

    def test_rake_prefers_long_phrases(self, spark):
        df = spark.createDataFrame(
            [(1, "deep learning of the deep learning pipeline"),
             (2, "pipeline is deep learning")],
            "doc_id long, text string",
        )
        out = ops.rake_keywords(df, k=3).collect()
        # the longest stopword-free run scores highest
        assert out[0]["phrase"] == "deep learning pipeline"

    def test_blocking_quality_bounds(self, spark):
        rows = [
            (i, "alpha beta gamma delta epsilon zeta eta theta")
            for i in range(4)
        ] + [
            (10 + i, f"unique{i} words{i} here{i} now{i} later{i} "
                     f"again{i} more{i} stuff{i}")
            for i in range(4)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = ops.blocking_quality(df).collect()[0]
        assert r["n_docs"] == 8
        assert r["total_pairs"] == 28
        # the four identical docs are true dups and must all be caught
        assert r["n_truth"] == 6 and r["n_hits"] == 6
        assert r["pair_completeness"] == 1.0
        assert 0.0 <= r["reduction_ratio"] <= 1.0


class TestAgreementAndCharts:
    def test_lin_ccc_perfect_agreement(self, spark):
        rows = [(float(v), float(v)) for v in range(1, 30)]
        df = spark.createDataFrame(rows, "x double, y double")
        r = ops.lin_ccc(df, "x", "y").collect()[0]
        assert r["pearson_r"] == 1.0 and r["ccc"] == 1.0
        assert r["location_shift"] == 0.0

    def test_lin_ccc_shift_penalized(self, spark):
        # y = x + 100: r stays 1, CCC drops well below 1
        rows = [(float(v), float(v) + 100.0) for v in range(1, 30)]
        df = spark.createDataFrame(rows, "x double, y double")
        r = ops.lin_ccc(df, "x", "y").collect()[0]
        assert r["pearson_r"] == 1.0
        assert r["ccc"] < 0.05
        assert r["location_shift"] == -100.0

    def test_bland_altman_constant_bias(self, spark):
        rows = [(float(v), float(v) - 3.0) for v in range(1, 41)]
        df = spark.createDataFrame(rows, "x double, y double")
        r = ops.bland_altman(df, "x", "y").collect()[0]
        assert r["mean_diff"] == 3.0 and r["sd_diff"] == 0.0
        assert r["loa_lo"] == 3.0 and r["loa_hi"] == 3.0
        assert r["n_outside"] == 0

    def test_shewhart_complete_subgroups_only(self, spark):
        rows = []
        for g in range(6):
            for i in range(5):
                rows.append((f"g{g}", 10.0 + (i % 3)))
        rows.append(("short", 99.0))  # incomplete subgroup drops
        df = spark.createDataFrame(rows, "sg string, v double")
        out = ops.shewhart_xbar_r(df, "sg", "v", subgroup_size=5) \
            .collect()
        assert len(out) == 6
        assert all(not r["ooc_mean"] and not r["ooc_range"]
                   for r in out)

    def test_shewhart_size_validated(self, spark):
        df = spark.createDataFrame([("a", 1.0)], "sg string, v double")
        with pytest.raises(ValueError):
            ops.shewhart_xbar_r(df, "sg", "v", subgroup_size=50)

    def test_bollinger_flat_series_never_breaches(self, spark):
        df = spark.createDataFrame(
            [(i, 7.0) for i in range(40)], "idx long, v double"
        )
        out = ops.bollinger_bands(df, "idx", "v", window=20).collect()
        assert len(out) == 21  # rows 19..39 have full windows
        assert all(r["sma"] == 7.0 and not r["breach"] for r in out)

    def test_bollinger_spike_breaches(self, spark):
        vals = [10.0] * 39 + [1000.0]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "idx long, v double"
        )
        out = ops.bollinger_bands(df, "idx", "v", window=20).collect()
        assert out[-1]["value"] == 1000.0 and out[-1]["breach"]


class TestOrderedAndLinkPrediction:
    def test_jonckheere_monotone_groups(self, spark):
        # tier means strictly increase → strongly positive z
        rows = []
        for s in (1, 2, 3):
            rows += [(s, float(10 * s + d)) for d in range(10)]
        df = spark.createDataFrame(rows, "s long, v double")
        r = ops.jonckheere_terpstra(df, "s", "v").collect()[0]
        assert r["n"] == 30 and r["k"] == 3
        # every cross-tier pair is concordant: JT = 3 * 100
        assert r["jt_stat"] == 300.0
        assert r["z_stat"] > 3.0

    def test_jonckheere_ties_count_half(self, spark):
        rows = [(1, 5.0), (1, 5.0), (2, 5.0), (2, 5.0)]
        df = spark.createDataFrame(rows, "s long, v double")
        r = ops.jonckheere_terpstra(df, "s", "v").collect()[0]
        # all four cross pairs are ties → JT = 0.5 * 4 = 2
        assert r["jt_stat"] == 2.0

    def test_jonckheere_needs_two_groups(self, spark):
        df = spark.createDataFrame([(1, 1.0)], "s long, v double")
        with pytest.raises(ValueError):
            ops.jonckheere_terpstra(df, "s", "v")

    def test_jonckheere_guards_continuous_scores(self, spark):
        # a continuous group expression would be an unbounded driver
        # collect and a per-score aggregate column — must raise loudly
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "s long, v double"
        )
        with pytest.raises(ValueError, match="max_groups"):
            ops.jonckheere_terpstra(df, "s", "v", max_groups=10)

    def test_dunns_guards_continuous_groups(self, spark):
        # a continuous group column would silently explode into a k²
        # pairwise frame — must raise loudly like its siblings
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "g long, v double"
        )
        with pytest.raises(ValueError, match="max_groups"):
            ops.dunns_test(df, "g", "v", max_groups=10)

    def test_page_trend_guards_continuous_treatments(self, spark):
        rows = [(b, t, float(b * 100 + t))
                for b in range(3) for t in range(20)]
        df = spark.createDataFrame(rows, "blk long, t long, v double")
        with pytest.raises(ValueError, match="max_treatments"):
            ops.page_trend_test(df, "blk", "t", "v", max_treatments=10)

    def test_resource_allocation_path_graph(self, spark):
        # path 1-2-3: only candidate pair is (1,3) via w=2 (deg 2)
        edges = [(1, 2), (2, 3)]
        df = spark.createDataFrame(edges, "src long, dst long")
        out = ops.resource_allocation_scores(df).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["u"], r["v"]) == (1, 3)
        assert r["common_neighbors"] == 1
        assert r["ra_score"] == 0.5  # 1/deg(2) = 1/2


class TestRecordLinkage:
    def test_fellegi_sunter_discriminating_field(self, spark):
        # field A agrees on every match and never on non-matches;
        # field B agrees everywhere (uninformative)
        rows = (
            [(True, True, True)] * 20
            + [(False, False, True)] * 80
        )
        df = spark.createDataFrame(
            rows, "is_m boolean, fa boolean, fb boolean"
        )
        out = {r["field"]: r for r in ops.fellegi_sunter_weights(
            df, "is_m", {"fa": "fa", "fb": "fb"}
        ).collect()}
        a, b = out["fa"], out["fb"]
        assert a["n_match"] == 20 and a["n_nonmatch"] == 80
        # Laplace: m = 21/22, u = 1/82 → strongly positive weight
        assert a["weight_agree"] > 5.0
        assert a["weight_disagree"] < -3.0
        # uninformative field: m ≈ u → weights near zero
        assert abs(b["weight_agree"]) < 0.1

    def test_fellegi_sunter_needs_fields(self, spark):
        df = spark.createDataFrame([(True,)], "is_m boolean")
        with pytest.raises(ValueError):
            ops.fellegi_sunter_weights(df, "is_m", {})


class TestBmpCodec:
    def test_bmp_decode_matches_analytic_truth(self, spark):
        from concept_multi_db_query_engine_spark.operators import (
            multimodal as mm,
        )

        media = mm.synthetic_bmp_table(spark, 12)
        got = sorted(
            tuple(r) for r in mm.bmp_decode_stats(media).collect()
        )
        want = sorted(mm.bmp_decode_expected(12))
        assert got == want

    def test_bmp_decode_rejects_garbage(self, spark):
        from concept_multi_db_query_engine_spark.operators import (
            multimodal as mm,
        )

        rows = [
            (0, bytearray(b"NOTABMP" * 10), 0, 0, "image/bmp"),
            (1, None, 0, 0, "image/bmp"),
            (2, bytearray(mm.synthetic_png(3)), 0, 0, "image/png"),
        ]
        media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
        out = {r["doc_id"]: r for r in
               mm.bmp_decode_stats(media).collect()}
        assert not out[0]["is_valid"]
        assert not out[1]["is_valid"]
        assert not out[2]["is_valid"]


class TestDunnAndIntrinsicDim:
    def test_dunns_separated_groups(self, spark):
        rows = ([("a", float(v)) for v in range(10)]
                + [("b", float(v) + 100.0) for v in range(10)]
                + [("c", float(v) + 200.0) for v in range(10)])
        df = spark.createDataFrame(rows, "g string, v double")
        out = {(r["group_a"], r["group_b"]): r
               for r in ops.dunns_test(df, "g", "v").collect()}
        assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
        # fully separated ranks: a < b < c → strongly negative z
        assert out[("a", "b")]["z_stat"] < -2.0
        assert out[("a", "c")]["z_stat"] < out[("a", "b")]["z_stat"]
        assert out[("a", "b")]["mean_rank_a"] == 5.5

    def test_intrinsic_dim_line_is_low(self, spark):
        # points on a 1-D ray through 8-D space: ID should be small
        rows = [
            (i, [float(i + 1) * c for c in
                 (1.0, 2.0, 0.5, 1.5, 0.25, 3.0, 0.75, 2.5)])
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        r = ops.intrinsic_dimension_two_nn(df).collect()[0]
        # colinear vectors have cosine 1 → all points are duplicates
        # at the 1e-6 rounding, so none are usable
        assert r["n_points"] == 40 and r["n_used"] == 0
        assert r["id_mle"] is None

    def test_intrinsic_dim_spread_cloud(self, spark):
        # deterministic pseudo-random cloud: ID finite and positive
        import hashlib

        def vec(i):
            h = hashlib.md5(f"v{i}".encode()).digest()
            return [((b / 255.0) - 0.5) for b in h[:8]]

        rows = [(i, vec(i)) for i in range(60)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        r = ops.intrinsic_dimension_two_nn(df).collect()[0]
        assert r["n_used"] == 60
        assert r["id_mle"] is not None and r["id_mle"] > 0.5


class TestSeriesRegularity:
    def test_sample_entropy_constant_series_is_zero(self, spark):
        # constant series: every pair matches at both lengths → A=B,
        # SampEn = -ln(1) = 0
        df = spark.createDataFrame(
            [(i, 5.0) for i in range(30)], "idx long, v double"
        )
        r = ops.sample_entropy(df, "idx", "v", r_tol=0.5).collect()[0]
        assert r["a_pairs"] == r["b_pairs"] > 0
        assert r["samp_en"] == 0.0

    def test_sample_entropy_guard_rails(self, spark):
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(30)], "idx long, v double"
        )
        with pytest.raises(ValueError):
            ops.sample_entropy(df, "idx", "v", r_tol=1.0, max_points=10)

    def test_runs_test_alternating_is_positive(self, spark):
        # strict alternation around the median → max runs → z >> 0
        vals = [10.0 if i % 2 == 0 else 0.0 for i in range(40)]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "idx long, v double"
        )
        r = ops.runs_test(df, "idx", "v").collect()[0]
        assert r["n_pos"] == 20 and r["n_neg"] == 20
        assert r["n_runs"] == 40
        assert r["z_stat"] > 5.0

    def test_runs_test_blocked_is_negative(self, spark):
        vals = [0.0] * 20 + [10.0] * 20
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "idx long, v double"
        )
        r = ops.runs_test(df, "idx", "v").collect()[0]
        assert r["n_runs"] == 2
        assert r["z_stat"] < -5.0


class TestVarianceAndBlockedTests:
    def test_bartlett_equal_variances_near_zero(self, spark):
        rows = [(g, float(v) * 100) for g in ("a", "b", "c")
                for v in range(1, 21)]
        df = spark.createDataFrame(rows, "g string, v double")
        r = ops.bartlett_test(df, "g", "v").collect()[0]
        assert r["k"] == 3
        assert abs(r["bartlett_stat"]) < 0.01

    def test_bartlett_unequal_variances_large(self, spark):
        rows = ([("a", float(v)) for v in range(1, 21)]
                + [("b", float(v) * 50) for v in range(1, 21)])
        df = spark.createDataFrame(rows, "g string, v double")
        r = ops.bartlett_test(df, "g", "v").collect()[0]
        assert r["bartlett_stat"] > 30.0

    def test_levene_matches_anova_shape(self, spark):
        rows = [(g, float(v) * 100) for g in ("a", "b")
                for v in (1, 2, 3, 4, 5)]
        df = spark.createDataFrame(rows, "g string, v double")
        r = ops.levene_test(df, "g", "v").collect()[0]
        assert r["k"] == 2 and r["f_stat"] == 0.0

    def test_friedman_identical_treatment_order(self, spark):
        # every block ranks treatments identically → max chi2, W = 1
        rows = [(f"b{b}", f"t{t}", float(t * 10 + 1))
                for b in range(8) for t in range(4)]
        df = spark.createDataFrame(rows, "blk string, t string, v double")
        fr = ops.friedman_test(df, "blk", "t", "v").collect()[0]
        assert fr["b_blocks"] == 8 and fr["k"] == 4
        # chi2 = b(k-1) at perfect concordance
        assert fr["chi2_f"] == 24.0
        w = ops.kendalls_w(df, "blk", "t", "v").collect()[0]
        assert w["w_stat"] == 1.0

    def test_friedman_incomplete_blocks_dropped(self, spark):
        rows = [(f"b{b}", f"t{t}", float(b + t))
                for b in range(5) for t in range(3)]
        rows.append(("short", "t0", 1.0))
        df = spark.createDataFrame(rows, "blk string, t string, v double")
        fr = ops.friedman_test(df, "blk", "t", "v").collect()[0]
        assert fr["b_blocks"] == 5

    def test_cochran_q_concordant_rows_degenerate_null(self, spark):
        # every row is all-pass or all-fail: the within-row variance
        # term k·T − ΣR² is exactly 0 — Q is 0/0, surfaced as NULL
        rows = [(i % 2 == 0,) * 3 for i in range(40)]
        df = spark.createDataFrame(rows, "a boolean, b boolean, c boolean")
        r = ops.cochran_q(df, ["a", "b", "c"]).collect()[0]
        assert r["q_stat"] is None
        assert r["c0"] == r["c1"] == r["c2"] == 20

    def test_cochran_q_balanced_discordance_zero(self, spark):
        # equal column totals with discordant rows → Q exactly 0
        rows = ([(True, False, False)] * 10
                + [(False, True, False)] * 10
                + [(False, False, True)] * 10)
        df = spark.createDataFrame(rows, "a boolean, b boolean, c boolean")
        r = ops.cochran_q(df, ["a", "b", "c"]).collect()[0]
        assert r["q_stat"] == 0.0

    def test_cochran_q_one_dominant_rule_large(self, spark):
        rows = ([(True, False, False)] * 30
                + [(True, True, True)] * 5)
        df = spark.createDataFrame(rows, "a boolean, b boolean, c boolean")
        r = ops.cochran_q(df, ["a", "b", "c"]).collect()[0]
        assert r["q_stat"] > 30.0

    def test_fleiss_kappa_perfect_agreement(self, spark):
        rows = [(i, "en" if i % 3 else "other") for i in range(30)
                for _ in range(3)]
        df = spark.createDataFrame(rows, "s long, c string")
        r = ops.fleiss_kappa(df, "s", "c", n_raters=3).collect()[0]
        assert r["n_subjects"] == 30
        assert r["p_bar"] == 1.0 and r["kappa"] == 1.0

    def test_fleiss_kappa_incomplete_subjects_dropped(self, spark):
        rows = [(1, "en"), (1, "en"), (1, "en"), (2, "en")]
        df = spark.createDataFrame(rows, "s long, c string")
        r = ops.fleiss_kappa(df, "s", "c", n_raters=3).collect()[0]
        assert r["n_subjects"] == 1


class TestTrendAndTail:
    def test_page_perfect_monotone_blocks(self, spark):
        # every block ranks treatments in score order → L is maximal
        # = b·Σ j² and z strongly positive
        rows = [(f"b{b}", str(t), float(t * 10))
                for b in range(10) for t in range(1, 5)]
        df = spark.createDataFrame(rows, "blk string, t string, v double")
        r = ops.page_trend_test(df, "blk", "t", "v").collect()[0]
        assert r["b_blocks"] == 10 and r["k"] == 4
        assert r["l_stat"] == 10.0 * (1 + 4 + 9 + 16)
        assert r["z_stat"] > 4.0

    def test_page_reversed_is_negative(self, spark):
        rows = [(f"b{b}", str(t), float(-t * 10))
                for b in range(10) for t in range(1, 5)]
        df = spark.createDataFrame(rows, "blk string, t string, v double")
        r = ops.page_trend_test(df, "blk", "t", "v").collect()[0]
        assert r["z_stat"] < -4.0

    def test_pot_exponential_tail_xi_near_zero(self, spark):
        # deterministic exponential-ish tail via inverse-CDF on an
        # md5 grid: GPD shape should land near 0
        import hashlib
        import math as _m

        vals = []
        for i in range(4000):
            u = int(hashlib.md5(f"p{i}".encode()).hexdigest()[:6],
                    16) / float(0xFFFFFF)
            u = min(max(u, 1e-6), 1 - 1e-6)
            vals.append(100.0 - 10.0 * _m.log(1.0 - u))
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        r = ops.pot_gpd_fit(df, "v", threshold_q=0.9).collect()[0]
        assert r["n"] == 4000
        assert r["n_exceed"] >= 350
        assert abs(r["xi_hat"]) < 0.25
        # exponential: beta ≈ the true scale 10
        assert 7.0 < r["beta_hat"] < 13.0

    def test_pot_threshold_bounds(self, spark):
        df = spark.createDataFrame([(1.0,)], "v double")
        with pytest.raises(ValueError):
            ops.pot_gpd_fit(df, "v", threshold_q=0.4)
