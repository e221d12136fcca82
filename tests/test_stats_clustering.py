"""Edge-case semantics for the stats/clustering operators (the DuckDB
parity sweep covers the happy path tri-scale; these pin corners on tiny
in-memory frames) plus plan-shape guards for their scale posture."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from concept_multi_db_query_engine_spark import operators as ops


def _xy(spark, rows):
    return spark.createDataFrame(rows, "x double, y double")


def test_corr_perfect_line_is_one(spark):
    df = _xy(spark, [(1.0, 2.0), (2.0, 4.0), (3.0, 6.0)])
    out = ops.column_correlations(df, ["x", "y"]).collect()
    assert len(out) == 1
    assert out[0]["col_x"] == "x" and out[0]["col_y"] == "y"
    assert out[0]["n_rows"] == 3
    assert out[0]["corr"] == 1.0


def test_corr_constant_column_is_null_not_error(spark):
    df = _xy(spark, [(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)])
    out = ops.column_correlations(df, ["x", "y"]).collect()
    assert out[0]["corr"] is None  # zero variance -> nullif guard


def test_corr_matrix_emits_upper_triangle_sorted(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0)], "a double, b double, c double"
    )
    out = ops.column_correlations(df, ["a", "b", "c"]).collect()
    assert [(r["col_x"], r["col_y"]) for r in out] == [
        ("a", "b"), ("a", "c"), ("b", "c")
    ]


def test_corr_requires_two_columns(spark):
    with pytest.raises(ValueError):
        ops.column_correlations(spark.range(1), ["id"])


def test_ols_recovers_slope_intercept(spark):
    df = _xy(spark, [(0.0, 1.0), (1.0, 3.0), (2.0, 5.0), (3.0, 7.0)])
    r = ops.ols_fit(df, "x", "y").collect()[0]
    assert r["slope"] == 2.0
    assert r["intercept"] == 1.0
    assert r["r2"] == 1.0
    assert r["n_rows"] == 4


def test_ols_constant_x_is_null(spark):
    df = _xy(spark, [(1.0, 1.0), (1.0, 2.0)])
    r = ops.ols_fit(df, "x", "y").collect()[0]
    assert r["slope"] is None and r["r2"] is None


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, value double"
    )


def test_ab_test_counts_users_not_events(spark):
    # user 1 purchases twice -> still one converted user
    rows = [(u, "view", 1.0) for u in range(1, 9)]
    rows += [(1, "purchase", 10.0), (1, "purchase", 20.0)]
    r = ops.ab_test(_events(spark, rows)).collect()[0]
    assert r["n_a"] + r["n_b"] == 8
    assert r["conv_a"] + r["conv_b"] == 1


def test_ab_test_min_value_filters_conversions(spark):
    rows = [(1, "purchase", 10.0), (2, "purchase", 500.0)]
    r = ops.ab_test(_events(spark, rows), min_value=100.0).collect()[0]
    assert r["conv_a"] + r["conv_b"] == 1


def test_ab_test_degenerate_full_conversion_yields_null_z(spark):
    rows = [(u, "purchase", 10.0) for u in range(1, 7)]
    r = ops.ab_test(_events(spark, rows)).collect()[0]
    assert r["z_score"] is None
    assert r["significant"] is None


def test_ab_test_salt_rerolls_assignment(spark):
    rows = [(u, "view", 1.0) for u in range(1, 200)]
    a = ops.ab_test(_events(spark, rows), salt="s1").collect()[0]
    b = ops.ab_test(_events(spark, rows), salt="s2").collect()[0]
    assert a["n_a"] + a["n_b"] == b["n_a"] + b["n_b"] == 199
    assert (a["n_a"], a["n_b"]) != (b["n_a"], b["n_b"])  # md5 re-roll


def test_chi_square_independent_2x2_is_zero(spark):
    # perfectly proportional table -> chi2 == 0, dof == 1
    rows = (
        [("s1", "en")] * 10 + [("s1", "fr")] * 30
        + [("s2", "en")] * 20 + [("s2", "fr")] * 60
    )
    df = spark.createDataFrame(rows, "source string, lang string")
    r = ops.chi_square_independence(df, "source", "lang").collect()[0]
    assert r["chi2"] == 0.0
    assert r["dof"] == 1
    assert r["n_rows"] == 120
    assert r["n_cells"] == 4


def test_chi_square_matches_scipy_free_reference(spark):
    # hand-computed: cells (10, 20 / 20, 10): chi2 = 20*60*... classic
    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20
        + [("b", "x")] * 20 + [("b", "y")] * 10
    )
    df = spark.createDataFrame(rows, "source string, lang string")
    r = ops.chi_square_independence(df, "source", "lang").collect()[0]
    # exact: sum over 4 cells of (obs*n - ra*cb)^2 / (n*ra*cb)
    # d = 10*60 - 30*30 = -300 for diagonal, +300 off; rc = 900
    # each term = 90000/(60*900) = 1.6666667 -> chi2 = 6.666667
    assert abs(r["chi2"] - 6.666667) < 1e-6


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_kmeans_separates_two_obvious_blobs(spark):
    vecs = [[0.0, 0.0], [0.1, 0.0], [0.0, 0.1],
            [5.0, 5.0], [5.1, 5.0], [5.0, 5.1]]
    out = ops.kmeans_assign(_emb(spark, vecs), k=2, iterations=2)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]


def test_kmeans_zero_iterations_assigns_to_seeds(spark):
    vecs = [[0.0], [10.0], [0.2]]
    out = ops.kmeans_assign(_emb(spark, vecs), k=2, iterations=0)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    # seeds are vec 0 (cid 0) and vec 1 (cid 1); vec 2 nearer seed 0
    assert got[0] == 0 and got[1] == 1 and got[2] == 0


def test_kmeans_partitioning_invariance(spark):
    vecs = [[float(i % 7), float((3 * i) % 5)] for i in range(40)]
    base = ops.kmeans_assign(_emb(spark, vecs), k=3, iterations=3)
    shuffled = ops.kmeans_assign(
        _emb(spark, vecs).repartition(7), k=3, iterations=3
    )
    assert sorted(map(tuple, base.collect())) == sorted(
        map(tuple, shuffled.collect())
    )


def test_kmeans_empty_cluster_keeps_seed_centroid(spark):
    # k=3 seeds are the first three vectors, all in one tight blob; the
    # far blob captures one seed and two seeds end up empty — must not
    # crash, and k distinct clusters may legitimately collapse.
    vecs = [[0.0], [0.01], [0.02], [100.0], [100.1]]
    out = ops.kmeans_assign(_emb(spark, vecs), k=3, iterations=3)
    assert out.count() == 5


def test_kmeans_centroids_sizes_sum_to_n(spark):
    vecs = [[float(i)] for i in range(20)]
    out = ops.kmeans_centroids(_emb(spark, vecs), k=4, iterations=2)
    rows = out.collect()
    assert sum(r["size"] for r in rows) == 20
    assert all(r["inertia_scaled"] >= 0 for r in rows)


def test_kmeans_validates_params(spark):
    with pytest.raises(ValueError):
        ops.kmeans_assign(_emb(spark, [[0.0]]), k=0)
    with pytest.raises(ValueError):
        ops.kmeans_assign(_emb(spark, [[0.0]]), k=1, iterations=-1)


def test_random_projection_signs_deterministic_and_salted():
    a = ops.random_projection_signs(4, 16)
    b = ops.random_projection_signs(4, 16)
    c = ops.random_projection_signs(4, 16, salt="other")
    assert a == b
    assert a != c
    assert all(s in (1.0, -1.0) for row in a for s in row)


def test_random_projection_is_linear(spark):
    # out(2x) == 2*out(x) for every component — pins that the operator is
    # the advertised linear map, whatever the sign pattern.
    base = [0.5, -1.0, 2.0, 0.25]
    df = _emb(spark, [base, [2 * x for x in base]])
    rows = {r["vec_id"]: r["proj"]
            for r in ops.random_projection(
                df, out_dim=3, in_dim=4).collect()}
    for j in range(3):
        assert math.isclose(rows[1][j], 2 * rows[0][j], abs_tol=1e-5)


def test_random_projection_no_shuffle_plan(spark):
    df = _emb(spark, [[1.0, 2.0]])
    plan = ops.random_projection(
        df, out_dim=2, in_dim=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_stats_single_pass_plans(spark):
    # correlation/OLS must be ONE aggregation over the input — no joins,
    # no second scan.
    df = _xy(spark, [(1.0, 2.0), (2.0, 3.0)])
    for frame in (
        ops.column_correlations(df, ["x", "y"]),
        ops.ols_fit(df, "x", "y"),
    ):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan


def test_kmeans_assignment_stage_is_narrow(spark):
    # the per-iteration assignment must NOT shuffle the vector frame:
    # only broadcast exchanges (centroid row) plus the k·d-row update
    # aggregations may appear.
    emb = _emb(spark, [[float(i), float(i % 3)] for i in range(12)])
    out = ops.kmeans_assign(emb, k=2, iterations=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    # every non-broadcast exchange must hash on cluster/dimension keys
    # (the update aggregation), never repartition the vec_id universe
    for m in re.finditer(r"Exchange (\w+)\(([^)]*)\)", plan):
        kind, detail = m.group(1), m.group(2)
        if kind == "SinglePartition":
            continue  # k-row centroid pack / global agg
        assert "cid" in detail or "pos" in detail, (kind, detail, plan)


def test_pq_encode_codes_shape_and_exact_reconstruction(spark):
    # 4-dim vectors, m=2 subspaces; vectors whose halves form two obvious
    # blobs each -> codes separate accordingly and a vector equal to a
    # seed centroid has zero reconstruction error in that subspace.
    vecs = [
        [0.0, 0.0, 5.0, 5.0],
        [0.1, 0.0, 5.1, 5.0],
        [9.0, 9.0, 0.0, 0.0],
        [9.1, 9.0, 0.1, 0.0],
    ]
    out = ops.pq_encode(_emb(spark, vecs), dim=4, m=2, k=2, iterations=2)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert all(len(r["codes"]) == 2 for r in rows.values())
    # same-blob vectors share code words
    assert rows[0]["codes"] == rows[1]["codes"] or (
        rows[0]["codes"][0] == rows[1]["codes"][0]
    )
    assert rows[2]["codes"][0] == rows[3]["codes"][0]
    # blobs differ in both subspaces
    assert rows[0]["codes"] != rows[2]["codes"]
    assert all(r["recon_err_scaled"] >= 0 for r in rows.values())


def test_pq_encode_rejects_indivisible_dim(spark):
    with pytest.raises(ValueError):
        ops.pq_encode(_emb(spark, [[1.0, 2.0, 3.0]]), dim=3, m=2)


def test_pq_topk_rejects_codebooks_that_overflow_the_table_key(spark):
    # ADC table keys pack subspace*65536 + centroid id
    emb = _emb(spark, [[0.0, 0.0, 1.0, 1.0], [2.0, 2.0, 3.0, 3.0]])
    with pytest.raises(ValueError, match="65536"):
        ops.pq_topk(emb, emb, dim=4, m=2, k=65536, iterations=1)
    ops.pq_topk(emb, emb, dim=4, m=2, k=2, iterations=1).collect()


def test_ols_by_group_independent_fits(spark):
    rows = [("g1", float(x), 2.0 * x + 1.0) for x in range(5)]
    rows += [("g2", float(x), -3.0 * x + 4.0) for x in range(5)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r for r in ops.ols_fit_by(df, "x", "y", ["g"]).collect()}
    assert out["g1"]["slope"] == 2.0 and out["g1"]["intercept"] == 1.0
    assert out["g2"]["slope"] == -3.0 and out["g2"]["intercept"] == 4.0


def _ks_frame(spark, a_vals, b_vals):
    rows = [("a", float(v)) for v in a_vals] + [("b", float(v))
                                                for v in b_vals]
    return spark.createDataFrame(rows, "g string, v double")


def test_ks_identical_samples_d_zero(spark):
    df = _ks_frame(spark, [1, 2, 3, 4], [1, 2, 3, 4])
    r = ops.ks_test(df, "v", "g", "a", "b").collect()[0]
    assert r["d_num"] == 0
    assert r["d_stat"] == 0.0
    assert r["significant"] is False


def test_ks_disjoint_samples_d_one(spark):
    df = _ks_frame(spark, [1, 2, 3], [10, 11, 12])
    r = ops.ks_test(df, "v", "g", "a", "b").collect()[0]
    assert r["d_stat"] == 1.0
    assert r["n_a"] == 3 and r["n_b"] == 3


def test_ks_hand_computed_small_case(spark):
    # A = {1, 3}, B = {2, 4}: max |F_A - F_B| = 1/2 at v in [1,2) or [3,4)
    df = _ks_frame(spark, [1, 3], [2, 4])
    r = ops.ks_test(df, "v", "g", "a", "b").collect()[0]
    assert r["d_num"] == 2  # |1*2 - 0*2| at v=1
    assert r["d_stat"] == 0.5


def test_ks_empty_side_returns_nulls(spark):
    df = _ks_frame(spark, [1, 2], [])
    r = ops.ks_test(df, "v", "g", "a", "b").collect()[0]
    assert r["n_b"] == 0
    assert r["d_num"] is None and r["d_stat"] is None


def test_ks_partitioning_invariance(spark):
    import random

    rng = random.Random(7)
    a = [rng.gauss(0, 1) for _ in range(300)]
    b = [rng.gauss(0.5, 1) for _ in range(200)]
    df = _ks_frame(spark, a, b)
    r1 = ops.ks_test(df, "v", "g", "a", "b").collect()[0]
    r2 = ops.ks_test(df.repartition(13), "v", "g", "a", "b").collect()[0]
    assert tuple(r1) == tuple(r2)
    assert r1["significant"] is True  # shifted mean, n=500


def test_welch_equal_samples_t_zero(spark):
    df = _ks_frame(spark, [1, 2, 3, 4], [1, 2, 3, 4])
    r = ops.welch_t_test(df, "v", "g", "a", "b").collect()[0]
    assert r["t_stat"] == 0.0
    assert r["significant"] is False
    assert r["mean_a"] == r["mean_b"] == 2.5


def test_welch_shifted_means_significant(spark):
    a = [float(x) for x in range(100)]
    b = [float(x) + 50.0 for x in range(100)]
    df = _ks_frame(spark, a, b)
    r = ops.welch_t_test(df, "v", "g", "a", "b").collect()[0]
    assert r["significant"] is True
    assert r["t_stat"] < 0  # mean_a < mean_b
    # equal variances + equal n -> df approaches n_a + n_b - 2
    assert abs(r["df_welch"] - 198.0) < 1.0


def test_welch_single_element_group_yields_nulls(spark):
    df = _ks_frame(spark, [1.0], [2.0, 3.0, 4.0])
    r = ops.welch_t_test(df, "v", "g", "a", "b").collect()[0]
    assert r["t_stat"] is None  # n_a - 1 == 0 -> guarded NULL
    assert r["mean_a"] == 1.0


def test_welch_empty_group_yields_nulls(spark):
    df = _ks_frame(spark, [], [2.0, 3.0])
    r = ops.welch_t_test(df, "v", "g", "a", "b").collect()[0]
    assert r["n_a"] == 0
    assert r["mean_a"] is None and r["t_stat"] is None


def test_pq_topk_ranks_own_blob_first(spark):
    # two well-separated blobs; each query's nearest ADC neighbours must
    # come from its own blob, and self-match (identical code word) ranks
    # at the query's reconstruction distance
    vecs = [[0.0, 0.0, 1.0, 1.0], [0.1, 0.0, 1.1, 1.0],
            [0.0, 0.1, 1.0, 1.1],
            [9.0, 9.0, 5.0, 5.0], [9.1, 9.0, 5.1, 5.0]]
    emb = _emb(spark, vecs)
    out = ops.pq_topk(
        emb, emb.where("vec_id = 0"), dim=4, m=2, k=2, iterations=2,
        topk=3,
    ).collect()
    assert [r["query_id"] for r in out] == [0, 0, 0]
    assert {r["vec_id"] for r in out} <= {0, 1, 2}
    assert all(out[i]["adc_dist2"] <= out[i + 1]["adc_dist2"]
               for i in range(len(out) - 1))


def test_pq_topk_is_deterministic_under_repartition(spark):
    vecs = [[float(i % 5), float((2 * i) % 7),
             float((3 * i) % 4), float(i % 3)] for i in range(30)]
    emb = _emb(spark, vecs)
    q = emb.where("vec_id < 2")
    r1 = sorted(map(tuple, ops.pq_topk(
        emb, q, dim=4, m=2, k=3, iterations=2, topk=4).collect()))
    r2 = sorted(map(tuple, ops.pq_topk(
        emb.repartition(11), q, dim=4, m=2, k=3, iterations=2,
        topk=4).collect()))
    assert r1 == r2


def test_mann_whitney_hand_computed(spark):
    # A = {1, 2}, B = {3, 4}: every B beats every A -> U_A = 0
    df = _ks_frame(spark, [1, 2], [3, 4])
    r = ops.mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    assert r["u2_a"] == 0 and r["u_a"] == 0.0
    # reversed: U_A = n_a * n_b = 4
    df2 = _ks_frame(spark, [3, 4], [1, 2])
    r2 = ops.mann_whitney_u(df2, "v", "g", "a", "b").collect()[0]
    assert r2["u_a"] == 4.0


def test_mann_whitney_ties_contribute_half(spark):
    # A = {1}, B = {1}: a tie -> U_A = 0.5
    df = _ks_frame(spark, [1], [1])
    r = ops.mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    assert r["u2_a"] == 1 and r["u_a"] == 0.5
    assert r["z_score"] is None  # all tied -> zero variance, guarded


def test_mann_whitney_symmetric_samples_z_zero(spark):
    df = _ks_frame(spark, [1, 3], [2, 4])
    r = ops.mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    # U_A = 1 (a=3 beats b=2), mean = 2 -> z < 0 but symmetric swap gives
    # the mirrored value
    r2 = ops.mann_whitney_u(
        _ks_frame(spark, [2, 4], [1, 3]), "v", "g", "a", "b"
    ).collect()[0]
    assert r["z_score"] == -r2["z_score"]


def test_mann_whitney_empty_side_nulls(spark):
    df = _ks_frame(spark, [], [1.0])
    r = ops.mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    assert r["n_a"] == 0 and r["u2_a"] is None


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_containment_detects_doc_inside_doc(spark):
    quoted = "alpha beta gamma delta epsilon zeta"
    article = quoted + " and much more commentary follows here now okay"
    df = _docs(spark, [quoted, article, "totally unrelated words only"])
    out = ops.containment_pairs(df, k=5, threshold=0.9).collect()
    got = {(r["doc_id"], r["container_id"]): r["containment"] for r in out}
    # every 5-shingle of `quoted` appears in `article` -> containment 1.0
    assert got[(0, 1)] == 1.0
    # but NOT the reverse (article has many shingles quoted lacks)
    assert (1, 0) not in got


def test_containment_vs_jaccard_asymmetry(spark):
    quoted = "one two three four five six"
    article = quoted + " seven eight nine ten eleven twelve thirteen " \
                       "fourteen fifteen sixteen"
    df = _docs(spark, [quoted, article])
    jac = ops.ngram_jaccard_pairs(df, k=5, threshold=0.0).collect()
    # symmetric Jaccard is low...
    assert jac[0]["jaccard"] < 0.5
    cont = ops.containment_pairs(df, k=5, threshold=0.9).collect()
    # ...but directed containment flags the subsumption
    assert any(r["doc_id"] == 0 and r["containment"] == 1.0 for r in cont)


def test_char_entropy_known_values(spark):
    df = _docs(spark, ["aaaa", "abab", "abcd"])
    got = {r["doc_id"]: r for r in ops.char_entropy(df).collect()}
    assert got[0]["entropy"] == 0.0 and got[0]["n_distinct_chars"] == 1
    assert got[1]["entropy"] == 1.0  # two symbols, equal frequency
    assert got[2]["entropy"] == 2.0  # four equally likely symbols
    assert got[2]["n_chars_counted"] == 4


def test_char_entropy_orders_independent_of_char_order(spark):
    df = _docs(spark, ["xyzzy", "zyxzy"])  # same multiset of chars
    got = {r["doc_id"]: r["entropy"] for r in ops.char_entropy(df).collect()}
    assert got[0] == got[1]


def test_psi_identical_distributions_zero(spark):
    df = _ks_frame(spark, [1, 5, 12, 22], [])  # reuse builder for values
    a = df.select("v")
    r = ops.psi_drift(a, a, "v", bin_width=10.0).collect()[0]
    assert r["psi"] == 0.0
    assert r["n_skipped_bins"] == 0
    assert r["n_a"] == r["n_b"] == 4


def test_psi_shifted_distribution_positive(spark):
    a = _ks_frame(spark, [1, 2, 3, 11, 12], []).select("v")
    b = _ks_frame(spark, [11, 12, 13, 21, 22], []).select("v")
    r = ops.psi_drift(a, b, "v", bin_width=10.0).collect()[0]
    assert r["psi"] > 0.0
    # bins 0 and 2 are one-sided -> skipped
    assert r["n_skipped_bins"] == 2
    assert r["n_bins"] == 3


def test_psi_hand_computed_two_bins(spark):
    # A: 80/20 across two bins; B: 20/80 -> psi = 2 * 0.6 * ln(4)
    import math

    a = _ks_frame(spark, [1] * 8 + [11] * 2, []).select("v")
    b = _ks_frame(spark, [1] * 2 + [11] * 8, []).select("v")
    r = ops.psi_drift(a, b, "v", bin_width=10.0).collect()[0]
    assert abs(r["psi"] - 2 * 0.6 * math.log(4)) < 1e-6


def test_psi_rejects_bad_bin_width(spark):
    a = _ks_frame(spark, [1], []).select("v")
    with pytest.raises(ValueError):
        ops.psi_drift(a, a, "v", bin_width=0.0)


def test_ivf_accepts_kmeans_trained_cells(spark):
    """Composition: topk_cosine_ivf's coarse cells can come from the
    learned kmeans assignment instead of the fixture's label column —
    the codebook-training + ANN-search pipeline end to end."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cells = ops.kmeans_assign(emb, k=4, iterations=2).select(
        "vec_id", F.col("cluster").alias("cell")
    )
    emb2 = emb.join(cells, "vec_id")
    out = ops.topk_cosine_ivf(
        emb2, emb2.where("vec_id < 2"), k=3, n_probe=2,
        cluster_col="cell",
    ).collect()
    assert len(out) > 0
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert len(rows) <= 3
        assert all(-1.0 <= r["cosine"] <= 1.0 for r in rows)
        assert [r["rank"] for r in sorted(
            rows, key=lambda r: r["rank"])] == list(range(1, len(rows) + 1))


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_triangles_counts_known_graph(spark):
    # K3 (0,1,2) plus a pendant node 3 attached to 0
    e = _edges(spark, [(0, 1), (1, 2), (2, 0), (0, 3)])
    got = {r["node"]: r for r in ops.triangle_counts(e).collect()}
    assert got[0]["triangles"] == got[1]["triangles"] == \
        got[2]["triangles"] == 1
    assert got[3]["triangles"] == 0
    assert got[1]["clustering_coeff"] == 1.0
    # node 0 has degree 3, 1 triangle -> 2/(3*2) = 0.333333
    assert got[0]["clustering_coeff"] == 0.333333
    assert got[3]["clustering_coeff"] is None  # degree 1


def test_triangles_ignore_direction_and_duplicates(spark):
    # the same triangle given twice with mixed directions counts once
    e = _edges(spark, [(0, 1), (1, 0), (1, 2), (2, 1), (2, 0), (0, 2)])
    got = {r["node"]: r for r in ops.triangle_counts(e).collect()}
    assert all(got[n]["triangles"] == 1 for n in (0, 1, 2))
    assert all(got[n]["degree"] == 2 for n in (0, 1, 2))


def test_jsd_identical_corpora_zero(spark):
    df = _docs(spark, ["the cat sat", "a dog ran fast"])
    r = ops.token_jsd_drift(df, df, top_n=10).collect()[0]
    assert r["jsd"] == 0.0
    assert r["n_tokens_a"] == r["n_tokens_b"] == 7


def test_jsd_disjoint_corpora_ln2(spark):
    import math

    a = _docs(spark, ["alpha beta gamma delta"])
    b = _docs(spark, ["one two three four"])
    r = ops.token_jsd_drift(a, b, top_n=10).collect()[0]
    assert abs(r["jsd"] - math.log(2)) < 1e-6


def test_jsd_other_bucket_absorbs_tail(spark):
    a = _docs(spark, ["x x x y z w q r s t u v"])
    b = _docs(spark, ["x x x y m n o p"])
    r = ops.token_jsd_drift(a, b, top_n=2).collect()[0]
    assert r["vocab_n"] == 2
    # everything beyond the top-2 lands in OTHER
    assert r["other_a"] == r["n_tokens_a"] - 4  # x:3 + y:1
    assert 0.0 <= r["jsd"] <= 0.6932


def test_embedding_stats_collapsed_corpus_ratio_one(spark):
    # identical vectors: mean vector == every vector -> ratio 1
    df = _emb(spark, [[3.0, 4.0]] * 5)
    r = ops.embedding_corpus_stats(df, dim=2).collect()[0]
    assert r["n_vectors"] == 5
    assert r["avg_norm"] == 5.0
    assert r["mean_vector_norm"] == 5.0
    assert r["anisotropy_ratio"] == 1.0


def test_embedding_stats_centered_corpus_ratio_zero(spark):
    # vectors summing to zero: mean vector vanishes -> ratio 0
    df = _emb(spark, [[1.0, 0.0], [-1.0, 0.0], [0.0, 1.0], [0.0, -1.0]])
    r = ops.embedding_corpus_stats(df, dim=2).collect()[0]
    assert r["mean_vector_norm"] == 0.0
    assert r["anisotropy_ratio"] == 0.0
    assert r["avg_norm"] == 1.0


def test_kmv_resemblance_identical_sets(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "u long")
    r = ops.kmv_set_resemblance(df, df, "u", k=32).collect()[0]
    assert r["jaccard_est"] == 1.0
    assert r["k_used"] == 32  # 100 distinct > k


def test_kmv_resemblance_disjoint_sets(spark):
    a = spark.createDataFrame([(i,) for i in range(50)], "u long")
    b = spark.createDataFrame([(i,) for i in range(100, 150)], "u long")
    r = ops.kmv_set_resemblance(a, b, "u", k=32).collect()[0]
    assert r["jaccard_est"] == 0.0
    assert r["intersect_est"] == 0.0


def test_kmv_resemblance_small_sets_exact_union(spark):
    # union below k: the sketch IS the set, union_est is exact
    a = spark.createDataFrame([(i,) for i in range(10)], "u long")
    b = spark.createDataFrame([(i,) for i in range(5, 15)], "u long")
    r = ops.kmv_set_resemblance(a, b, "u", k=256).collect()[0]
    assert r["union_est"] == 15.0
    assert r["jaccard_est"] == round(5 / 15, 4)
    assert r["intersect_est"] == round((5 / 15) * 15, 4)


def test_kmv_resemblance_estimate_close_on_overlap(spark):
    # true J = 500/1500 = 1/3; k=256 keeps relative error ~1/sqrt(k)
    a = spark.createDataFrame([(i,) for i in range(1000)], "u long")
    b = spark.createDataFrame([(i,) for i in range(500, 1500)], "u long")
    r = ops.kmv_set_resemblance(a, b, "u", k=256).collect()[0]
    assert abs(r["jaccard_est"] - 1 / 3) < 0.1
    assert abs(r["union_est"] - 1500) / 1500 < 0.25


def test_rp_lsh_hyperplanes_bucket_and_rank(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    hp = ops.random_projection_signs(3, 64, salt="t")
    out = ops.topk_cosine_lsh(
        emb, emb.where("vec_id < 2"), k=3, bits=3, hyperplanes=hp
    ).collect()
    assert len(out) > 0
    for r in out:
        assert -1.0 <= r["cosine"] <= 1.0
    # wrong hyperplane count is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ops.topk_cosine_lsh(
            emb, emb.where("vec_id < 2"), k=3, bits=4, hyperplanes=hp
        )


def _exchanges(df):
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.findall(r"Exchange (\w+)\(([^)\n]{0,50})", plan)


def test_rank_tests_have_no_single_partition_exchange(spark):
    """ks/mann-whitney must never fall back to a global-window plan: the
    only allowed exchanges are the per-value hash shuffle, the __pid
    repartition, and broadcasts."""
    rng_rows = [("a" if i % 2 else "b", float(i % 37)) for i in range(500)]
    df = spark.createDataFrame(rng_rows, "g string, v double")
    for frame in (
        ops.ks_test(df, "v", "g", "a", "b"),
        ops.mann_whitney_u(df, "v", "g", "a", "b"),
    ):
        for kind, detail in _exchanges(frame):
            assert kind != "SinglePartition", (kind, detail)


def test_psi_and_jsd_plans_are_bin_keyed(spark):
    """Drift metrics shuffle only on bin/token keys (map-side combined)
    plus the constant-size final aggregation — never on the row
    universe of either snapshot."""
    a = spark.createDataFrame([(float(i % 50),) for i in range(400)],
                              "v double")
    psi = ops.psi_drift(a, a, "v", bin_width=5.0)
    kinds = [k for k, _ in _exchanges(psi)]
    # full outer join on bin + one global single-partition agg (1 row in,
    # 1 row out) are the only shapes
    assert all(k in ("hashpartitioning", "SinglePartition") for k in kinds)
    details = [d for k, d in _exchanges(psi) if k == "hashpartitioning"]
    assert details and all("bin" in d for d in details), details


def test_session_stats_single_exchange_plus_rollups(spark):
    """session_stats must not add a second user-keyed exchange beyond
    sessionize's single one."""
    import datetime as dt

    rows = [(i, dt.datetime(2020, 1, 1) + dt.timedelta(minutes=i), i % 5,
             "view", 1.0, "{}") for i in range(200)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string",
    )
    ex = _exchanges(ops.session_stats(df))
    user_keyed = [d for k, d in ex
                  if k == "hashpartitioning" and "user_id" in d]
    assert len(user_keyed) <= 2  # sessionize window + distinct-user agg


def test_personalized_pagerank_concentrates_on_seed_neighborhood(spark):
    # two disconnected components: a star around the seed (0 -> 1, 2)
    # and a far pair (3 -> 4). Teleport mass restarts only on the seed,
    # so the far component must end at exactly zero rank while the
    # seed's neighborhood holds everything.
    e = _edges(spark, [(0, 1), (0, 2), (1, 0), (2, 0), (3, 4), (4, 3)])
    got = {r["node"]: r["rank_scaled"]
           for r in ops.personalized_pagerank(e, [0], iterations=8)
           .collect()}
    assert got[3] == 0 and got[4] == 0
    assert got[0] > got[1] > 0
    assert got[1] == got[2]  # symmetric spokes


def test_personalized_pagerank_validates_inputs(spark):
    e = _edges(spark, [(0, 1)])
    with pytest.raises(ValueError):
        ops.personalized_pagerank(e, [])
    with pytest.raises(ValueError):
        ops.personalized_pagerank(e, [0], iterations=0)


def test_unigram_score_typical_beats_gibberish(spark):
    corpus = _docs(spark, [
        "the cat sat on the mat", "the dog sat on the rug",
        "the cat and the dog", "a cat on a mat",
    ])
    scored = _docs(spark, ["the cat sat", "zxqv wvut qqzz"])
    got = {r["doc_id"]: r for r in ops.unigram_logprob_score(
        scored, corpus=corpus, top_n=10).collect()}
    # in-domain text costs far fewer bits/token than unseen gibberish
    assert got[0]["bits_per_token"] < got[1]["bits_per_token"]
    assert got[0]["n_tokens"] == 3 and got[1]["n_tokens"] == 3


def test_unigram_score_empty_doc_is_null(spark):
    got = ops.unigram_logprob_score(
        _docs(spark, [""]), corpus=_docs(spark, ["some corpus text"]),
        top_n=5,
    ).collect()[0]
    assert got["n_tokens"] == 0
    assert got["bits_per_token"] is None


def test_unigram_score_self_training_deterministic(spark):
    docs = _docs(spark, ["a b c a", "b b a", "c c c d"])
    r1 = sorted(map(tuple, ops.unigram_logprob_score(docs).collect()))
    r2 = sorted(map(tuple, ops.unigram_logprob_score(
        docs.repartition(5)).collect()))
    assert r1 == r2


def test_stats_dec_override_for_wide_domains(spark):
    # values beyond DECIMAL(12,4)'s 1e8 range: the default accumulator
    # fails LOUDLY under ANSI (no silent truncation); dec= widens it
    df = _xy(spark, [(2.0e9, 4.0e9), (3.0e9, 6.0e9), (5.0e9, 10.0e9)])
    with pytest.raises(Exception):
        ops.ols_fit(df, "x", "y").collect()
    r = ops.ols_fit(df, "x", "y", dec="decimal(18,2)").collect()[0]
    assert r["slope"] == 2.0
    c = ops.column_correlations(
        df, ["x", "y"], dec="decimal(18,2)"
    ).collect()[0]
    assert c["corr"] == 1.0


def test_bigram_score_rewards_seen_sequences(spark):
    corpus = _docs(spark, [
        "the cat sat on the mat", "the cat sat on the rug",
        "the cat sat down", "the dog sat on the mat",
    ])
    scored = _docs(spark, ["the cat sat", "sat cat the"])
    got = {r["doc_id"]: r for r in ops.bigram_logprob_score(
        scored, corpus=corpus, top_unigrams=20, top_bigrams=20).collect()}
    # same unigrams, but only doc 0 follows corpus bigram order
    assert got[0]["n_bigram_hits"] > got[1]["n_bigram_hits"]
    assert got[0]["bits_per_token"] < got[1]["bits_per_token"]


def test_bigram_score_single_token_uses_unigram_only(spark):
    corpus = _docs(spark, ["a b a b a"])
    got = ops.bigram_logprob_score(
        _docs(spark, ["a"]), corpus=corpus, top_unigrams=5, top_bigrams=5
    ).collect()[0]
    assert got["n_tokens"] == 1
    assert got["n_bigram_hits"] == 0
    assert got["bits_per_token"] is not None
