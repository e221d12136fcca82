"""Round-8 tests: dedicated edge-case coverage for the four round-7
final-snapshot operators (k-anonymity, conversion lag, centroid drift,
seasonal anomaly — previously covered only by the registry-wide oracle
sweep) plus regression tests for the round-7 advisor findings
(query_id_col handling in PQ/IVF-PQ, probs-derived quantile labels,
deterministic upsert tie-break, PCA edge inputs, unseen-season
forecast, theil_sen pair-explosion guard)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from concept_multi_db_query_engine_spark import operators as ops


# ---- k_anonymity_report ---------------------------------------------------


def test_k_anonymity_classes_and_risk_flags(spark):
    df = spark.createDataFrame(
        [("US", 30), ("US", 30), ("US", 30), ("US", 30), ("US", 30),
         ("DE", 30), ("DE", 30),
         ("FR", 40)],
        "country string, age int",
    )
    out = {(r["country"], r["age"]): (r["class_size"], r["at_risk"])
           for r in ops.k_anonymity_report(df, ["country", "age"],
                                           k=5).collect()}
    assert out == {
        ("US", 30): (5, False),
        ("DE", 30): (2, True),
        ("FR", 40): (1, True),
    }


def test_k_anonymity_null_quasi_values_form_their_own_class(spark):
    df = spark.createDataFrame(
        [("US", None), ("US", None), (None, 30)],
        "country string, age int",
    )
    out = {(r["country"], r["age"]): r["class_size"]
           for r in ops.k_anonymity_report(df, ["country", "age"]).collect()}
    # groupBy treats NULL as a key value — NULL quasi rows must not
    # vanish from the privacy audit
    assert out == {("US", None): 2, (None, 30): 1}


def test_k_anonymity_empty_input_and_bad_k(spark):
    empty = spark.createDataFrame([], "country string, age int")
    assert ops.k_anonymity_report(empty, ["country"]).count() == 0
    with pytest.raises(ValueError):
        ops.k_anonymity_report(empty, ["country"], k=1)


# ---- conversion_lag_quantiles ---------------------------------------------


def _lag_events(spark, rows):
    return spark.createDataFrame(
        [(u, t, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s))
         for u, t, s in rows],
        "user_id long, event_type string, ts timestamp_ntz",
    )


def test_conversion_lag_counts_and_median(spark):
    ev = _lag_events(spark, [
        (1, "view", 0), (1, "purchase", 100),
        (2, "view", 0), (2, "purchase", 200),
        (3, "view", 0), (3, "purchase", 300),
        (4, "view", 0),                    # never converts
        (5, "purchase", 50),               # converts before any view
    ])
    row = ops.conversion_lag_quantiles(ev).collect()[0]
    # user 4 has NULL __to, user 5 NULL __from → lag NULL → not converted
    assert row["n_users"] == 5
    assert row["n_converted"] == 3
    assert row["p50_s"] == 200.0
    assert row["p99_s"] == pytest.approx(298.0)  # interpolated tail


def test_conversion_lag_probs_drive_output_columns(spark):
    ev = _lag_events(spark, [
        (1, "view", 0), (1, "purchase", 100),
        (2, "view", 0), (2, "purchase", 200),
    ])
    out = ops.conversion_lag_quantiles(ev, probs=[0.25, 0.75])
    # fewer-than-3 probs must not raise, and labels derive from probs
    assert out.columns == ["n_users", "n_converted", "p25_s", "p75_s"]
    row = out.collect()[0]
    assert row["p25_s"] == 125.0 and row["p75_s"] == 175.0


def test_conversion_lag_same_instant_counts_as_converted(spark):
    ev = _lag_events(spark, [(1, "view", 10), (1, "purchase", 10)])
    row = ops.conversion_lag_quantiles(ev).collect()[0]
    assert row["n_converted"] == 1 and row["p50_s"] == 0.0


# ---- centroid_drift --------------------------------------------------------


def test_centroid_drift_exact_shift(spark):
    old = spark.createDataFrame(
        [("a", [0.0, 0.0]), ("a", [2.0, 0.0])],
        "label string, embedding array<double>",
    )
    new = spark.createDataFrame(
        [("a", [3.0, 4.0]), ("a", [5.0, 4.0])],
        "label string, embedding array<double>",
    )
    row = ops.centroid_drift(old, new).collect()[0]
    # centroids (1,0) -> (4,4): drift = 5
    assert row["n_old"] == 2 and row["n_new"] == 2
    assert row["drift_l2"] == pytest.approx(5.0)


def test_centroid_drift_group_missing_from_one_snapshot_is_null(spark):
    old = spark.createDataFrame(
        [("only_old", [1.0, 1.0])], "label string, embedding array<double>")
    new = spark.createDataFrame(
        [("only_new", [2.0, 2.0])], "label string, embedding array<double>")
    out = {r["label"]: r for r in ops.centroid_drift(old, new).collect()}
    assert set(out) == {"only_old", "only_new"}
    # the full_outer join keeps the group; the distance over a missing
    # side is NULL, not a crash and not a silent drop
    assert out["only_old"]["drift_l2"] is None
    assert out["only_old"]["n_new"] is None
    assert out["only_new"]["drift_l2"] is None
    assert out["only_new"]["n_old"] is None


def test_centroid_drift_identical_snapshots_zero(spark):
    df = spark.createDataFrame(
        [("a", [0.5, -0.5]), ("b", [1.0, 2.0])],
        "label string, embedding array<double>",
    )
    for r in ops.centroid_drift(df, df).collect():
        assert r["drift_l2"] == 0.0


# ---- seasonal_anomaly ------------------------------------------------------


def _series(spark, values, period=4):
    return spark.createDataFrame(
        [(float(i), (i % period) + 1, float(v))
         for i, v in enumerate(values)],
        "idx double, season long, value double",
    )


def test_seasonal_anomaly_flags_planted_spike(spark):
    # deterministic jitter keeps MAD > 0 (an exactly-repeating series
    # has all-zero residuals → MAD 0 → z NULL by the documented guard)
    base = [10.0 * ((i % 4) + 1) + (i % 3) * 0.5 for i in range(24)]
    base[13] += 500.0  # one wild period
    out = ops.seasonal_anomaly(_series(spark, base), "idx", "season",
                               "value", z_threshold=3.0)
    flagged = [r["idx"] for r in out.collect() if r["is_anomaly"]]
    assert flagged == [13.0]


def test_seasonal_anomaly_series_shorter_than_one_season(spark):
    # 3 points against a 4-bucket season: every bucket has <= 1 sample,
    # residuals are all ~0 → MAD 0 → z NULL via the nullif guard →
    # is_anomaly False; must not raise
    out = ops.seasonal_anomaly(_series(spark, [10.0, 20.0, 30.0]),
                               "idx", "season", "value").collect()
    assert len(out) == 3
    assert all(not r["is_anomaly"] for r in out)


def test_seasonal_anomaly_constant_series_mad_zero(spark):
    out = ops.seasonal_anomaly(_series(spark, [5.0] * 12),
                               "idx", "season", "value").collect()
    assert len(out) == 12
    assert all(r["robust_z"] is None and not r["is_anomaly"] for r in out)


# ---- PQ / IVF-PQ query_id_col (advisor medium) ------------------------------


def _vecs(spark, ids, id_name="vec_id"):
    # 8-dim separable vectors: id parity decides the dominant half
    rows = [(i, [float((i % 2) * 10 + (j % 3)) for j in range(8)])
            for i in ids]
    return spark.createDataFrame(
        rows, f"{id_name} long, embedding array<float>")


def test_ivf_pq_reads_query_id_col_when_present(spark):
    corpus = _vecs(spark, range(24))
    queries = _vecs(spark, [100, 101], id_name="query_id")
    out = ops.ivf_pq_topk(corpus, queries, dim=8, n_cells=2, n_probe=2,
                          m=2, k=2, topk=3)
    got = {r["query_id"] for r in out.collect()}
    # query ids must be the frame's own query_id values, not corpus ids
    assert got == {100, 101}


def test_pq_topk_reads_query_id_col_when_present(spark):
    corpus = _vecs(spark, range(16))
    queries = _vecs(spark, [7, 8], id_name="query_id")
    out = ops.pq_topk(corpus, queries, dim=8, m=2, k=2, topk=2)
    assert {r["query_id"] for r in out.collect()} == {7, 8}


def test_ivf_pq_falls_back_to_id_col_without_query_id(spark):
    corpus = _vecs(spark, range(16))
    queries = _vecs(spark, [0, 1])  # keyed vec_id, no query_id column
    out = ops.ivf_pq_topk(corpus, queries, dim=8, n_cells=2, n_probe=2,
                          m=2, k=2, topk=2)
    assert {r["query_id"] for r in out.collect()} == {0, 1}


# ---- upsert deterministic tie-break (advisor low) ---------------------------


def test_upsert_duplicate_change_rows_pick_stable_winner(spark):
    snap = spark.createDataFrame([(1, "base", 1)],
                                 "id long, v string, version long")
    # a replayed CDC batch: two change rows, same (key, version)
    chg = spark.createDataFrame([(1, "left", 2), (1, "right", 2)],
                                "id long, v string, version long")
    first = ops.upsert_latest_wins(snap, chg, "id").collect()[0]["v"]
    # repartition the change frame every which way — the winner is a
    # function of the data, not of partition order
    for n in (1, 3, 7):
        again = ops.upsert_latest_wins(
            snap, chg.repartition(n), "id").collect()[0]["v"]
        assert again == first


# ---- pca_power_iteration edge inputs (advisor low) ---------------------------


def test_pca_empty_corpus_raises_value_error(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        ops.pca_power_iteration(empty, dim=4)


def test_pca_identical_corpus_raises_value_error(spark):
    same = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="identical"):
        ops.pca_power_iteration(same, dim=4)


def test_pca_short_vectors_do_not_key_error(spark):
    # vectors of length 2 against dim=4: missing coordinates contribute 0
    short = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [2.0, 0.1]),
         (3, [-2.0, -0.1])],
        "vec_id long, embedding array<float>",
    )
    comp = ops.pca_power_iteration(short, dim=4)
    assert len(comp) == 4
    assert abs(comp[0]) > 0.99  # variance lives on coordinate 0


# ---- seasonal_forecast unseen season (advisor low) ---------------------------


def test_seasonal_forecast_unseen_season_gets_trend_only(spark):
    # history covers seasons 1..3 of a 4-cycle; the horizon crosses
    # season 4, which must appear with a trend-only forecast instead of
    # being dropped
    hist = spark.createDataFrame(
        [(float(i), (i % 4) + 1, 10.0 + i)
         for i in range(12) if i % 4 != 3],
        "idx double, season long, value double",
    )
    out = ops.seasonal_forecast(
        hist, "idx", "season", "value", horizon=4,
        season_of_idx="CAST(pmod(idx, 4) AS BIGINT) + 1",
    ).collect()
    assert len(out) == 4  # full horizon, nothing silently dropped
    by_season = {r["season"]: r["forecast"] for r in out}
    assert 4 in by_season and by_season[4] is not None


# ---- theil_sen guard (verdict item 4) ----------------------------------------


def test_theil_sen_guard_trips_loudly_on_oversized_input(spark):
    big = spark.range(0, 101).select(
        F.col("id"), F.col("id").cast("double").alias("x"),
        (F.col("id") * 2).cast("double").alias("y"),
    )
    with pytest.raises(ValueError, match="max_points"):
        ops.theil_sen(big, "id", "x", "y", max_points=100)
    # raising the limit deliberately still works
    row = ops.theil_sen(big, "id", "x", "y", max_points=200).collect()[0]
    assert row["slope"] == pytest.approx(2.0)


# ---- BPE encode: Arrow large-vocab path (verdict item 3) ---------------------


def _synth_rules(n):
    """A deterministic synthetic merge table: letter pairs, then pairs
    built from short merged symbols (results capped at 4 chars so the
    table stays small at any n) — the byte-equality contract holds for
    ANY rule list, not only trained ones, because both paths apply
    identical sequential-scan semantics."""
    import itertools
    import string

    letters = string.ascii_lowercase
    symbols = list(letters) + [a + b for a, b in
                               itertools.product(letters, repeat=2)]
    return list(itertools.islice(itertools.product(symbols, repeat=2), n))


def _bpe_texts(spark):
    texts = [
        "abcdef abc ab a", "the quick brown fox", "aaa bbb ab ab ab",
        "", " ", "  double  space", "xyzzy abcabc cdcdcd",
        "a b c d e f g", "abcdefghijklmnopqrstuvwxyz",
    ]
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)] + [(99, None)],
        "doc_id long, text string",
    )


def test_bpe_encode_arrow_path_byte_equal_to_expr_path(spark):
    docs = _bpe_texts(spark)
    rules = _synth_rules(40)
    expr = {r["doc_id"]: tuple(r)[1:] for r in ops.bpe_encode_stats(
        docs, rules, expr_path_max_merges=100).collect()}
    arrow = {r["doc_id"]: tuple(r)[1:] for r in ops.bpe_encode_stats(
        docs, rules, expr_path_max_merges=0).collect()}
    assert expr == arrow


def test_bpe_encode_paths_agree_on_trained_fixture(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["low lower lowest", "new newer newest", "wide wider widest",
             "low new wide", "est er lo ne wi"] * 4)],
        "doc_id long, text string",
    )
    merges = ops.bpe_train_merges(docs, n_merges=64).orderBy("rank") \
        .collect()
    expr = sorted(map(tuple, ops.bpe_encode_stats(
        docs, merges, expr_path_max_merges=100).collect()))
    arrow = sorted(map(tuple, ops.bpe_encode_stats(
        docs, merges, expr_path_max_merges=0).collect()))
    assert expr == arrow


def test_bpe_encode_large_vocab_bounded_plan(spark):
    docs = _bpe_texts(spark)
    small = ops.bpe_encode_stats(docs, _synth_rules(200))
    big = ops.bpe_encode_stats(docs, _synth_rules(1000))
    p_small = small._jdf.queryExecution().executedPlan().toString()
    p_big = big._jdf.queryExecution().executedPlan().toString()
    # the merge table travels as a broadcast list, not as plan nodes:
    # 5x the vocab must not grow the physical plan
    assert len(p_big) == len(p_small)
    assert "Exchange" not in p_big  # still a pure narrow map
    # and it actually runs at 1k merges
    row = {r["doc_id"]: r for r in big.collect()}[8]
    assert row["n_chars"] == 26 and row["n_bpe_tokens"] < 26


# ---- synthetic PNG codec fixture (verdict item 6) ----------------------------


def test_synthetic_png_is_structurally_valid():
    import struct
    import zlib

    from concept_multi_db_query_engine_spark.operators import multimodal

    for i in (0, 7, 13):
        blob = multimodal.synthetic_png(i)
        w, h, v = multimodal.synthetic_png_params(i)
        assert blob[:8] == b"\x89PNG\r\n\x1a\n"
        # IHDR dims match the analytic parameters
        assert struct.unpack(">II", blob[16:24]) == (w, h)
        # IDAT inflates to h scanlines of (filter byte + w gray pixels)
        start = blob.index(b"IDAT") + 4
        length = struct.unpack(">I", blob[start - 8:start - 4])[0]
        raw = zlib.decompress(blob[start:start + length])
        assert raw == b"".join(b"\x00" + bytes([v]) * w for _ in range(h))
        # chunk CRCs are correct (what a strict decoder checks)
        crc = struct.unpack(">I", blob[start + length:start + length + 4])[0]
        assert crc == zlib.crc32(b"IDAT" + blob[start:start + length])


def test_png_decode_gate_matches_expected_rows(spark):
    from concept_multi_db_query_engine_spark.operators import multimodal

    media = multimodal.synthetic_png_table(spark, 16)
    got = sorted(map(tuple, multimodal.image_decode_stats(media).collect()))
    assert got == sorted(multimodal.png_decode_expected(16))


def test_png_decode_real_codec_reports_analytic_truth(spark):
    from concept_multi_db_query_engine_spark.operators import multimodal

    if not multimodal.HAS_PIL:
        pytest.skip("PIL not available in this container")
    media = multimodal.synthetic_png_table(spark, 8)
    rows = {r["doc_id"]: r
            for r in multimodal.image_decode_stats(media).collect()}
    for i in range(8):
        w, h, v = multimodal.synthetic_png_params(i)
        r = rows[i]
        assert (r["width"], r["height"]) == (w, h)
        assert r["format"] == "png"
        assert r["brightness"] == float(v)
        assert r["is_valid"]


# ---- Y4M video decode (verdict item 8) ---------------------------------------


def test_y4m_parser_rejects_malformed_streams():
    from concept_multi_db_query_engine_spark.operators import multimodal

    with pytest.raises(ValueError):
        multimodal._parse_y4m(b"not a stream")
    with pytest.raises(ValueError):
        multimodal._parse_y4m(b"YUV4MPEG2 F25:1\n")  # no dims
    good = multimodal.synthetic_y4m(0)
    with pytest.raises(ValueError):
        # corrupt the frame marker
        multimodal._parse_y4m(good.replace(b"FRAME", b"FRAMX", 1))


def test_y4m_decode_matches_analytic_truth(spark):
    from concept_multi_db_query_engine_spark.operators import multimodal

    media = multimodal.synthetic_y4m_table(spark, 12)
    got = sorted(map(tuple, multimodal.video_decode_stats(media).collect()))
    assert got == sorted(multimodal.y4m_decode_expected(12))


def test_y4m_decode_invalid_blob_is_flagged_not_fatal(spark):
    from concept_multi_db_query_engine_spark.operators import multimodal

    media = spark.createDataFrame(
        [(0, bytearray(multimodal.synthetic_y4m(0)), 16, 8, "video/y4m"),
         (1, bytearray(b"YUV4MPEG2 W16 H8 F25:1\nFRAMX"), 16, 8, "v"),
         (2, None, 0, 0, "v"),
         (3, bytearray(b"\x00\x01\x02"), 0, 0, "bin")],
        multimodal.MEDIA_SCHEMA,
    )
    out = {r["doc_id"]: r for r in
           multimodal.video_decode_stats(media).collect()}
    assert out[0]["is_valid"] and out[0]["n_frames"] == 3
    assert not out[1]["is_valid"]
    assert not out[2]["is_valid"]
    assert not out[3]["is_valid"]


# ---- logistic classifier (round-8 wave) --------------------------------------


def _toy_frame(spark):
    # cleanly separable: y = 1 iff f1 > 0.5; f2 is noise
    rows = [(i, (i % 10) / 10.0, ((i * 7) % 10) / 10.0,
             1 if (i % 10) / 10.0 > 0.5 else 0) for i in range(200)]
    return spark.createDataFrame(rows, "id long, f1 double, f2 double, y int")


def test_logistic_learns_separable_toy(spark):
    df = _toy_frame(spark)
    w = ops.logistic_train(df, ["f1", "f2"], "y", lr=4.0, iterations=40)
    scored = ops.logistic_score(df, w, ["f1", "f2"], "y", id_col="id")
    acc = scored.where(
        (F.col("predicted").cast("long")) == F.col("label")
    ).count() / 200.0
    assert acc >= 0.95
    assert w[1] > 0  # the signal feature got positive weight


def test_logistic_train_matches_python_replay(spark):
    """The whole point of the quantized-gradient design: the driver-side
    weight recurrence replays bit-for-bit from the collected features."""
    df = _toy_frame(spark)
    w = ops.logistic_train(df, ["f1", "f2"], "y", lr=2.0, iterations=7)
    rows = [(r["f1"], r["f2"], r["y"]) for r in df.collect()]

    def sig(z):
        return 0.5 + z / (2.0 * (1.0 + abs(z)))

    wp = [0.0, 0.0, 0.0]
    n = len(rows)
    for _ in range(7):
        s = [0, 0, 0]
        for f1, f2, y in rows:
            z = ((wp[0] + wp[1] * f1) + wp[2] * f2)
            r = y - sig(z)
            # round() in SQL is half-away-from-zero; Python's is
            # banker's — replay SQL semantics explicitly
            import math

            def q(x):
                return int(math.floor(abs(x) * 1e6 + 0.5)) * (
                    1 if x >= 0 else -1)

            s[0] += q(r)
            s[1] += q(r * f1)
            s[2] += q(r * f2)
        wp = [wi + 2.0 * ((si / 1e6) / n) for wi, si in zip(wp, s)]
    assert w == wp  # bit-for-bit, not approx


def test_logistic_excludes_null_rows_and_guards_empty(spark):
    df = spark.createDataFrame(
        [(0, 0.1, 0), (1, None, 1), (2, 0.9, None)],
        "id long, f1 double, y int",
    )
    # only row 0 is usable — trains without error
    w = ops.logistic_train(df, ["f1"], "y", lr=1.0, iterations=2)
    assert len(w) == 2
    empty = spark.createDataFrame([], "id long, f1 double, y int")
    with pytest.raises(ValueError, match="no usable rows"):
        ops.logistic_train(empty, ["f1"], "y")


def test_logistic_score_is_narrow_map(spark):
    df = _toy_frame(spark)
    scored = ops.logistic_score(df, [0.1, 0.2, -0.3], ["f1", "f2"], "y",
                                id_col="id")
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_calibration_report_exact_bins(spark):
    scored = spark.createDataFrame(
        [(0, 0.05, 0), (1, 0.05, 0), (2, 0.15, 0), (3, 0.95, 1),
         (4, 0.95, 1), (5, 0.85, 0), (6, 1.0, 1)],
        "id long, score double, label int",
    )
    out = {r["bin"]: r for r in
           ops.calibration_report(scored, n_bins=10).collect()}
    assert out[0]["n"] == 2 and out[0]["positive_rate"] == 0.0
    assert out[0]["mean_score"] == pytest.approx(0.05)
    # score 1.0 clamps into the last bin; 0.85 stays in bin 8
    assert out[8]["n"] == 1 and out[8]["positive_rate"] == 0.0
    assert out[9]["n"] == 3
    assert out[9]["positive_rate"] == 1.0
    # ece terms weight by bin share
    assert out[1]["ece_term"] == pytest.approx(0.15 * 1 / 7, abs=1e-6)


def test_calibration_report_validates_bins(spark):
    df = spark.createDataFrame([(0, 0.5, 1)],
                               "id long, score double, label int")
    with pytest.raises(ValueError):
        ops.calibration_report(df, n_bins=1)


# ---- kaplan_meier (round-8 wave) ---------------------------------------------


def test_kaplan_meier_matches_textbook_example(spark):
    # classic small example: events at t=1 (n=5), t=3 (n=3, after a
    # censor at 2); S(1) = 4/5, S(3) = 4/5 * 2/3
    df = spark.createDataFrame(
        [(1.0, True), (2.0, False), (3.0, True), (4.0, False),
         (5.0, False)],
        "t double, ev boolean",
    )
    out = {r["t"]: r for r in ops.kaplan_meier(df, "t", "ev").collect()}
    assert set(out) == {1.0, 3.0}  # event times only
    assert out[1.0]["n_risk"] == 5 and out[1.0]["d_events"] == 1
    assert out[1.0]["survival"] == pytest.approx(0.8)
    assert out[3.0]["n_risk"] == 3
    assert out[3.0]["survival"] == pytest.approx(0.8 * 2 / 3, abs=1e-6)


def test_kaplan_meier_python_replay_with_groups(spark):
    import math

    rows = [("a", float(1 + (i * 7) % 9), (i % 3) != 0) for i in range(60)]
    rows += [("b", float(1 + (i * 5) % 7), (i % 2) == 0) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, t double, ev boolean")
    got = {(r["g"], r["t"]): (r["n_risk"], r["d_events"], r["survival"])
           for r in ops.kaplan_meier(df, "t", "ev", "g").collect()}

    want = {}
    for g in ("a", "b"):
        subj = sorted((t, ev) for gg, t, ev in rows if gg == g)
        times = sorted({t for t, ev in subj if ev})
        lnsum, dead = 0, False
        for t in times:
            n = sum(1 for tt, _ in subj if tt >= t)
            d = sum(1 for tt, ev in subj if tt == t and ev)
            if d == n:
                dead = True
            else:
                lnsum -= int(math.floor(
                    abs(math.log(1 - d / n)) * 1e9 + 0.5))
            want[(g, t)] = (
                n, d, 0.0 if dead else round(math.exp(lnsum / 1e9), 6))
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0] and got[k][1] == want[k][1]
        assert got[k][2] == pytest.approx(want[k][2], abs=2e-6)


def test_kaplan_meier_everyone_dies_reaches_exact_zero(spark):
    df = spark.createDataFrame(
        [(1.0, True), (2.0, True), (2.0, True)], "t double, ev boolean")
    out = {r["t"]: r["survival"]
           for r in ops.kaplan_meier(df, "t", "ev").collect()}
    # at t=2 the last 2 of 2 at-risk subjects die: survival exactly 0.0,
    # not exp(-inf) and not a NULL
    assert out[2.0] == 0.0
    assert out[1.0] == pytest.approx(2 / 3, abs=1e-6)


def test_kaplan_meier_single_shuffle_per_group_plan(spark):
    df = spark.createDataFrame(
        [(float(i % 13), i % 4 != 0) for i in range(100)],
        "t double, ev boolean",
    )
    plan = ops.kaplan_meier(df, "t", "ev") \
        ._jdf.queryExecution().executedPlan().toString()
    # round 9: the ungrouped path runs through the distributed-prefix
    # primitive — the only joins are the BROADCAST of the O(partitions)
    # offset rows back onto the checkpointed duration frame; the corpus
    # never joins or re-exchanges, and no un-partitioned window remains
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") <= 2
    for line in plan.splitlines():
        s = line.strip().lstrip("+-: *(0123456789)").strip()
        assert not (s.startswith("Window [") and s.count("], [") < 2), line


# ---- snn_graph (round-8 wave) -------------------------------------------------


def test_snn_counts_shared_neighbors_exactly(spark):
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12),
         (2, 10), (2, 11), (2, 13),
         (3, 13), (3, 14), (3, 15)],
        "vec_id long, neighbor_id long",
    )
    out = {(r["a"], r["b"]): (r["shared"], r["mutual"])
           for r in ops.snn_graph(edges, min_shared=1).collect()}
    assert out[(1, 2)] == (2, False)   # share 10, 11
    assert out[(2, 3)] == (1, False)   # share 13
    assert (1, 3) not in out           # nothing shared


def test_snn_mutual_flag_requires_both_directions(spark):
    edges = spark.createDataFrame(
        [(1, 2), (1, 9), (2, 1), (2, 9),   # 1<->2 mutual, share 9
         (3, 4), (3, 9), (4, 9)],          # 3->4 one-way, share 9
        "vec_id long, neighbor_id long",
    )
    out = {(r["a"], r["b"]): r["mutual"]
           for r in ops.snn_graph(edges, min_shared=1).collect()}
    assert out[(1, 2)] is True
    assert out[(3, 4)] is False


def test_snn_python_replay_on_knn_edges(spark):
    import itertools

    emb = spark.createDataFrame(
        [(i, [float((i * j) % 7) for j in range(1, 5)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    edges = ops.knn_graph(emb, k=4, n_blocks=2)
    got = {(r["a"], r["b"]): r["shared"]
           for r in ops.snn_graph(edges, min_shared=1).collect()}
    nbrs = {}
    for r in edges.select("vec_id", "neighbor_id").collect():
        nbrs.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    want = {}
    for a, b in itertools.combinations(sorted(nbrs), 2):
        sh = len(nbrs[a] & nbrs[b])
        if sh >= 1:
            want[(a, b)] = sh
    assert got == want


def test_snn_plan_joins_on_neighbor_only(spark):
    edges = spark.createDataFrame(
        [(i, (i * 3 + j) % 50) for i in range(50) for j in range(4)],
        "vec_id long, neighbor_id long",
    )
    plan = ops.snn_graph(edges)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---- domain_quota_sample / boilerplate_prefixes (round-8 wave) -----------------


def test_domain_quota_caps_each_domain(spark):
    docs = spark.createDataFrame(
        [(i, f"src{i % 3}", f"t{i}") for i in range(30)],
        "doc_id long, source string, text string",
    )
    out = ops.domain_quota_sample(docs, quota=4)
    per = {r["source"]: r["cnt"] for r in
           out.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert per == {"src0": 4, "src1": 4, "src2": 4}
    # domains under quota keep everything
    small = ops.domain_quota_sample(docs.where("doc_id < 5"), quota=4)
    assert small.count() == 5  # src0:2 src1:2 src2:1, all <= 4


def test_domain_quota_pick_is_deterministic_md5_order(spark):
    import hashlib

    docs = spark.createDataFrame(
        [(i, "s", f"t{i}") for i in range(20)],
        "doc_id long, source string, text string",
    )
    got = sorted(r["doc_id"] for r in
                 ops.domain_quota_sample(docs, quota=5).collect())
    want = sorted(sorted(
        range(20),
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:5])
    assert got == want
    # partitioning never changes the picks
    got2 = sorted(r["doc_id"] for r in ops.domain_quota_sample(
        docs.repartition(7), quota=5).collect())
    assert got2 == got


def test_domain_quota_validates(spark):
    docs = spark.createDataFrame([(1, "s", "t")],
                                 "doc_id long, source string, text string")
    with pytest.raises(ValueError):
        ops.domain_quota_sample(docs, quota=0)


def test_boilerplate_prefixes_head_and_tail(spark):
    docs = spark.createDataFrame(
        [(0, "cookie banner here a"), (1, "cookie banner there b"),
         (2, "cookie banner again c"), (3, "unique text one d"),
         (4, "x y z cookie banner"), (5, "p q r cookie banner"),
         (6, "m n o cookie banner"), (7, "short")],
        "doc_id long, text string",
    )
    head = ops.boilerplate_prefixes(docs, n_tokens=2, min_docs=3).collect()
    assert [(r["prefix"], r["n_docs"], r["rank"]) for r in head] == [
        ("cookie banner", 3, 1)]
    tail = ops.boilerplate_prefixes(docs, n_tokens=2, min_docs=3,
                                    side="tail").collect()
    assert [(r["prefix"], r["n_docs"]) for r in tail] == [
        ("cookie banner", 3)]
    with pytest.raises(ValueError):
        ops.boilerplate_prefixes(docs, side="middle")


# ---- cms_join_size (round-8 wave) ----------------------------------------------


def test_cms_join_size_overestimates_and_tracks_exact(spark):
    a = spark.createDataFrame([(i % 20,) for i in range(400)], "k long")
    b = spark.createDataFrame([(i % 30,) for i in range(300)], "k long")
    row = ops.cms_join_size(a, b, "k", depth=4, width=256).collect()[0]
    exact = sum(
        (400 // 20 if v < 20 else 0) * (10 if v < 30 else 0)
        for v in range(20))
    assert row["exact_join_size"] == exact
    # CMS inner product NEVER underestimates
    assert row["est_join_size"] >= row["exact_join_size"]
    assert row["overcount_ratio"] >= 1.0
    # with width >> distinct keys the estimate should be tight
    assert row["overcount_ratio"] < 1.5


def test_cms_join_size_disjoint_keys_small_estimate(spark):
    a = spark.createDataFrame([(i,) for i in range(50)], "k long")
    b = spark.createDataFrame([(i + 1000,) for i in range(50)], "k long")
    row = ops.cms_join_size(a, b, "k", depth=4, width=512).collect()[0]
    assert row["exact_join_size"] == 0
    assert row["overcount_ratio"] is None  # nullif(0) guard
    # collisions only: estimate stays near zero, far below |A|x|B|
    assert row["est_join_size"] < 100


def test_cms_join_size_python_replay(spark):
    import hashlib

    def bucket(v, j, width):
        hx = hashlib.md5(f"{v}:cms:{j}".encode()).hexdigest()[:15]
        return int(hx, 16) % width

    avals = [i % 7 for i in range(60)]
    bvals = [i % 11 for i in range(44)]
    a = spark.createDataFrame([(v,) for v in avals], "k long")
    b = spark.createDataFrame([(v,) for v in bvals], "k long")
    row = ops.cms_join_size(a, b, "k", depth=3, width=64).collect()[0]
    est = []
    for j in range(3):
        ca, cb = {}, {}
        for v in avals:
            ca[bucket(v, j, 64)] = ca.get(bucket(v, j, 64), 0) + 1
        for v in bvals:
            cb[bucket(v, j, 64)] = cb.get(bucket(v, j, 64), 0) + 1
        est.append(sum(ca[x] * cb.get(x, 0) for x in ca))
    assert row["est_join_size"] == min(est)


# ---- markov_removal_attribution (round-8 wave) ---------------------------------


def _journeys(spark, paths):
    rows = []
    for uid, path in enumerate(paths):
        for i, et in enumerate(path):
            rows.append((uid * 1000 + i, uid,
                         dt.datetime(2024, 1, 1, 0, 0, i), et))
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, "
              "event_type string")


def test_markov_attribution_single_channel_gets_all_credit(spark):
    # every conversion flows through 'click'; 'view' never converts
    ev = _journeys(spark, [
        ["click", "purchase"], ["click", "purchase"],
        ["view"], ["view"],
    ])
    out = {r["channel"]: r for r in
           ops.markov_removal_attribution(ev).collect()}
    assert out["click"]["attribution_share"] == pytest.approx(1.0)
    assert out["view"]["attribution_share"] == pytest.approx(0.0)
    # removing click kills all conversion
    assert out["click"]["p_removed"] == 0.0
    assert out["click"]["removal_effect"] == pytest.approx(1.0)


def test_markov_attribution_matches_hand_computed_chain(spark):
    # START -> click (p=1); click -> purchase 0.5, click -> NULL 0.5
    ev = _journeys(spark, [["click", "purchase"], ["click"]])
    out = {r["channel"]: r for r in
           ops.markov_removal_attribution(ev).collect()}
    assert out["click"]["p_full"] == pytest.approx(0.5)


def test_markov_attribution_truncates_after_first_conversion(spark):
    # post-purchase events must not create transitions (the second
    # 'view' would otherwise leak credit)
    ev = _journeys(spark, [["click", "purchase", "view", "view"]])
    out = {r["channel"]: r for r in
           ops.markov_removal_attribution(ev).collect()}
    assert "view" not in out  # view never appears pre-conversion
    assert out["click"]["p_full"] == pytest.approx(1.0)


def test_markov_attribution_is_partitioning_independent(spark):
    ev = _journeys(spark, [
        ["view", "click", "purchase"], ["view"], ["click", "purchase"],
        ["view", "view", "purchase"], ["click"], ["view", "click"],
    ])
    a = sorted(map(tuple, ops.markov_removal_attribution(ev).collect()))
    b = sorted(map(tuple, ops.markov_removal_attribution(
        ev.repartition(7)).collect()))
    assert a == b
    shares = {r[0]: r[4] for r in a}
    # view opens more journeys; click closes more — both positive
    assert shares["click"] > 0 and shares["view"] > 0


# ---- bm25_topk / rrf_fuse (round-8 wave 2) --------------------------------------


def _retrieval_docs(spark):
    return spark.createDataFrame(
        [(0, "spark spark spark engine"),
         (1, "spark engine"),
         (2, "engine room"),
         (3, "nothing relevant here"),
         (4, "spark")],
        "doc_id long, text string",
    )


def test_bm25_ranks_by_relevance(spark):
    out = ops.bm25_topk(_retrieval_docs(spark), ["spark"], k=3)
    rows = [(r["doc_id"], r["rank"]) for r in
            out.orderBy("rank").collect()]
    # doc 4 is pure query term (shortest); doc 0 has highest tf
    ids = [d for d, _ in rows]
    assert 3 not in ids           # no query term → no score
    assert ids[0] in (0, 4)       # tf vs length-norm tradeoff
    assert len(rows) == 3


def test_bm25_matches_python_replay(spark):
    import math

    docs = [(0, "a b a c"), (1, "a d"), (2, "b b b"), (3, "c c a")]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["score"] for r in
           ops.bm25_topk(sdf, ["a", "b"], k=4).collect()}
    toks = {d: t.split() for d, t in docs}
    N = len(docs)
    avg = sum(len(t) for t in toks.values()) / N
    want = {}
    for d, t in toks.items():
        s = 0
        for term in ("a", "b"):
            tf = t.count(term)
            if not tf:
                continue
            df = sum(1 for tt in toks.values() if term in tt)
            idf = math.log(1.0 + (N - df + 0.5) / (df + 0.5))
            raw = idf * (tf * 2.2) / (
                tf + 1.2 * (1 - 0.75 + 0.75 * len(t) / avg))
            s += int(math.floor(round(raw, 6) * 1e6 + 0.5))
        if s:
            want[d] = s / 1e6
    assert got == want


def test_bm25_validates_empty_query(spark):
    with pytest.raises(ValueError):
        ops.bm25_topk(_retrieval_docs(spark), [])


def test_rrf_fusion_prefers_doc_ranked_by_both(spark):
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)],
                              "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, rank int")
    out = {r["doc_id"]: (r["rrf_score"], r["fused_rank"])
           for r in ops.rrf_fuse(a, b, k=60).collect()}
    # doc 2 appears in both lists -> top fused rank
    assert out[2][1] == 1
    assert out[2][0] == pytest.approx(
        round(1e6 / 62) / 1e6 + round(1e6 / 61) / 1e6)
    assert set(out) == {1, 2, 3, 4}


# ---- grouped_hash_split / conformal_interval (round-8 wave 2) -------------------


def test_grouped_split_keeps_groups_intact(spark):
    docs = spark.createDataFrame(
        [(i, f"src{i % 40}") for i in range(400)],
        "doc_id long, source string",
    )
    out = ops.grouped_hash_split(docs, "source").collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], set()).add(r["split"])
    # the whole point: one split per group, never straddling
    assert all(len(s) == 1 for s in by_group.values())
    splits = {r["split"] for r in out}
    assert "train" in splits and len(splits) >= 2
    with pytest.raises(ValueError):
        ops.grouped_hash_split(docs, "source", train=0.99, val=0.5)


def test_grouped_split_matches_hash_split_on_group_value(spark):
    docs = spark.createDataFrame(
        [(i, f"s{i % 7}") for i in range(70)], "doc_id long, source string")
    grouped = {r["source"]: r["split"] for r in
               ops.grouped_hash_split(docs, "source", salt="x").collect()}
    direct = {r["doc_id"]: r["split"] for r in ops.hash_split(
        docs.select(F.col("source").alias("doc_id")).distinct(),
        salt="x").collect()}
    assert grouped == direct


def test_conformal_interval_order_statistic_exact(spark):
    # residuals 1..100; alpha=0.1 → k = ceil(101*0.9) = 91 → q̂ = 91
    df = spark.createDataFrame(
        [(float(i), 0.0) for i in range(1, 101)],
        "actual double, pred double",
    )
    row = ops.conformal_interval(df, "pred", "actual", alpha=0.1) \
        .collect()[0]
    assert row["n_calib"] == 100 and row["k_order"] == 91
    assert row["q_hat"] == 91.0
    assert row["empirical_coverage"] == pytest.approx(0.91)


def test_conformal_interval_guards(spark):
    df = spark.createDataFrame([(1.0, 1.0)], "actual double, pred double")
    with pytest.raises(ValueError):
        ops.conformal_interval(df, "pred", "actual", alpha=1.5)
    empty = spark.createDataFrame([], "actual double, pred double")
    with pytest.raises(ValueError, match="empty calibration"):
        ops.conformal_interval(empty, "pred", "actual")


def test_conformal_small_n_clamps_k(spark):
    # n=3, alpha=0.05 → ceil(4*0.95)=4 > n → clamp to n (max residual)
    df = spark.createDataFrame(
        [(1.0, 0.0), (2.0, 0.0), (5.0, 0.0)], "actual double, pred double")
    row = ops.conformal_interval(df, "pred", "actual", alpha=0.05) \
        .collect()[0]
    assert row["k_order"] == 3 and row["q_hat"] == 5.0


# ---- dedup_span_removal (round-8 wave 2) ----------------------------------------


def test_span_removal_deletes_shared_spans_only(spark):
    shared = "one two three four"
    docs = spark.createDataFrame(
        [(0, f"{shared} alpha beta"),
         (1, f"gamma {shared} delta"),
         (2, "totally unrelated text here now")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           ops.dedup_span_removal(docs, n=4).collect()}
    assert out[0]["cleaned_text"] == "alpha beta"
    assert out[0]["n_removed"] == 4
    assert out[1]["cleaned_text"] == "gamma delta"
    # the unique doc is untouched
    assert out[2]["cleaned_text"] == "totally unrelated text here now"
    assert out[2]["n_removed"] == 0


def test_span_removal_overlapping_grams_union_coverage(spark):
    # "a b c d e" shared between docs: with n=4 both grams (0-3, 1-4)
    # duplicate, covering all 5 positions exactly once
    docs = spark.createDataFrame(
        [(0, "a b c d e tail0"), (1, "a b c d e tail1")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           ops.dedup_span_removal(docs, n=4).collect()}
    assert out[0]["n_removed"] == 5
    assert out[0]["cleaned_text"] == "tail0"


def test_span_removal_short_docs_pass_through(spark):
    docs = spark.createDataFrame(
        [(0, "tiny doc"), (1, "tiny doc")],  # 2 tokens < n
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           ops.dedup_span_removal(docs, n=8).collect()}
    assert out[0]["cleaned_text"] == "tiny doc"
    assert out[0]["n_removed"] == 0 and out[0]["n_tokens"] == 2


def test_span_removal_plan_never_broadcasts_the_dup_set(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{(i * 3 + j) % 40}" for j in range(20)))
         for i in range(60)],
        "doc_id long, text string",
    )
    plan = ops.dedup_span_removal(docs, n=8) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# ---- position_attribution (round-8 wave 3) --------------------------------------


def test_position_attribution_rule_shares(spark):
    # journeys: [view, click, view2?, purchase]; channels view/click
    ev = _journeys(spark, [
        ["view", "click", "purchase"],   # first=view last=click
        ["click", "purchase"],           # single touch: all to click
        ["view", "view", "purchase"],    # first & last = view
        ["view"],                        # never converts: excluded
    ])
    out = {r["channel"]: r for r in
           ops.position_attribution(ev).collect()}
    # first-touch: view 2/3, click 1/3
    assert out["view"]["first_touch"] == pytest.approx(2 / 3, abs=1e-6)
    assert out["click"]["first_touch"] == pytest.approx(1 / 3, abs=1e-6)
    # last-touch: click 2/3 (j1 + j2), view 1/3 (j3)
    assert out["click"]["last_touch"] == pytest.approx(2 / 3, abs=1e-6)
    # linear: j1 view .5, click .5; j2 click 1; j3 view 1
    assert out["view"]["linear"] == pytest.approx(1.5 / 3, abs=1e-6)
    assert out["click"]["linear"] == pytest.approx(1.5 / 3, abs=1e-6)


def test_position_attribution_u_shape_middle_split(spark):
    ev = _journeys(spark, [
        ["view", "click", "error", "signup", "purchase"],
    ])
    out = {r["channel"]: r for r in
           ops.position_attribution(ev, u_shape_end=0.4).collect()}
    assert out["view"]["u_shaped"] == pytest.approx(0.4)
    assert out["signup"]["u_shaped"] == pytest.approx(0.4)
    # middle 0.2 split over 2 touches
    assert out["click"]["u_shaped"] == pytest.approx(0.1)
    assert out["error"]["u_shaped"] == pytest.approx(0.1)


def test_position_attribution_credit_sums_to_one(spark):
    ev = _journeys(spark, [
        ["view", "click", "purchase"], ["click", "view", "purchase"],
        ["error", "purchase"], ["view", "view", "view", "purchase"],
        ["signup", "click", "error", "purchase"],
    ])
    rows = ops.position_attribution(ev).collect()
    for col in ("first_touch", "last_touch", "linear", "u_shaped"):
        assert sum(r[col] for r in rows) == pytest.approx(1.0, abs=1e-5)


def test_position_attribution_partitioning_independent(spark):
    ev = _journeys(spark, [
        ["view", "click", "purchase"], ["click", "purchase"],
        ["view", "error", "signup", "purchase"], ["view"],
    ])
    a = sorted(map(tuple, ops.position_attribution(ev).collect()))
    b = sorted(map(tuple, ops.position_attribution(
        ev.repartition(5)).collect()))
    assert a == b


# ---- mutual_information (round-8 wave 3) ----------------------------------------


def test_mutual_information_independent_is_zero(spark):
    # perfectly independent 2x2 grid
    df = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "cd" for _ in range(25)],
        "x string, y string",
    )
    row = ops.mutual_information(df, "x", "y").collect()[0]
    assert row["mi_nats"] == pytest.approx(0.0, abs=1e-6)
    assert row["h_x"] == pytest.approx(0.693147, abs=1e-5)
    assert row["nmi"] == pytest.approx(0.0, abs=1e-6)


def test_mutual_information_deterministic_copy_is_entropy(spark):
    # y = x exactly → MI = H(X) = ln(3), NMI = 1
    df = spark.createDataFrame(
        [(c, c) for c in "abc" for _ in range(10)], "x string, y string")
    row = ops.mutual_information(df, "x", "y").collect()[0]
    import math

    assert row["mi_nats"] == pytest.approx(math.log(3), abs=1e-5)
    assert row["nmi"] == pytest.approx(1.0, abs=1e-6)


def test_mutual_information_python_replay(spark):
    import math
    from collections import Counter

    rows = [(f"x{i % 3}", f"y{(i * 2) % 5}") for i in range(97)]
    df = spark.createDataFrame(rows, "x string, y string")
    got = ops.mutual_information(df, "x", "y").collect()[0]
    jo, mx, my = Counter(rows), Counter(), Counter()
    for x, y in rows:
        mx[x] += 1
        my[y] += 1
    n = len(rows)

    def q9(v):
        return int(math.floor(abs(v) * 1e9 + 0.5)) * (1 if v >= 0 else -1)

    mi = sum(c * q9(math.log(n * c / (mx[x] * my[y])))
             for (x, y), c in jo.items())
    assert got["mi_nats"] == pytest.approx(
        round(mi / (n * 1e9), 6), abs=1e-9)


# ---- matryoshka_recall (round-8 wave 3) -----------------------------------------


def test_matryoshka_full_dim_recall_is_one(spark):
    emb = spark.createDataFrame(
        [(i, [float((i * j + j) % 11) for j in range(8)])
         for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = {r["dim"]: r for r in ops.matryoshka_recall(
        emb, dims=[8, 2], k=5, n_queries=5).collect()}
    assert out[8]["recall_at_k"] == 1.0   # truncation to full dim = truth
    assert out[8]["n_pairs"] == 25
    assert 0.0 <= out[2]["recall_at_k"] <= 1.0


def test_matryoshka_recall_monotone_on_nested_structure(spark):
    # energy concentrated in the leading dims: recall should not
    # collapse at half dim
    emb = spark.createDataFrame(
        [(i, [float(((i * 7 + j) % 13) * (8 - j)) for j in range(8)])
         for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    out = {r["dim"]: r["recall_at_k"] for r in ops.matryoshka_recall(
        emb, dims=[4, 8], k=5, n_queries=8).collect()}
    assert out[8] == 1.0
    assert out[4] >= 0.3
    with pytest.raises(ValueError):
        ops.matryoshka_recall(emb, dims=[])


# ---- quantile_regression_train (round-8 wave 4) ---------------------------------


def test_quantile_regression_learns_conditional_median(spark):
    # y = 10*x + wide symmetric noise → tau=0.5 line ≈ slope 10.
    # Constant-lr subgradient descent limit-cycles with amplitude
    # ~lr/2, so the noise band (±5) must dominate the oscillation
    rows = [(i, i / 100.0, 10.0 * (i / 100.0) + ((i % 21) - 10) * 0.5)
            for i in range(300)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    w = ops.quantile_regression_train(df, ["x"], "y", tau=0.5,
                                      lr=0.5, iterations=120)
    pred = ops.linear_predict(df, w, ["x"], id_col="id")
    joined = df.join(pred, "id")
    below = joined.where("y < pred").count() / 300.0
    # the defining property of the tau-quantile fit
    assert 0.35 <= below <= 0.65
    assert 5.0 < w[1] < 15.0  # slope near the true 10


def test_quantile_regression_tau_shifts_the_line(spark):
    rows = [(i, 1.0, float(i % 100)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    w10 = ops.quantile_regression_train(df, ["x"], "y", tau=0.1,
                                        lr=20.0, iterations=80)
    w90 = ops.quantile_regression_train(df, ["x"], "y", tau=0.9,
                                        lr=20.0, iterations=80)
    # constant feature: fit approximates the marginal quantiles
    p10 = w10[0] + w10[1]
    p90 = w90[0] + w90[1]
    assert p90 - p10 > 30.0


def test_quantile_regression_python_replay(spark):
    import math

    rows = [(i, (i % 10) / 10.0, float((i * 3) % 7)) for i in range(80)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    w = ops.quantile_regression_train(df, ["x"], "y", tau=0.25,
                                      lr=1.5, iterations=9)

    def q(v):
        return int(math.floor(abs(v) * 1e6 + 0.5)) * (1 if v >= 0 else -1)

    wp = [0.0, 0.0]
    n = len(rows)
    for _ in range(9):
        s = [0, 0]
        for _, x, y in rows:
            z = (wp[0] + wp[1] * x)
            g = 0.25 - (1.0 if y < z else 0.0)
            s[0] += q(g)
            s[1] += q(g * x)
        wp = [wi + 1.5 * ((si / 1e6) / n) for wi, si in zip(wp, s)]
    assert w == wp


def test_quantile_regression_validates(spark):
    df = spark.createDataFrame([(1, 1.0, 1.0)],
                               "id long, x double, y double")
    with pytest.raises(ValueError):
        ops.quantile_regression_train(df, ["x"], "y", tau=1.5)
    empty = spark.createDataFrame([], "id long, x double, y double")
    with pytest.raises(ValueError, match="no usable rows"):
        ops.quantile_regression_train(empty, ["x"], "y")


def test_quantile_regression_fails_on_an_unparseable_string_target(spark):
    # the target is cast to DOUBLE before the NULL filter; under ANSI
    # mode (the session default) an unparseable string fails the fit
    # instead of casting to NULL and silently dropping the row
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame(
        [(1, 1.0, "2.5"), (2, 2.0, "abc"), (3, 3.0, None)],
        "id long, x double, y string")
    with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
        ops.quantile_regression_train(df, ["x"], "y", iterations=2)
    # NULL targets are still dropped: without the bad row the fit runs
    w = ops.quantile_regression_train(df.where("id != 2"), ["x"], "y",
                                      iterations=2)
    assert len(w) == 2


# ---- c2st_drift (round-8 wave 4) ------------------------------------------------


def test_c2st_identical_distributions_auc_half(spark):
    df = spark.createDataFrame(
        [(i, (i % 10) / 10.0) for i in range(200)], "doc_id long, f double")
    # old/new are interleaved halves of the SAME distribution
    row = ops.c2st_drift(df.where("doc_id % 2 = 0"),
                         df.where("doc_id % 2 = 1"), ["f"]).collect()[0]
    assert row["n_old"] == 100 and row["n_new"] == 100
    assert abs(row["auc"] - 0.5) < 0.1


def test_c2st_shifted_distribution_detected(spark):
    old = spark.createDataFrame(
        [(i, (i % 10) / 10.0) for i in range(100)], "doc_id long, f double")
    new = spark.createDataFrame(
        [(1000 + i, 2.0 + (i % 10) / 10.0) for i in range(100)],
        "doc_id long, f double")
    row = ops.c2st_drift(old, new, ["f"], lr=4.0,
                         iterations=30).collect()[0]
    assert row["auc"] > 0.9  # clean separation


def test_c2st_auc_matches_python_mannwhitney(spark):
    old = spark.createDataFrame(
        [(i, (i % 7) / 7.0) for i in range(50)], "doc_id long, f double")
    new = spark.createDataFrame(
        [(100 + i, ((i % 7) + 2) / 7.0) for i in range(50)],
        "doc_id long, f double")
    row = ops.c2st_drift(old, new, ["f"], lr=2.0,
                         iterations=10).collect()[0]
    # replay: same training (bit-exact), same scores, tie-aware AUC
    w = ops.logistic_train(
        old.withColumn("__is_new", F.lit(0)).unionByName(
            new.withColumn("__is_new", F.lit(1))),
        ["f"], "__is_new", lr=2.0, iterations=10)
    scored = ops.logistic_score(
        old.withColumn("__is_new", F.lit(0)).unionByName(
            new.withColumn("__is_new", F.lit(1))),
        w, ["f"], "__is_new").collect()
    pairs = [(r["score"], r["label"]) for r in scored]
    num = 0
    for s1, y1 in pairs:
        if y1 != 1:
            continue
        for s0, y0 in pairs:
            if y0 != 0:
                continue
            num += 2 if s1 > s0 else (1 if s1 == s0 else 0)
    want = round(num / (2.0 * 50 * 50), 6)
    assert row["auc"] == pytest.approx(want, abs=1e-9)


# ---- feature_auc_report (round-8 wave 5) ----------------------------------------


def test_feature_auc_separates_signal_from_noise(spark):
    rows = [(i, float(i), float((i * 7) % 10), 1 if i >= 50 else 0)
            for i in range(100)]
    df = spark.createDataFrame(rows, "id long, good double, "
                                     "noise double, y int")
    out = {r["feature"]: r for r in ops.feature_auc_report(
        df, ["good", "noise"], "y").collect()}
    assert out["good"]["auc"] == 1.0  # perfectly ranks positives above
    assert abs(out["noise"]["auc"] - 0.5) < 0.1
    assert out["good"]["abs_signal"] > out["noise"]["abs_signal"]
    assert out["good"]["n_neg"] == 50 and out["good"]["n_pos"] == 50


def test_feature_auc_inverted_feature_symmetry(spark):
    rows = [(i, float(i), 1 if i >= 30 else 0) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, f double, y int")
    up = ops.feature_auc_report(df, ["f"], "y").collect()[0]["auc"]
    dn = ops.feature_auc_report(df, ["-f"], "y").collect()[0]["auc"]
    assert up + dn == pytest.approx(1.0, abs=1e-9)


def test_feature_auc_validates(spark):
    df = spark.createDataFrame([(1, 1.0, 1)], "id long, f double, y int")
    with pytest.raises(ValueError):
        ops.feature_auc_report(df, [], "y")
    with pytest.raises(ValueError):
        ops.feature_auc_report(df, ["f"], "y", names=["a", "b"])


# ---- negative_samples (round-8 wave 5) ------------------------------------------


def test_negative_samples_shape_and_exclusions(spark):
    emb = _vecs(spark, range(40))
    edges = ops.knn_graph(emb, k=3, n_blocks=2)
    out = ops.negative_samples(emb, edges, k_neg=4).collect()
    per = {}
    nbrs = {}
    for r in edges.select("vec_id", "neighbor_id").collect():
        nbrs.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    for r in out:
        per.setdefault(r["anchor_id"], []).append(
            (r["neg_rank"], r["neg_id"]))
        assert r["neg_id"] != r["anchor_id"]
        assert r["neg_id"] not in nbrs.get(r["anchor_id"], set())
    for a, pairs in per.items():
        ranks = sorted(k for k, _ in pairs)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 4
        negs = [v for _, v in pairs]
        assert len(set(negs)) == len(negs)  # no duplicate negatives


def test_negative_samples_deterministic_across_partitioning(spark):
    emb = _vecs(spark, range(30))
    a = sorted(map(tuple, ops.negative_samples(emb, k_neg=3).collect()))
    b = sorted(map(tuple, ops.negative_samples(
        emb.repartition(7), k_neg=3).collect()))
    assert a == b
    # a different salt re-rolls the picks
    c = sorted(map(tuple, ops.negative_samples(
        emb, k_neg=3, salt="other").collect()))
    assert c != a


def test_negative_samples_validates(spark):
    emb = _vecs(spark, range(5))
    with pytest.raises(ValueError):
        ops.negative_samples(emb, k_neg=0)


# ---- ivf_tuning_curve (round-8 wave 5) ------------------------------------------


def test_ivf_curve_recall_monotone_in_probes(spark):
    emb = spark.createDataFrame(
        [(i, [float((i * 3 + j * 5) % 17) for j in range(8)], i % 4)
         for i in range(60)],
        "vec_id long, embedding array<float>, label int",
    )
    out = {r["n_probe"]: r for r in ops.ivf_tuning_curve(
        emb, n_probes=[1, 2, 4], k=5, n_queries=5).collect()}
    assert out[1]["recall_at_k"] <= out[2]["recall_at_k"] + 1e-9
    assert out[2]["recall_at_k"] <= out[4]["recall_at_k"] + 1e-9
    # probing every cell recovers the exact baseline
    assert out[4]["recall_at_k"] == 1.0
    assert out[4]["nominal_scan_fraction"] == 1.0
    assert out[1]["nominal_scan_fraction"] == pytest.approx(0.25)
    with pytest.raises(ValueError):
        ops.ivf_tuning_curve(emb, n_probes=[])


# ---- dedup_span_removal_incremental (round-8 wave 5) ----------------------------


def test_incremental_span_removal_cleans_against_corpus(spark):
    corpus = spark.createDataFrame(
        [(100, "license header text goes here always x y z")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(0, "license header text goes here always unique tail"),
         (1, "completely fresh content nothing shared at all")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ops.dedup_span_removal_incremental(
        batch, corpus, n=6).collect()}
    # grams of len 6 from the corpus cover the first 7 tokens of doc 0
    assert out[0]["cleaned_text"] == "unique tail"
    assert out[1]["n_removed"] == 0
    assert set(out) == {0, 1}  # corpus rows never appear in output


def test_incremental_span_removal_also_dedups_within_batch(spark):
    corpus = spark.createDataFrame([(99, "x y z")],
                                   "doc_id long, text string")
    shared = "a b c d e f"
    batch = spark.createDataFrame(
        [(0, f"{shared} t0"), (1, f"{shared} t1"), (2, "own words only")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["cleaned_text"]
           for r in ops.dedup_span_removal_incremental(
               batch, corpus, n=6).collect()}
    assert out[0] == "t0" and out[1] == "t1"
    assert out[2] == "own words only"


def test_incremental_matches_full_pass_on_clean_corpus(spark):
    """When the corpus itself is span-clean, incremental(batch, corpus)
    must equal the batch rows of the full pass over corpus ∪ batch."""
    corpus = spark.createDataFrame(
        [(100 + i, " ".join(f"c{i}t{j}" for j in range(12)))
         for i in range(5)],
        "doc_id long, text string",
    )
    shared = " ".join(f"s{j}" for j in range(9))
    batch = spark.createDataFrame(
        [(0, f"{shared} b0 b1"), (1, f"b2 {shared}"),
         (2, "c0t0 c0t1 c0t2 lone")],  # short corpus overlap: < n, kept
        "doc_id long, text string",
    )
    inc = sorted(map(tuple, ops.dedup_span_removal_incremental(
        batch, corpus, n=8).collect()))
    full = sorted(map(tuple, ops.dedup_span_removal(
        corpus.unionByName(batch), n=8).where("doc_id < 100").collect()))
    assert inc == full


# ---- adamic_adar_scores ---------------------------------------------------


def test_adamic_adar_square_graph_scores_the_missing_diagonals(spark):
    # square 1-2-3-4-1: the two diagonals (1,3) and (2,4) are the only
    # non-adjacent pairs; each has two degree-2 common neighbors, so
    # AA = 2 * round(1e6/ln 2)/1e6 — and no adjacent pair may appear
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src int, dst int"
    )
    rows = ops.adamic_adar_scores(edges).collect()
    import math
    expected = 2 * round(1000000.0 / math.log(2.0)) / 1000000.0
    got = {(r["u"], r["v"]): (r["common_neighbors"], r["aa_score"])
           for r in rows}
    assert got == {(1, 3): (2, expected), (2, 4): (2, expected)}


def test_adamic_adar_degree_one_neighbor_never_divides_by_zero(spark):
    # node 3 has degree 1 — ln(1) = 0 must never be evaluated; the
    # remaining path 1-2-3 gives (1,3) through the deg-2 hub 2
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    rows = ops.adamic_adar_scores(edges).collect()
    assert [(r["u"], r["v"], r["common_neighbors"]) for r in rows] \
        == [(1, 3, 1)]


def test_adamic_adar_max_degree_drops_hub_wedges(spark):
    # star center 0 with 4 leaves: all C(4,2) leaf pairs score through
    # the hub; max_degree=3 excludes the deg-4 center entirely
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "src int, dst int"
    )
    assert ops.adamic_adar_scores(edges, max_degree=3).count() == 0
    assert ops.adamic_adar_scores(edges, max_degree=4).count() == 6


# ---- market_basket_rules --------------------------------------------------


def test_market_basket_support_confidence_lift(spark):
    li = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 30), (4, 20),
         (4, 20)],  # order 4 repeats item B — distinct() must dedupe
        "l_orderkey int, l_partkey int",
    )
    part = spark.createDataFrame(
        [(10, "A"), (20, "B"), (30, "C")], "p_partkey int, p_brand string"
    )
    rows = ops.market_basket_rules(li, part).collect()
    # baskets: {A,B} {A,B} {A,C} {B}; n=4, A=3, B=3, C=1
    # pair (A,B)=2 survives min_pair_orders; (A,C)=1 filtered
    assert len(rows) == 1
    r = rows[0]
    assert (r["item_a"], r["item_b"], r["pair_orders"]) == ("A", "B", 2)
    assert r["support"] == 0.5
    assert r["confidence"] == round(2 / 3, 6)
    assert r["lift"] == round(2 * 4 / 3 / 3, 6)


# ---- hilbert_code ---------------------------------------------------------


def test_hilbert_matches_reference_walk_and_is_a_bijection(spark):
    # full 8x8 grid: the unrolled expression chain must reproduce the
    # canonical xy2d walk exactly and hit every index once
    def xy2d(bits, x, y):
        n = 1 << bits
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = n - 1 - x, n - 1 - y
                x, y = y, x
            s //= 2
        return d

    import itertools
    cells = [(x, y) for x, y in itertools.product(range(8), repeat=2)]
    df = spark.createDataFrame(cells, "x int, y int")
    got = {(r["x"], r["y"]): r["hilbert"]
           for r in ops.hilbert_code(df, "x", "y", bits=3).collect()}
    assert got == {(x, y): xy2d(3, x, y) for x, y in cells}
    assert sorted(got.values()) == list(range(64))


def test_hilbert_sql_twin_replays_the_walk(spark):
    import duckdb
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders AS SELECT "
        "range AS o_orderkey, range % 13 AS o_custkey, "
        "DATE '1992-01-01' + INTERVAL (range % 29) DAY AS o_orderdate "
        "FROM range(200)"
    )
    sql = ops.hilbert_sql(
        base_cte=("base AS (SELECT o_orderkey, o_custkey, "
                  "CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' "
                  "AS BIGINT) AS dday FROM orders)"),
        keep_cols=["o_orderkey", "o_custkey", "dday"],
        col_a="o_custkey", col_b="dday", bits=12,
    )
    want = {r[0]: r[3] for r in con.sql(sql).fetchall()}
    base = spark.createDataFrame(
        [(i, i % 13, i % 29) for i in range(200)],
        "o_orderkey long, o_custkey long, dday long",
    )
    got = {r["o_orderkey"]: r["hilbert"]
           for r in ops.hilbert_code(base, "o_custkey", "dday",
                                     bits=12).collect()}
    assert got == want


def test_hilbert_rejects_state_column_collisions(spark):
    df = spark.createDataFrame([(1, 2, 3)], "x int, y int, __hx int")
    with pytest.raises(ValueError):
        ops.hilbert_code(df, "x", "y")


# ---- pruning_report -------------------------------------------------------


def _py_xy2d(bits, x, y):
    n = 1 << bits
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_pruning_report_matches_python_zone_map_replay(spark):
    # 16x16 grid with holes; replay files/zone-maps/overlap in Python
    bits, n_files = 4, 16
    pts = [(a, b) for a in range(16) for b in range(16)
           if (a * 7 + b * 3) % 5 != 0]
    probes = [("p_a", 2, 5, 0, 15), ("p_b", 0, 15, 10, 12),
              ("p_box", 4, 9, 4, 9), ("p_miss", 100, 200, 100, 200)]
    df = spark.createDataFrame(pts, "a int, b int")
    got = {(r["ordering"], r["probe"]):
           (r["files_total"], r["files_scanned"], r["rows_scanned"])
           for r in ops.pruning_report(
               df, "a", "b", probes, bits=bits, n_files=n_files
           ).collect()}

    step = 4 ** bits // n_files
    codes = {
        "linear": lambda a, b: b * (1 << bits) + a,
        "zorder": lambda a, b: sum(
            (((a >> i) & 1) << (2 * i)) | (((b >> i) & 1) << (2 * i + 1))
            for i in range(bits)),
        "hilbert": lambda a, b: _py_xy2d(bits, a, b),
    }
    for ordering, fn in codes.items():
        zones = {}
        for a, b in pts:
            f = fn(a, b) // step
            mna, mxa, mnb, mxb, c = zones.get(
                f, (10**9, -1, 10**9, -1, 0))
            zones[f] = (min(mna, a), max(mxa, a),
                        min(mnb, b), max(mxb, b), c + 1)
        for name, al, ah, bl, bh in probes:
            hits = [z for z in zones.values()
                    if z[0] <= ah and z[1] >= al
                    and z[2] <= bh and z[3] >= bl]
            assert got[(ordering, name)] == (
                len(zones), len(hits), sum(z[4] for z in hits))


def test_pruning_report_sql_twin_matches(spark):
    import duckdb
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders AS SELECT range AS o_custkey, "
        "(range * 17) % 300 AS dday FROM range(500)"
    )
    probes = [("q1", 0, 100, 0, 50), ("q2", 200, 400, 100, 299)]
    sql = ops.pruning_report_sql(
        base_cte="base AS (SELECT o_custkey, dday FROM orders)",
        col_a="o_custkey", col_b="dday", probes=probes,
        bits=6, n_files=16, a_div=8, b_div=8,
    )
    want = {(r[0], r[1]): (r[2], r[3], r[4])
            for r in con.sql(sql).fetchall()}
    df = spark.createDataFrame(
        [(i, (i * 17) % 300) for i in range(500)],
        "o_custkey long, dday long")
    got = {(r["ordering"], r["probe"]):
           (r["files_total"], r["files_scanned"], r["rows_scanned"])
           for r in ops.pruning_report(
               df, "o_custkey", "dday", probes,
               bits=6, n_files=16, a_div=8, b_div=8).collect()}
    assert got == want


def test_pruning_report_full_range_probe_scans_everything(spark):
    df = spark.createDataFrame(
        [(i % 50, i % 31) for i in range(300)], "a int, b int")
    rows = ops.pruning_report(
        df, "a", "b", [("all", 0, 10**6, 0, 10**6)],
        bits=5, n_files=8).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["files_scanned"] == r["files_total"]
        assert r["rows_scanned"] == 300


def test_pruning_report_validation(spark):
    df = spark.createDataFrame([(1, 2)], "a int, b int")
    probes = [("p", 0, 1, 0, 1)]
    with pytest.raises(ValueError):
        ops.pruning_report(df, "a", "b", probes, n_files=3)
    with pytest.raises(ValueError):
        ops.pruning_report(df, "a", "b", [])
    with pytest.raises(ValueError):
        ops.pruning_report(df, "a", "b", probes, bits=20)
    with pytest.raises(ValueError):
        ops.pruning_report(df, "a", "b", probes, a_div=0)


# ---- hits_scores ----------------------------------------------------------


def test_hits_matches_python_integer_replay(spark):
    # directed star-plus-chain graph; replay the exact integer
    # max-normalized half-steps in Python
    edges = [(1, 2), (1, 3), (1, 4), (2, 4), (3, 4), (4, 5)]
    S = 10**6
    hub = {n: S for n in range(1, 6)}
    outn = {}
    inn = {}
    for s, d in edges:
        outn.setdefault(s, []).append(d)
        inn.setdefault(d, []).append(s)
    nodes = sorted({x for e in edges for x in e})
    auth = {}
    for _ in range(4):
        sa = {v: sum(hub[u] for u in inn.get(v, [])) for v in nodes}
        ma = max(max(sa.values()), 1)
        auth = {v: sa[v] * S // ma for v in nodes}
        sh = {u: sum(auth[v] for v in outn.get(u, [])) for u in nodes}
        mh = max(max(sh.values()), 1)
        hub = {u: sh[u] * S // mh for u in nodes}
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: (r["authority_scaled"], r["hub_scaled"])
           for r in ops.hits_scores(df, iterations=4).collect()}
    assert got == {n: (auth[n], hub[n]) for n in nodes}
    # node 4 is the sink-authority, node 1 the hub
    assert got[4][0] == S
    assert got[1][1] == S
    assert got[5][1] == 0  # no out-edges -> zero hub


def test_hits_rejects_bad_iterations(spark):
    df = spark.createDataFrame([(1, 2)], "src int, dst int")
    with pytest.raises(ValueError):
        ops.hits_scores(df, iterations=0)


def test_hits_disconnected_components_normalize_globally(spark):
    # two disjoint 2-cycles: symmetric, every node ends at max score
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (10, 11), (11, 10)], "src int, dst int")
    rows = ops.hits_scores(df, iterations=3).collect()
    assert len(rows) == 4
    for r in rows:
        assert r["authority_scaled"] == 10**6
        assert r["hub_scaled"] == 10**6


# ---- prefix_filter_pairs --------------------------------------------------


def _brute_jaccard(docs, t):
    sets = {d: set(x for x in s.split(" ") if x) for d, s in docs}
    out = {}
    ids = sorted(sets)
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1:]:
            c = len(sets[d1] & sets[d2])
            u = len(sets[d1] | sets[d2])
            if u and round(c / u, 4) >= t:
                out[(d1, d2)] = round(c / u, 4)
    return out


def test_prefix_filter_is_exact_vs_brute_force(spark):
    # no false negatives: the prefix filter must reproduce the full
    # all-pairs Jaccard join exactly, including boundary-at-threshold
    docs = [
        (1, "a b c d"), (2, "a b c e"), (3, "x y z w"),
        (4, "x y z w v u"), (5, "a b"), (6, "b a"),
        (7, "q r s t u v w x"), (8, "unique tokens only here"),
        (9, "a b c d e f g h"), (10, "c d e f"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {(r["d1"], r["d2"]): r["jaccard"]
           for r in ops.prefix_filter_pairs(df, threshold=0.5).collect()}
    assert got == _brute_jaccard(docs, 0.5)


def test_prefix_filter_prunes_stop_token_pairs(spark):
    # every doc shares the stop token; only the near-identical pair
    # survives, and the prefix index never keys on 'the' for docs
    # whose rare tokens fill the prefix
    docs = [(i, f"the w{i} v{i} u{i}") for i in range(20)]
    docs.append((100, "the w1 v1 u1 extra"))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {(r["d1"], r["d2"]): r["jaccard"]
           for r in ops.prefix_filter_pairs(df, threshold=0.6).collect()}
    assert got == _brute_jaccard(docs, 0.6)
    assert (1, 100) in got


def test_prefix_filter_fails_on_a_duplicate_group_above_the_cap(
        spark, monkeypatch):
    from concept_multi_db_query_engine_spark.operators import dedup

    docs = [(1, "a b"), (2, "b a"), (3, "a b a"), (4, "a c")]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    monkeypatch.setattr(dedup, "MAX_DUPLICATE_GROUP", 3)
    got = {(r["d1"], r["d2"]): r["jaccard"]
           for r in ops.prefix_filter_pairs(df, threshold=0.3).collect()}
    assert got == _brute_jaccard(docs, 0.3)
    monkeypatch.setattr(dedup, "MAX_DUPLICATE_GROUP", 2)
    with pytest.raises(Exception, match="more than 2 documents share"):
        ops.prefix_filter_pairs(df, threshold=0.3).collect()


def test_prefix_filter_threshold_validation(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id int, text string")
    with pytest.raises(ValueError):
        ops.prefix_filter_pairs(df, threshold=0.0)
    with pytest.raises(ValueError):
        ops.prefix_filter_pairs(df, threshold=1.5)


# ---- skyline_2d -----------------------------------------------------------


def _brute_skyline(pts):
    out = []
    for i, (pid, a, b) in enumerate(pts):
        dominated = any(
            ya >= a and yb >= b and (ya > a or yb > b)
            for j, (_, ya, yb) in enumerate(pts) if j != i)
        if not dominated:
            out.append((pid, a, b))
    return sorted(out)


def test_skyline_matches_brute_force_dominance(spark):
    # staircase + interior + duplicate frontier vectors + cross-bucket
    pts = [(1, 10, 100), (2, 20, 90), (3, 30, 80), (4, 5, 5),
           (5, 20, 90), (6, 25, 85), (7, 30, 80), (8, 29, 81),
           (9, 15, 95), (10, 1, 101), (11, 2, 50), (12, 40, 1)]
    df = spark.createDataFrame(pts, "id int, a int, b int")
    # bucket_width=4 forces many cross-bucket dominance decisions
    got = sorted(
        (r["id"], r["a"], r["b"])
        for r in ops.skyline_2d(df, "a", "b", "id",
                                bucket_width=4).collect())
    assert got == _brute_skyline(pts)
    # both copies of the duplicated frontier vector survive
    ids = {g[0] for g in got}
    assert {2, 5} <= ids and {3, 7} <= ids


def test_skyline_randomized_vs_brute_force(spark):
    # deterministic LCG fixture, several bucket widths
    x = 1234567
    pts = []
    for i in range(200):
        x = (x * 1103515245 + 12345) % (2**31)
        a = x % 500
        x = (x * 1103515245 + 12345) % (2**31)
        pts.append((i, a, x % 500))
    df = spark.createDataFrame(pts, "id int, a int, b int")
    want = _brute_skyline(pts)
    for w in (1, 7, 64, 100000):
        got = sorted(
            (r["id"], r["a"], r["b"])
            for r in ops.skyline_2d(df, "a", "b", "id",
                                    bucket_width=w).collect())
        assert got == want, f"bucket_width={w}"


def test_skyline_validation_and_single_point(spark):
    df = spark.createDataFrame([(1, 3, 4)], "id int, a int, b int")
    with pytest.raises(ValueError):
        ops.skyline_2d(df, "a", "b", "id", bucket_width=0)
    rows = ops.skyline_2d(df, "a", "b", "id").collect()
    assert [(r["id"], r["a"], r["b"]) for r in rows] == [(1, 3, 4)]


# ---- pmi_collocations -----------------------------------------------------


def test_pmi_matches_python_replay(spark):
    import math
    docs = [
        (1, "los angeles is big. the cat and the dog and the bird."),
        (2, "los angeles has the beach and the sun and the fog."),
        (3, "the cat saw los angeles from the hill and the valley."),
        (4, "angeles los is reversed but los angeles is the phrase."),
        (5, "the the the los angeles the the"),
    ]
    import re
    uni, big = {}, {}
    for _, t in docs:
        ws = [w for w in re.split("[^a-z]+", t.lower()) if w]
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for x, y in zip(ws, ws[1:]):
            p = f"{x} {y}"
            big[p] = big.get(p, 0) + 1
    N = sum(uni.values())
    M = sum(big.values())
    want = []
    for p, c in big.items():
        if c < 3:
            continue
        w1, w2 = p.split(" ")
        r = (float(c) * float(N) * float(N)) / (
            float(M) * float(uni[w1]) * float(uni[w2]))
        v = math.log(r) * 1000000.0
        micro = math.floor(abs(v) + 0.5) * (1 if v >= 0 else -1)
        want.append((p, c, micro, micro / 1e6))
    want.sort(key=lambda x: (-x[2], x[0]))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = [(r["bigram"], r["pair_count"], r["pmi_micro"], r["pmi"])
           for r in ops.pmi_collocations(df, k=10, min_count=3).collect()]
    assert got == want[:10]
    # 'los angeles' must outrank the stop-word pairs
    assert got[0][0] == "los angeles"
    assert got[0][2] > 0


def test_pmi_empty_and_short_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "word"), (3, "???")], "doc_id int, text string")
    assert ops.pmi_collocations(df, k=5, min_count=1).collect() == []
    with pytest.raises(ValueError):
        ops.pmi_collocations(df, k=0)


# ---- benford_report --------------------------------------------------------


def test_benford_matches_python_replay(spark):
    import math
    vals = [1.23, 12.30, 19.99, 2.50, 29.0, 311.11, 0.04, 950.0,
            1234.56, 18.0, 0.0, -5.0, None, 777.77]
    ints = [int(math.floor(abs(v * 100.0) + 0.5)) * (1 if v >= 0 else -1)
            for v in vals if v is not None]
    digits = [int(str(x)[0]) for x in ints if x > 0]
    n = len(digits)
    obs = {d: digits.count(d) for d in range(1, 10)}

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    exp_micro = {d: micro(math.log(1.0 + 1.0 / d) / math.log(10.0) * 1e6)
                 for d in range(1, 10)}
    chi2_micro = sum(
        micro((obs[d] - n * (exp_micro[d] / 1e6)) ** 2
              / (n * (exp_micro[d] / 1e6)) * 1e6)
        for d in range(1, 10))
    df = spark.createDataFrame([(v,) for v in vals], "amount double")
    rows = ops.benford_report(df, "amount").collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert [r["n_obs"] for r in rows] == [obs[d] for d in range(1, 10)]
    assert all(r["chi2_micro"] == chi2_micro for r in rows)
    assert rows[0]["exp_share"] == exp_micro[1] / 1e6


def test_benford_empty_and_validation(spark):
    df = spark.createDataFrame([(-1.0,), (0.0,)], "amount double")
    rows = ops.benford_report(df, "amount").collect()
    # spine keeps all 9 digits; zero-count rows report null shares/terms
    assert len(rows) == 9
    assert all(r["n_obs"] == 0 for r in rows)
    assert all(r["obs_share"] is None for r in rows)
    with pytest.raises(ValueError):
        ops.benford_report(df, "amount", int_scale=0)


# ---- woe_iv_report ---------------------------------------------------------


def test_woe_iv_matches_python_replay(spark):
    import math
    rows = [("a", 1), ("a", 1), ("a", 0), ("b", 0), ("b", 0),
            ("b", 1), ("c", 1), ("c", 1), ("c", 1), ("a", 0)]
    df = spark.createDataFrame(rows, "grp string, y int")
    got = ops.woe_iv_report(df, ["grp"], "y", names=["grp"]).collect()

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    tp = sum(y for _, y in rows)
    tn = len(rows) - tp
    per = {}
    for b in "abc":
        np_ = sum(1 for g, y in rows if g == b and y == 1)
        nn = sum(1 for g, y in rows if g == b and y == 0)
        wm = micro(math.log(((np_ + 0.5) * tn) / ((nn + 0.5) * tp)) * 1e6)
        term = micro(((np_ + 0.5) / tp - (nn + 0.5) / tn) * (wm / 1e6) * 1e6)
        per[b] = (np_, nn, wm, term)
    iv_micro = sum(t for *_, t in per.values())
    assert [(r["bucket"], r["n_pos"], r["n_neg"], r["woe_micro"],
             r["iv_micro"]) for r in got] == [
        (b, *per[b][:3], iv_micro) for b in "abc"]
    # all-positive bucket has positive WOE, all-negative negative
    woe = {r["bucket"]: r["woe"] for r in got}
    assert woe["c"] > 0 > woe["b"]


def test_woe_iv_degenerate_single_class(spark):
    # no negatives at all -> WOE/IV undefined (NULL), counts still exact
    df = spark.createDataFrame([("a", 1), ("b", 1)], "grp string, y int")
    got = ops.woe_iv_report(df, ["grp"], "y").collect()
    assert all(r["woe_micro"] is None and r["iv_micro"] is None
               for r in got)
    assert sum(r["n_pos"] for r in got) == 2
    with pytest.raises(ValueError):
        ops.woe_iv_report(df, [], "y")


# ---- cohens_kappa ----------------------------------------------------------


def test_kappa_matches_python_replay(spark):
    import math
    pairs = [("x", "x"), ("x", "x"), ("x", "y"), ("y", "y"),
             ("y", "x"), ("y", "y"), ("x", "x"), ("z", "z"),
             ("z", "x"), (None, "x"), ("x", None)]
    df = spark.createDataFrame(pairs, "a string, b string")
    r = ops.cohens_kappa(df, "a", "b").collect()[0]
    valid = [(a, b) for a, b in pairs if a is not None and b is not None]
    n = len(valid)
    agree = sum(1 for a, b in valid if a == b)
    cats = {c for p in valid for c in p}
    pe_num = sum(
        sum(1 for a, _ in valid if a == c) *
        sum(1 for _, b in valid if b == c) for c in cats)
    po, pe = agree / n, pe_num / (n * n)

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    assert (r["n"], r["n_agree"]) == (n, agree)
    assert r["po_micro"] == micro(po * 1e6)
    assert r["pe_micro"] == micro(pe * 1e6)
    assert r["kappa_micro"] == micro((po - pe) / (1 - pe) * 1e6)
    assert r["kappa"] == r["kappa_micro"] / 1e6


def test_kappa_degenerate(spark):
    # single shared category: pe = 1 -> kappa undefined (NULL)
    df = spark.createDataFrame([("x", "x")] * 4, "a string, b string")
    r = ops.cohens_kappa(df, "a", "b").collect()[0]
    assert r["po_micro"] == 1000000 and r["pe_micro"] == 1000000
    assert r["kappa_micro"] is None and r["kappa"] is None
    # empty input: one row, n = 0, everything NULL
    r = ops.cohens_kappa(df.where("a = 'zz'"), "a", "b").collect()[0]
    assert r["n"] == 0 and r["kappa"] is None


# ---- ranking_rbo -----------------------------------------------------------


def test_rbo_weights_exact_integers():
    ws = ops.rbo_weights(10)

    for m in range(1, 11):
        # integer half-away rounding per term, replayed exactly
        want = sum((2 * 9 ** (d - 1) * 10**9 + 10 ** (d - 1) * d)
                   // (2 * 10 ** (d - 1) * d) for d in range(m, 11))
        assert ws[m - 1] == want
    assert ws == sorted(ws, reverse=True)
    with pytest.raises(ValueError):
        ops.rbo_weights(0)
    with pytest.raises(ValueError):
        ops.rbo_weights(5, p_num=10, p_den=10)


def test_rbo_identical_disjoint_and_partial(spark):
    rows_a = [(1, i, r) for r, i in enumerate([10, 11, 12], 1)]
    a = spark.createDataFrame(rows_a, "query_id long, vec_id long, rank int")
    # identical lists -> rbo = (1-p) * sum p^(d-1) (prefix fully shared)
    got = ops.ranking_rbo(a, a, k=3).collect()[0]
    ws = ops.rbo_weights(3)
    assert got["n_common"] == 3 and got["rbo_nano"] == sum(ws)
    assert abs(got["rbo"] - sum(ws) / 1e9 * 0.1) < 1e-12
    # disjoint lists -> rbo = 0, query still reported
    b = spark.createDataFrame([(1, i, r) for r, i in enumerate([7, 8, 9], 1)],
                              "query_id long, vec_id long, rank int")
    got = ops.ranking_rbo(a, b, k=3).collect()[0]
    assert (got["n_common"], got["rbo_nano"], got["rbo"]) == (0, 0, 0.0)
    # one shared item at rank 1 vs rank 3 -> weight at depth max(1,3)=3
    c = spark.createDataFrame([(1, 99, 1), (1, 98, 2), (1, 10, 3)],
                              "query_id long, vec_id long, rank int")
    got = ops.ranking_rbo(a, c, k=3).collect()[0]
    assert got["n_common"] == 1 and got["rbo_nano"] == ws[2]


# ---- label_silhouette ------------------------------------------------------


def test_silhouette_matches_python_replay(spark):
    import math
    pts = [
        (0, [0.0, 0.1], 0), (1, [0.2, 0.0], 0), (2, [0.1, 0.1], 0),
        (3, [5.0, 5.1], 1), (4, [5.2, 4.9], 1),
        (5, [0.0, 9.9], 2), (6, [0.2, 10.1], 2),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in pts],
        "vec_id long, embedding array<float>, label int")
    got = ops.label_silhouette(df).collect()

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    # replay: quantize coords like the operator (through float32 first)
    import numpy as np
    q = {i: [micro(float(np.float32(x)) * 1e6) for x in v]
         for i, v, _ in pts}
    labels = sorted({l for *_, l in pts})
    cents = {}
    for l in labels:
        mem = [q[i] for i, _, ll in pts if ll == l]
        cents[l] = [sum(c[j] for c in mem) / len(mem) / 1e6
                    for j in range(2)]
    per = {l: [] for l in labels}
    for i, _, l in pts:
        v = [x / 1e6 for x in q[i]]
        def d(c):
            return math.sqrt(sum((x - y) * (x - y)
                                 for x, y in zip(v, c)) + 0.0)
        a = d(cents[l])
        b = min(d(cents[o]) for o in labels if o != l)
        per[l].append(micro((b - a) / max(a, b) * 1e6))
    for r in got:
        want = per[r["label"]]
        assert r["n_points"] == r["n_scored"] == len(want)
        assert r["mean_sil_micro"] == micro(sum(want) / len(want))
    # well-separated clusters score high
    assert all(r["mean_sil"] > 0.8 for r in got)


def test_silhouette_single_label_degenerate(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 1.0], 7), (1, [1.0, 0.0], 7)],
        "vec_id long, embedding array<float>, label int")
    r = ops.label_silhouette(df).collect()
    # no other centroid exists: b is NULL, nothing scored
    assert len(r) == 1 and r[0]["n_points"] == 2
    assert r[0]["n_scored"] == 0 and r[0]["mean_sil"] is None


# ---- gains_table -----------------------------------------------------------


def test_gains_matches_python_replay(spark):
    import math
    # score correlates with label: high score -> mostly positive
    rows = [(i, float(100 - i), 1 if i < 12 or i % 7 == 0 else 0)
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, score double, y int")
    got = ops.gains_table(df, "score", "y", "id", n_buckets=4).collect()

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    ranked = sorted(rows, key=lambda r: (-micro(r[1] * 1e6), r[0]))
    n, k = len(ranked), 4
    q, r = divmod(n, k)
    sizes = [q + 1 if b < r else q for b in range(k)]
    pt = sum(y for *_, y in rows)
    start, cum = 0, 0
    for b, r_ in enumerate(got, 1):
        chunk = ranked[start:start + sizes[b - 1]]
        start += sizes[b - 1]
        npos = sum(y for *_, y in chunk)
        cum += npos
        assert (r_["bucket"], r_["n"], r_["n_pos"]) == (
            b, len(chunk), npos)
        assert r_["lift_micro"] == micro(
            (npos / len(chunk)) / (pt / n) * 1e6)
        assert r_["cum_capture_micro"] == micro(cum / pt * 1e6)
    # monotone capture reaching 1.0 in the last bucket
    assert got[-1]["cum_capture"] == 1.0
    assert got[0]["lift"] > 1.0


def test_gains_validation(spark):
    df = spark.createDataFrame([(1, 1.0, 1)], "id long, score double, y int")
    with pytest.raises(ValueError):
        ops.gains_table(df, "score", "y", "id", n_buckets=1)


# ---- vocab_coverage --------------------------------------------------------


def test_vocab_coverage_matches_python_replay(spark):
    docs = [(1, "a a a b b c"), (2, "a b d"), (3, "e"), (4, "")]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = ops.vocab_coverage(df, ks=[1, 2, 10]).collect()
    import re
    from collections import Counter
    c = Counter(w for _, t in docs
                for w in re.split("[^a-z]+", t.lower()) if w)
    ranked = sorted(c.items(), key=lambda x: (-x[1], x[0]))
    total = sum(c.values())
    for r in got:
        covered = sum(n for _, n in ranked[:r["k"]])
        assert (r["vocab_size"], r["total_tokens"],
                r["covered_tokens"]) == (len(ranked), total, covered)
        assert r["coverage"] == round(covered / total, 6)
    assert [r["k"] for r in got] == [1, 2, 10]
    assert got[-1]["coverage"] == 1.0
    with pytest.raises(ValueError):
        ops.vocab_coverage(df, ks=[0])


# ---- neyman_allocation -----------------------------------------------------


def test_neyman_matches_python_replay(spark):
    import math
    rows = ([("a", float(v)) for v in (10, 12, 11, 9, 13, 10)]      # tight
            + [("b", float(v)) for v in (5, 95, 40, 60, 10, 90)]    # wide
            + [("c", 42.0)])                                        # n=1
    df = spark.createDataFrame(rows, "s string, v double")
    got = ops.neyman_allocation(df, "s", "v", total_n=10).collect()

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    stats = {}
    for st in "abc":
        vs = [v for s, v in rows if s == st]
        n = len(vs)
        sdev = (math.sqrt(sum(x * x for x in vs)
                          - sum(vs) ** 2 / n) / math.sqrt(n - 1)
                if n > 1 else None)
        w = micro(n * sdev) if sdev is not None else 0
        stats[st] = (n, w)
    W = sum(w for _, w in stats.values())
    floors = {st: 10 * w // W for st, (_, w) in stats.items()}
    rems = {st: 10 * w - floors[st] * W for st, (_, w) in stats.items()}
    left = 10 - sum(floors.values())
    order = sorted(stats, key=lambda st: (-rems[st], st))
    alloc = {st: floors[st] + (1 if order.index(st) < left else 0)
             for st in stats}
    assert {r["stratum"]: (r["n_rows"], r["weight_int"], r["alloc"])
            for r in got} == {
        st: (stats[st][0], stats[st][1], alloc[st]) for st in stats}
    assert sum(r["alloc"] for r in got) == 10
    # wide stratum dominates the budget; singleton gets nothing
    by = {r["stratum"]: r["alloc"] for r in got}
    assert by["b"] > by["a"] and by["c"] == 0


def test_neyman_degenerate(spark):
    # every stratum a singleton: all weights 0 -> all allocations 0
    df = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0)], "s string, v double")
    got = ops.neyman_allocation(df, "s", "v", total_n=5).collect()
    assert all(r["alloc"] == 0 and r["sd"] is None for r in got)
    with pytest.raises(ValueError):
        ops.neyman_allocation(df, "s", "v", total_n=0)


# ---- shrunk_rates_report ---------------------------------------------------


def test_shrunk_rates_matches_python_replay(spark):
    import math
    # tiny perfect group vs large good group: raw ranking is wrong,
    # bayes ranking fixes it
    rows = ([("tiny", 1)] * 2
            + [("big", 1)] * 90 + [("big", 0)] * 10
            + [("mid", 1)] * 5 + [("mid", 0)] * 15)
    df = spark.createDataFrame(rows, "g string, y int")
    got = {r["group"]: r for r in
           ops.shrunk_rates_report(df, "g", "y", pseudo_n=20).collect()}

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    nt = len(rows)
    kt = sum(y for _, y in rows)
    for grp in ("tiny", "big", "mid"):
        n = sum(1 for g, _ in rows if g == grp)
        k = sum(y for g, y in rows if g == grp)
        r = got[grp]
        assert (r["n"], r["k"]) == (n, k)
        assert r["rate_micro"] == micro(k / n * 1e6)
        assert r["bayes_micro"] == micro(
            (k + 20.0 * (kt / nt)) / (n + 20.0) * 1e6)
    # raw leaderboard puts the 2-row perfect group first; bayes demotes it
    assert got["tiny"]["rank_raw"] == 1
    assert got["big"]["rank_bayes"] == 1
    assert got["tiny"]["rank_bayes"] > got["big"]["rank_bayes"]
    with pytest.raises(ValueError):
        ops.shrunk_rates_report(df, "g", "y", pseudo_n=0)


# ---- scd2_history ----------------------------------------------------------


def test_scd2_intervals_chain_and_point_in_time(spark):
    import datetime as dt
    t = lambda s: dt.datetime(2024, 1, s)
    rows = [
        (1, 10, t(1), "a", 1.0), (2, 10, t(5), "b", 2.0),
        (3, 10, t(3), "c", 3.0),                       # out of order
        (4, 20, t(2), "x", 9.0),
        (5, 30, t(4), "y", 7.0), (6, 30, t(4), "z", 8.0),  # ts tie
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double")
    got = ops.scd2_history(df, ["user_id"], "ts", "event_id",
                           ["event_type", "value"]).collect()
    by_user = {}
    for r in got:
        by_user.setdefault(r["user_id"], []).append(r)
    for u in by_user:
        h = sorted(by_user[u], key=lambda r: r["version"])
        # intervals chain: each valid_to equals the next valid_from
        for a, b in zip(h, h[1:]):
            assert a["valid_to"] == b["valid_from"]
        assert h[-1]["valid_to"] is None and h[-1]["is_current"]
        assert [r["version"] for r in h] == list(range(1, len(h) + 1))
    # user 10 history ordered by ts despite input order: a -> c -> b
    assert [r["event_type"] for r in sorted(
        by_user[10], key=lambda r: r["version"])] == ["a", "c", "b"]
    # ts tie broken by event_id: y (5) before z (6)
    assert [r["event_type"] for r in sorted(
        by_user[30], key=lambda r: r["version"])] == ["y", "z"]
    # point-in-time lookup at Jan 4: user 10 shows 'c'
    at = [r for r in by_user[10]
          if r["valid_from"] <= t(4)
          and (r["valid_to"] is None or t(4) < r["valid_to"])]
    assert len(at) == 1 and at[0]["event_type"] == "c"
    with pytest.raises(ValueError):
        ops.scd2_history(df, [], "ts", "event_id", ["value"])


# ---- quantile_normalize ----------------------------------------------------


def test_quantile_normalize_equalizes_groups(spark):
    # group "hot" runs 10x higher than "cold"; after normalization the
    # two distributions coincide on the shared global grid
    rows = ([(i, "cold", float(i)) for i in range(1, 21)]
            + [(100 + i, "hot", float(10 * i)) for i in range(1, 21)])
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got = ops.quantile_normalize(df, "g", "v", "id", n_grid=11).collect()
    by = {}
    for r in got:
        by.setdefault(r["group"], []).append(r["qnorm"])
    # same group size -> same percent ranks -> identical normalized sets
    assert sorted(by["cold"]) == sorted(by["hot"])
    # normalized values live inside the global value range
    lo = min(v for *_, v in rows)
    hi = max(v for *_, v in rows)
    assert all(lo <= q <= hi for q in by["cold"])


def test_quantile_normalize_replay_and_edges(spark):
    import math
    rows = [(1, "a", 5.0), (2, "a", 1.0), (3, "a", 3.0), (4, "b", 42.0)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got = {r["id"]: r for r in
           ops.quantile_normalize(df, "g", "v", "id", n_grid=5).collect()}
    vals = sorted(v for *_, v in rows)
    G = 5

    def q_cont(p):
        pos = p * (len(vals) - 1)
        i = int(math.floor(pos))
        return vals[i] + (vals[min(i + 1, len(vals) - 1)] - vals[i]) \
            * (pos - i)

    grid = [q_cont(j / (G - 1)) for j in range(G)]

    def norm(p):
        pos = p * (G - 1)
        k = int(math.floor(pos))
        return round(grid[k] + (grid[min(k + 1, G - 1)] - grid[k])
                     * (pos - k), 6)

    # group a: ranks of 1.0,3.0,5.0 -> p = 0, .5, 1
    assert got[2]["qnorm"] == norm(0.0)
    assert got[3]["qnorm"] == norm(0.5)
    assert got[1]["qnorm"] == norm(1.0)
    # singleton group pins p = 0.5
    assert got[4]["qnorm"] == norm(0.5)
    with pytest.raises(ValueError):
        ops.quantile_normalize(df, "g", "v", "id", n_grid=1)


# ---- randomized properties for the late-wave operators ---------------------


def _lcg(seed):
    x = seed
    while True:
        x = (x * 1103515245 + 12345) % (2**31)
        yield x


def test_property_neyman_sums_and_gains_monotone(spark):
    g = _lcg(20240815)
    rows = [(i, "s%d" % (next(g) % 7), float(next(g) % 10000) / 10.0)
            for i in range(400)]
    df = spark.createDataFrame(rows, "id long, s string, v double")
    for total in (7, 100, 999):
        al = ops.neyman_allocation(df, "s", "v", total_n=total).collect()
        assert sum(r["alloc"] for r in al) == total
        assert all(r["alloc"] >= 0 for r in al)
    labeled = df.withColumn("y", (F.col("id") % 3 == 0).cast("int"))
    gt = ops.gains_table(labeled, "v", "y", "id", n_buckets=7).collect()
    caps = [r["cum_capture"] for r in gt]
    assert caps == sorted(caps) and caps[-1] == 1.0
    assert sum(r["n_pos"] for r in gt) == sum(
        1 for i, *_ in rows if i % 3 == 0)


def test_property_qnorm_monotone_within_group(spark):
    g = _lcg(77)
    rows = [(i, "g%d" % (next(g) % 4), float(next(g) % 100000) / 7.0)
            for i in range(300)]
    df = spark.createDataFrame(rows, "id long, s string, v double")
    got = ops.quantile_normalize(df, "s", "v", "id", n_grid=13).collect()
    by = {}
    for r in got:
        by.setdefault(r["group"], []).append((r["value"], r["id"],
                                              r["qnorm"]))
    glob = sorted(v for _, _, v in rows)
    for grp, vals in by.items():
        vals.sort()
        qs = [q for *_, q in vals]
        assert qs == sorted(qs), grp          # rank-monotone
        # round(. , 6) may overshoot the exact extremes by < 1e-6
        assert all(glob[0] - 1e-6 <= q <= glob[-1] + 1e-6 for q in qs)


def test_property_rbo_bounds_and_self_identity(spark):
    g = _lcg(4242)
    ws = ops.rbo_weights(8)
    for trial in range(3):
        ids_a = []
        seen = set()
        while len(ids_a) < 8:
            c = next(g) % 40
            if c not in seen:
                seen.add(c)
                ids_a.append(c)
        a = spark.createDataFrame(
            [(1, i, r) for r, i in enumerate(ids_a, 1)],
            "query_id long, vec_id long, rank int")
        self_r = ops.ranking_rbo(a, a, k=8).collect()[0]
        assert self_r["rbo_nano"] == sum(ws)
        # shuffled copy never beats identity
        ids_b = list(reversed(ids_a))
        b = spark.createDataFrame(
            [(1, i, r) for r, i in enumerate(ids_b, 1)],
            "query_id long, vec_id long, rank int")
        rev = ops.ranking_rbo(a, b, k=8).collect()[0]
        assert 0 <= rev["rbo_nano"] <= sum(ws)


# ---- cross_correlation -----------------------------------------------------


def test_ccf_detects_known_lag(spark):
    # b is a exactly shifted by +3 steps (a leads b by 3): the CCF must
    # peak with r == 1.0 at lag = +3
    vals = [5.0, 9.0, 2.0, 7.0, 4.0, 8.0, 1.0, 6.0, 3.0, 10.0,
            5.5, 8.5, 2.5, 7.5]
    a = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "idx long, value double")
    b = spark.createDataFrame(
        [(i + 3, v) for i, v in enumerate(vals)], "idx long, value double")
    got = {r["lag"]: r for r in
           ops.cross_correlation(a, b, max_lag=4).collect()}
    assert sorted(got) == list(range(-4, 5))
    assert got[3]["r"] == 1.0
    assert got[3]["n"] == len(vals) - 0  # full overlap at the true lag
    assert all(got[l]["r"] is None or got[l]["r"] < 1.0
               for l in got if l != 3)


def test_ccf_python_replay_and_edges(spark):
    import math
    xs = [(0, 1.0), (1, 4.0), (2, 2.0), (3, 8.0), (4, 5.0)]
    ys = [(0, 2.0), (1, 3.0), (2, 7.0), (3, 1.0), (4, 6.0)]
    a = spark.createDataFrame(xs, "idx long, value double")
    b = spark.createDataFrame(ys, "idx long, value double")
    got = {r["lag"]: r for r in
           ops.cross_correlation(a, b, max_lag=2).collect()}
    for lag in range(-2, 3):
        pairs = [(x, dict(ys).get(i + lag))
                 for i, x in xs if dict(ys).get(i + lag) is not None]
        n = len(pairs)
        if n < 2:
            assert got[lag]["r"] is None
            continue
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        want = round((n * sxy - sx * sy) / den, 6)
        assert got[lag]["n"] == n and got[lag]["r"] == want
    with pytest.raises(ValueError):
        ops.cross_correlation(a, b, max_lag=0)


# ---- expectations_report ---------------------------------------------------


def test_expectations_counts_each_kind(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "O", 100), (2, -5.0, "O", 100), (3, 7.0, "X", None),
         (2, 3.0, "F", 999)],  # duplicate key 2; 999 not in ref
        "k long, amt double, st string, fk int")
    ref = spark.createDataFrame([(100,), (200,)], "rk int")
    got = {r["check"]: r for r in ops.expectations_report(
        df,
        row_checks={"amt_pos": "amt > 0",
                    "st_known": "st IN ('O', 'F')"},
        unique_keys={"k_unique": ["k"]},
        fks={"fk_ref": (["fk"], ref, ["rk"])},
    ).collect()}
    assert (got["amt_pos"]["n_violations"], got["amt_pos"]["passed"]) \
        == (1, False)
    assert got["st_known"]["n_violations"] == 1
    assert got["k_unique"]["n_violations"] == 1      # one row to drop
    # NULL fk rows are excluded; 999 is the single orphan
    assert (got["fk_ref"]["n_rows"], got["fk_ref"]["n_violations"]) \
        == (3, 1)
    assert all(r["kind"] in ("row", "unique", "fk") for r in got.values())


def test_expectations_null_is_violation_and_validation(spark):
    df = spark.createDataFrame([(None,), (1.0,)], "amt double")
    got = ops.expectations_report(
        df, row_checks={"amt_pos": "amt > 0"}).collect()[0]
    # NULL predicate result counts as a violation, not a pass
    assert got["n_violations"] == 1 and not got["passed"]
    with pytest.raises(ValueError):
        ops.expectations_report(df, row_checks={})


# ---- lexical_diversity -----------------------------------------------------


def test_lexical_diversity_replay(spark):
    docs = [(1, "s1", "a b b c c c"), (2, "s1", "a d"),
            (3, "s2", "x x x x"), (4, "s2", None), (5, None, "y")]
    df = spark.createDataFrame(docs, "doc_id int, source string, text string")
    got = {r["group"]: r for r in ops.lexical_diversity(df).collect()}
    # s1: tokens a,b,b,c,c,c,a,d -> counts a2 b2 c3 d1
    s1 = got["s1"]
    assert (s1["n_tokens"], s1["n_types"], s1["hapax_types"]) == (8, 4, 1)
    assert s1["ttr"] == round(4 / 8, 6)
    assert s1["hapax_share"] == round(1 / 4, 6)
    # s2: only doc 3 counts (doc 4 has NULL text) -> x4
    s2 = got["s2"]
    assert (s2["n_tokens"], s2["n_types"], s2["hapax_types"]) == (4, 1, 0)
    assert s2["hapax_share"] == 0.0
    # NULL source rows are excluded entirely
    assert set(got) == {"s1", "s2"}


# ---- term_burstiness -------------------------------------------------------


def test_burstiness_separates_clumped_from_spread(spark):
    import math
    # "spam" appears 12x inside 2 docs (bursty); "the" once in each of
    # 12 docs (Poisson-like glue); fillers stay under min_cf
    docs = ([(1, "spam " * 6), (2, "spam " * 6)]
            + [(10 + i, "the q%s w%s" % (chr(97 + i), chr(97 + i)))
               for i in range(12)])
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r["term"]: r for r in
           ops.term_burstiness(df, k=10, min_cf=10).collect()}
    assert set(got) == {"spam", "the"}  # min_cf prunes the fillers
    s, t = got["spam"], got["the"]
    assert (s["cf"], s["df"]) == (12, 2)
    assert (t["cf"], t["df"]) == (12, 12)
    assert s["burst"] == 6.0 and t["burst"] == 1.0

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    n = len(docs)
    exp_df = micro(n * (1.0 - math.exp(0.0 - 12 / n)) * 1e6)
    assert s["exp_df_micro"] == exp_df
    # clumped term: observed df far below the Poisson prediction
    assert s["clump"] < 0.5 < t["clump"]
    with pytest.raises(ValueError):
        ops.term_burstiness(df, k=0)


# ---- l_diversity_report ----------------------------------------------------


def test_l_diversity_flags_homogeneous_classes(spark):
    rows = [
        ("us", "auto", "low"), ("us", "auto", "low"),   # k=2 but 1 value
        ("us", "bike", "low"), ("us", "bike", "mid"),
        ("us", "bike", "high"),                          # 3 values: safe
        ("de", "auto", "low"), ("de", "auto", "mid"),    # 2 values < l
    ]
    df = spark.createDataFrame(rows, "nat string, seg string, sens string")
    got = {(r["nat"], r["seg"]): r for r in
           ops.l_diversity_report(df, ["nat", "seg"], "sens", l=3)
           .collect()}
    assert got[("us", "auto")]["at_risk"]
    assert got[("us", "auto")]["n_sensitive"] == 1
    assert not got[("us", "bike")]["at_risk"]
    assert got[("de", "auto")]["at_risk"]
    # k-anonymity alone would pass ("us","auto") at k=2: the upgrade
    assert got[("us", "auto")]["class_size"] == 2
    with pytest.raises(ValueError):
        ops.l_diversity_report(df, ["nat"], "sens", l=1)


# ---- concurrency_profile ---------------------------------------------------


def test_concurrency_sweep_and_midnight_carry(spark):
    import datetime as dt
    t = lambda d, h: dt.datetime(2024, 3, d, h)
    iv = [
        (t(1, 9), t(1, 11)),   # day1: a
        (t(1, 10), t(1, 12)),  # overlaps a -> peak 2
        (t(1, 12), t(1, 13)),  # touches end of b: NOT concurrent
        (t(1, 23), t(2, 5)),   # crosses midnight -> day2 opens at 1
        (t(2, 1), t(2, 2)),    # day2: with carry -> peak 2
    ]
    df = spark.createDataFrame(iv, "session_start timestamp, "
                                   "session_end timestamp")
    got = {str(r["day"]): r for r in
           ops.concurrency_profile(df).collect()}
    d1, d2 = got["2024-03-01"], got["2024-03-02"]
    assert (d1["n_starts"], d1["peak_concurrency"]) == (4, 2)
    assert (d2["n_starts"], d2["peak_concurrency"]) == (1, 2)


def test_concurrency_day_with_only_ends(spark):
    import datetime as dt
    iv = [(dt.datetime(2024, 3, 1, 9), dt.datetime(2024, 3, 3, 9))]
    df = spark.createDataFrame(iv, "session_start timestamp, "
                                   "session_end timestamp")
    got = {str(r["day"]): r for r in
           ops.concurrency_profile(df).collect()}
    # day 3 has only the -1 boundary; opening balance keeps the peak 1
    assert got["2024-03-03"]["peak_concurrency"] == 1
    assert got["2024-03-03"]["n_starts"] == 0
    # day 2 has no boundaries at all and is absent (documented: days
    # with zero boundary events don't report)
    assert "2024-03-02" not in got


# ---- target_encode_loo -----------------------------------------------------


def test_target_encode_loo_replay_and_no_self_leak(spark):
    import math
    rows = [(1, "a", 1), (2, "a", 1), (3, "a", 0),
            (4, "b", 0), (5, "b", 1), (6, "c", 1)]
    df = spark.createDataFrame(rows, "id long, cat string, y int")
    got = {r["id"]: r for r in
           ops.target_encode_loo(df, "cat", "y", "id",
                                 smoothing=4).collect()}

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    nt = len(rows)
    kt = sum(y for *_, y in rows)
    for i, c, y in rows:
        n = sum(1 for _, cc, _ in rows if cc == c)
        k = sum(yy for _, cc, yy in rows if cc == c)
        want = micro((k - y + 4.0 * (kt / nt)) / (n - 1 + 4.0) * 1e6)
        assert got[i]["enc_micro"] == want, i
    # self-leak check: two rows of the same category with different
    # labels get DIFFERENT encodings (naive encoding would tie them)
    assert got[4]["enc"] != got[5]["enc"]
    # singleton category: encoding collapses to the smoothed prior
    assert got[6]["enc_micro"] == micro(
        (0 + 4.0 * (kt / nt)) / (0 + 4.0) * 1e6)
    with pytest.raises(ValueError):
        ops.target_encode_loo(df, "cat", "y", "id", smoothing=0)


# ---- wasserstein_1d --------------------------------------------------------


def test_wasserstein_known_shift(spark):
    # b is a + 2 exactly: W1 of a location shift equals the shift
    a_vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    rows = ([("a", v) for v in a_vals] + [("b", v + 2.0) for v in a_vals])
    df = spark.createDataFrame(rows, "g string, v double")
    r = ops.wasserstein_1d(df, "v", "g", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (5, 5)
    assert abs(r["w1"] - 2.0) < 1e-8
    # identical distributions -> 0
    df2 = spark.createDataFrame(
        [("a", v) for v in a_vals] + [("b", v) for v in a_vals],
        "g string, v double")
    r2 = ops.wasserstein_1d(df2, "v", "g", "a", "b").collect()[0]
    assert r2["w1_nano"] == 0 and r2["w1"] == 0.0


def test_wasserstein_python_replay(spark):
    import math
    a_vals = [0.5, 1.5, 1.5, 9.0]
    b_vals = [2.0, 2.0, 3.5]
    rows = [("a", v) for v in a_vals] + [("b", v) for v in b_vals]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ops.wasserstein_1d(df, "v", "g", "a", "b").collect()[0]
    vs = sorted(set(a_vals + b_vals))
    total = 0
    for v, vn in zip(vs, vs[1:]):
        cum_a = sum(1 for x in a_vals if x <= v) / len(a_vals)
        cum_b = sum(1 for x in b_vals if x <= v) / len(b_vals)
        t = abs(cum_a - cum_b) * (vn - v) * 1e9
        total += int(math.floor(abs(t) + 0.5))
    assert r["w1_nano"] == total


# ---- table_digest ----------------------------------------------------------


def test_table_digest_order_free_and_sensitive(spark):
    rows = [(1, "a", 10), (2, "b", 20), (3, None, 30)]
    df = spark.createDataFrame(rows, "k long, s string, v long")
    d1 = ops.table_digest(df, ["k", "s", "v"]).collect()[0]
    # permuted row order -> identical digest (order-free multiset hash)
    d2 = ops.table_digest(
        spark.createDataFrame(list(reversed(rows)), "k long, s string, "
                              "v long").repartition(3),
        ["k", "s", "v"]).collect()[0]
    assert (d1["n_rows"], d1["digest"]) == (d2["n_rows"], d2["digest"])
    # any single-value change flips the digest
    d3 = ops.table_digest(
        spark.createDataFrame([(1, "a", 10), (2, "b", 21), (3, None, 30)],
                              "k long, s string, v long"),
        ["k", "s", "v"]).collect()[0]
    assert d3["digest"] != d1["digest"]
    # NULL vs the string 'NULL' are distinct (sentinel encoding)
    d4 = ops.table_digest(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20), (3, "<NULL>", 30)],
                              "k long, s string, v long"),
        ["k", "s", "v"]).collect()[0]
    # sentinel collision is the documented contract boundary: equal here
    assert d4["digest"] == d1["digest"]
    # empty table digests to '0'
    d5 = ops.table_digest(df.where("k > 99"), ["k"]).collect()[0]
    assert (d5["n_rows"], d5["digest"]) == (0, "0")
    with pytest.raises(ValueError):
        ops.table_digest(df, [])


# ---- k_core ----------------------------------------------------------------


def test_k_core_peels_tail_and_keeps_clique(spark):
    # a 4-clique (degree 3 inside) with a pendant chain hanging off it
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = ops.k_core(df, k=3, rounds=8).collect()
    # chain nodes 5,6 peel (degree < 3); node 4 keeps clique degree 3
    assert {r["node"] for r in got} == {1, 2, 3, 4}
    assert all(r["degree"] == 3 for r in got)
    # k=4 dissolves everything (no node has degree 4 after peeling)
    assert ops.k_core(df, k=4, rounds=8).collect() == []
    # duplicate + reversed edges canonicalize away
    noisy = df.union(spark.createDataFrame(
        [(2, 1), (3, 1), (1, 2)], "src long, dst long"))
    got2 = ops.k_core(noisy, k=3, rounds=8).collect()
    assert sorted((r["node"], r["degree"]) for r in got2) == sorted(
        (r["node"], r["degree"]) for r in got)
    with pytest.raises(ValueError):
        ops.k_core(df, k=0)


def test_k_core_multi_round_cascade(spark):
    # a chain needs MULTIPLE peel rounds: each round removes the new
    # degree-1 endpoints only
    chain = [(i, i + 1) for i in range(1, 8)]
    df = spark.createDataFrame(chain, "src long, dst long")
    assert ops.k_core(df, k=2, rounds=8).collect() == []
    # with too few rounds the residual is the documented partial peel
    part = ops.k_core(df, k=2, rounds=1).collect()
    assert {r["node"] for r in part} == set(range(2, 8))


def test_k_core_fixpoint_early_exit_matches_full_rounds(spark):
    # the loop exits as soon as a round removes no edge (peeling only
    # removes, so an unchanged edge count IS the fixpoint); the
    # rounds-step residual must be identical for any rounds budget past
    # convergence — here the graph converges in 1 round, so rounds=2
    # and rounds=25 must agree exactly
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = sorted(
        (r["node"], r["degree"])
        for r in ops.k_core(df, k=3, rounds=2).collect()
    )
    slow = sorted(
        (r["node"], r["degree"])
        for r in ops.k_core(df, k=3, rounds=25).collect()
    )
    assert fast == slow == [(1, 3), (2, 3), (3, 3), (4, 3)]


# ---- session_exit_rates ----------------------------------------------------


def test_exit_rates_counts_session_enders(spark):
    import datetime as dt
    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    # user 1: [view, click] then (gap) [view]; user 2: [buy]
    rows = [
        (1, 1, t(0), "view"), (2, 1, t(5), "click"),
        (3, 1, t(50), "view"),
        (4, 2, t(0), "buy"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string")
    got = {r["event_type"]: r for r in
           ops.session_exit_rates(df, gap_minutes=30).collect()}
    # sessions: (view,click) -> ends with click; (view) -> view;
    # (buy) -> buy
    assert (got["click"]["n_events"], got["click"]["n_exits"]) == (1, 1)
    assert (got["view"]["n_events"], got["view"]["n_exits"]) == (2, 1)
    assert got["view"]["exit_rate"] == 0.5
    assert got["buy"]["exit_rate"] == 1.0
    # total exits == total sessions (3)
    assert sum(r["n_exits"] for r in got.values()) == 3


# ---- sliced_accuracy_report ------------------------------------------------


def test_sliced_accuracy_wilson_replay(spark):
    import math
    rows = [("a", "x", "x")] * 8 + [("a", "x", "y")] * 2 \
        + [("b", "x", "x")] * 1 + [("b", "x", "y")] * 1
    df = spark.createDataFrame(rows, "s string, p string, t string")
    got = {r["slice"]: r for r in
           ops.sliced_accuracy_report(df, "s", "p", "t").collect()}

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    z = 1959964 / 1e6
    for sl, n, k in (("a", 10, 8), ("b", 2, 1)):
        p = k / n
        den = 1.0 + z * z / n
        c = (p + z * z / (2.0 * n)) / den
        h = (z * math.sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n))
             / den)
        r = got[sl]
        assert (r["n"], r["n_correct"]) == (n, k)
        assert r["acc"] == micro(p * 1e6) / 1e6
        assert r["wilson_lo"] == micro((c - h) * 1e6) / 1e6
        assert r["wilson_hi"] == micro((c + h) * 1e6) / 1e6
    # the 2-row slice's interval must be much wider than the 10-row one
    w_a = got["a"]["wilson_hi"] - got["a"]["wilson_lo"]
    w_b = got["b"]["wilson_hi"] - got["b"]["wilson_lo"]
    assert w_b > w_a
    assert 0.0 <= got["b"]["wilson_lo"] <= got["b"]["wilson_hi"] <= 1.0


# ---- diff_in_diff ----------------------------------------------------------


def test_did_removes_common_trend(spark):
    import math
    # control drifts +10; treated drifts +10 plus a true +5 effect
    rows = []
    for i in range(40):
        treat, post = i % 2 == 1, i >= 20
        base = 100.0 + (10.0 if post else 0.0) + (i % 7) * 0.5
        effect = 5.0 if (treat and post) else 0.0
        rows.append((i % 2, 1 if post else 0, base + effect))
    df = spark.createDataFrame(rows, "t int, p int, value double")
    r = ops.diff_in_diff(df, "value", "t = 1", "p = 1").collect()[0]
    assert (r["n_t_pre"], r["n_t_post"], r["n_c_pre"],
            r["n_c_post"]) == (10, 10, 10, 10)

    def cell(tt, pp):
        return [v for t, p, v in rows if (t == 1) == tt and (p == 1) == pp]

    def mean(x):
        return sum(x) / len(x)

    want = (mean(cell(True, True)) - mean(cell(True, False))) \
        - (mean(cell(False, True)) - mean(cell(False, False)))
    assert abs(r["did"] - want) < 2e-6
    assert r["se_micro"] is not None and r["z_micro"] is not None
    # effect is positive and the z reflects it
    assert r["did"] > 4.0 and r["z_micro"] > 0


def test_did_degenerate_cell(spark):
    # a single-row cell -> SE undefined -> NULL se/z, did still exact
    rows = [(1, 1, 10.0), (1, 0, 4.0), (0, 1, 3.0), (0, 0, 1.0)]
    df = spark.createDataFrame(rows, "t int, p int, value double")
    r = ops.diff_in_diff(df, "value", "t = 1", "p = 1").collect()[0]
    assert r["did"] == (10.0 - 4.0) - (3.0 - 1.0)
    assert r["se_micro"] is None and r["z_micro"] is None


# ---- diversity_report ------------------------------------------------------


def test_diversity_replay_and_extremes(spark):
    import math
    rows = ([("uni", "en")] * 10                       # monoculture
            + [("bal", "en")] * 5 + [("bal", "de")] * 5  # 50/50
            + [("tri", "en")] * 2 + [("tri", "de")] * 2
            + [("tri", "fr")] * 2)
    df = spark.createDataFrame(rows, "source string, lang string")
    got = {r["group"]: r for r in
           ops.diversity_report(df, "source", "lang").collect()}

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    def nano(v):
        return micro(v * 1e3 * 1e6)

    # monoculture: H = 0, effective 1, simpson 0, norm NULL (ln 1 = 0)
    u = got["uni"]
    assert (u["entropy"], u["effective_cats"], u["simpson"]) == \
        (0.0, 1.0, 0.0)
    assert u["norm_entropy"] is None
    # balanced 2-way: H = ln 2, norm 1, effective 2
    b = got["bal"]
    h = sum(nano(-0.5 * math.log(0.5)) for _ in range(2)) / 1e9
    assert b["entropy"] == micro(h * 1e6) / 1e6
    assert b["norm_entropy"] == micro(h / math.log(2) * 1e6) / 1e6
    assert abs(b["effective_cats"] - 2.0) < 1e-5
    # unbiased simpson for 5/5 of 10: 1 - (2*5*4)/(10*9)
    assert b["simpson"] == micro((1 - 40 / 90) * 1e6) / 1e6
    # balanced 3-way: effective ~3
    assert abs(got["tri"]["effective_cats"] - 3.0) < 1e-5


# ---- weighted_median -------------------------------------------------------


def test_weighted_median_vs_plain_median(spark):
    # one heavy cheap row outweighs three light expensive ones
    rows = [("a", 1.0, 10.0), ("a", 5.0, 1.0), ("a", 7.0, 1.0),
            ("a", 9.0, 1.0),
            ("b", 2.0, 1.0), ("b", 4.0, 1.0)]
    df = spark.createDataFrame(rows, "g string, v double, w double")
    got = {r["group"]: r for r in
           ops.weighted_median(df, "g", "v", "w").collect()}
    # group a: W=13, half=6.5, cum at v=1 is 10 >= 6.5 -> median 1.0
    assert got["a"]["weighted_median"] == 1.0
    assert got["a"]["n"] == 4 and got["a"]["total_weight"] == 13.0
    # group b: equal weights, lower median = 2.0 (2*1 >= 2)
    assert got["b"]["weighted_median"] == 2.0
    # zero-weight rows don't move the crossing; negative weights drop
    df2 = df.union(spark.createDataFrame(
        [("a", 0.5, 0.0), ("a", 0.4, -3.0)], "g string, v double, w double"))
    got2 = {r["group"]: r for r in
            ops.weighted_median(df2, "g", "v", "w").collect()}
    assert got2["a"]["weighted_median"] == 1.0
    assert got2["a"]["total_weight"] == 13.0


# ---- cramers_v -------------------------------------------------------------


def test_cramers_v_bounds(spark):
    import math
    # perfect association: b fully determined by a -> V = 1
    rows = [("x", "p")] * 5 + [("y", "q")] * 5 + [("z", "r")] * 5
    df = spark.createDataFrame(rows, "a string, b string")
    r = ops.cramers_v(df, "a", "b").collect()[0]
    assert (r["ka"], r["kb"]) == (3, 3)
    assert abs(r["v"] - 1.0) < 1e-6
    # independence (balanced cross): V = 0
    rows2 = [(a, b) for a in "xy" for b in "pq" for _ in range(5)]
    r2 = ops.cramers_v(
        spark.createDataFrame(rows2, "a string, b string"), "a", "b"
    ).collect()[0]
    assert r2["chi2"] == 0.0 and r2["v"] == 0.0
    # replay the formula on a mixed table
    rows3 = [("x", "p")] * 6 + [("x", "q")] * 2 + [("y", "p")] * 3 \
        + [("y", "q")] * 7
    r3 = ops.cramers_v(
        spark.createDataFrame(rows3, "a string, b string"), "a", "b"
    ).collect()[0]
    want = math.sqrt(r3["chi2"] / (18 * 1))
    assert abs(r3["v"] - want) < 2e-6


# ---- adversarial edges for the late-wave operators --------------------------


def test_qnorm_all_duplicate_values(spark):
    # every value identical: all percent ranks collapse onto one grid
    # point; qnorm equals that value for every row
    df = spark.createDataFrame([(i, "g%d" % (i % 2), 7.5)
                                for i in range(10)],
                               "id long, s string, v double")
    got = ops.quantile_normalize(df, "s", "v", "id", n_grid=5).collect()
    assert all(r["qnorm"] == 7.5 for r in got)


def test_gains_heavy_score_ties(spark):
    # all scores tie: bucketing falls back to the id tiebreak, buckets
    # stay NTILE-exact and capture still reaches 1.0
    rows = [(i, 1.0, 1 if i % 4 == 0 else 0) for i in range(23)]
    df = spark.createDataFrame(rows, "id long, score double, y int")
    got = ops.gains_table(df, "score", "y", "id", n_buckets=5).collect()
    assert [r["n"] for r in got] == [5, 5, 5, 4, 4]  # NTILE sizes
    assert got[-1]["cum_capture"] == 1.0
    # ties broken by id asc: bucket 1 holds ids 0..4 -> 2 positives
    assert got[0]["n_pos"] == 2


def test_neyman_remainder_tie_break(spark):
    # two strata with IDENTICAL weights competing for one leftover seat:
    # the tie breaks deterministically by stratum name
    rows = ([("a", v) for v in (1.0, 5.0, 9.0)]
            + [("b", v) for v in (1.0, 5.0, 9.0)])
    df = spark.createDataFrame(rows, "s string, v double")
    got = {r["stratum"]: r["alloc"] for r in
           ops.neyman_allocation(df, "s", "v", total_n=5).collect()}
    assert got["a"] + got["b"] == 5
    assert got["a"] == got["b"] + 1  # 'a' wins the odd seat by name


def test_scd2_same_ts_same_key_dense_ties(spark):
    import datetime as dt
    t0 = dt.datetime(2024, 5, 1)
    rows = [(i, 1, t0, "v%d" % i, float(i)) for i in range(5)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double")
    h = sorted(ops.scd2_history(df, ["user_id"], "ts", "event_id",
                                ["event_type", "value"]).collect(),
               key=lambda r: r["version"])
    # all five share a timestamp: versions follow event_id, intervals
    # are zero-width except the open current one
    assert [r["event_type"] for r in h] == [f"v{i}" for i in range(5)]
    assert all(r["valid_from"] == t0 for r in h)
    assert h[-1]["is_current"] and not any(r["is_current"] for r in h[:-1])


# ---- hard_negative_mining --------------------------------------------------


def test_hard_negatives_prefer_close_wrong_label(spark):
    # two tight clusters; cluster A's nearest wrong-label vectors are
    # the closest members of cluster B
    pts = [(0, [0.0, 1.0], 0), (1, [0.1, 1.0], 0), (2, [0.2, 1.0], 0),
           (3, [1.0, 0.3], 1), (4, [1.0, 0.2], 1), (5, [1.0, 0.0], 1)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in pts],
        "vec_id long, embedding array<float>, label int")
    got = ops.hard_negative_mining(df, k_scan=5, k_neg=2).collect()
    by = {}
    for r in got:
        by.setdefault(r["anchor_id"], []).append(r)
    for a, rs in by.items():
        lbl = next(l for i, _, l in pts if i == a)
        # every negative has a different label, ranked by similarity
        assert all(r["neg_label"] != lbl for r in rs)
        assert [r["neg_rank"] for r in rs] == list(range(1, len(rs) + 1))
        cos = [r["cosine"] for r in rs]
        assert cos == sorted(cos, reverse=True)
    # anchor 2 (edge of cluster A) should pick 3 (edge of B) first
    assert by[2][0]["neg_id"] == 3
    with pytest.raises(ValueError):
        ops.hard_negative_mining(df, k_scan=2, k_neg=3)


# ---- threshold_sweep -------------------------------------------------------


def test_threshold_sweep_replay(spark):
    import math
    rows = [(i, float(i), 1 if i >= 60 or i % 9 == 0 else 0)
            for i in range(100)]
    df = spark.createDataFrame(rows, "id long, score double, y int")
    got = ops.threshold_sweep(df, "score", "y",
                              n_thresholds=4).collect()

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    P = sum(y for *_, y in rows)
    for r in got:
        t = r["threshold"]
        tp = sum(y for _, s, y in rows if micro(s * 1e6) >= micro(t * 1e6))
        fp = sum(1 - y for _, s, y in rows
                 if micro(s * 1e6) >= micro(t * 1e6))
        assert (r["tp"], r["fp"], r["fn"]) == (tp, fp, P - tp)
        prec, rec = tp / (tp + fp), tp / P
        assert r["precision"] == micro(prec * 1e6) / 1e6
        assert r["recall"] == micro(rec * 1e6) / 1e6
        assert r["f1"] == micro(2 * prec * rec / (prec + rec) * 1e6) / 1e6
    # recall decreases (weakly) as the threshold rises
    recs = [r["recall"] for r in got]
    assert recs == sorted(recs, reverse=True)
    with pytest.raises(ValueError):
        ops.threshold_sweep(df, "score", "y", n_thresholds=0)


# ---- seasonal_strength -----------------------------------------------------


def test_seasonal_strength_separates_signal_from_noise(spark):
    # strong 4-period seasonality on a flat base: F_s high, F_t low
    pts = [(i, i % 4, 100.0 + [0.0, 30.0, -20.0, 10.0][i % 4]
            + (0.3 if i % 5 == 0 else -0.2)) for i in range(24)]
    df = spark.createDataFrame(pts, "idx long, season int, value double")
    r = ops.seasonal_strength(df, "idx", "season", "value").collect()[0]
    assert r["n"] == 24
    assert r["seasonal_strength"] > 0.9
    assert r["trend_strength"] < 0.3
    # strong linear trend, no seasonality: F_t high, F_s low
    pts2 = [(i, i % 4, 10.0 * i + (0.4 if i % 3 == 0 else -0.1))
            for i in range(24)]
    df2 = spark.createDataFrame(pts2, "idx long, season int, value double")
    r2 = ops.seasonal_strength(df2, "idx", "season", "value").collect()[0]
    assert r2["trend_strength"] > 0.9
    assert r2["seasonal_strength"] < 0.5


# ---- triplet_mining --------------------------------------------------------


def test_triplet_margins_and_hardness(spark):
    pts = [(0, [0.0, 1.0], 0), (1, [0.05, 1.0], 0), (2, [0.4, 1.0], 0),
           (3, [1.0, 0.4], 1), (4, [1.0, 0.05], 1), (5, [1.0, 0.0], 1)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in pts],
        "vec_id long, embedding array<float>, label int")
    got = {r["anchor_id"]: r for r in
           ops.triplet_mining(df, k_scan=5).collect()}
    for a, r in got.items():
        lbl = next(l for i, _, l in pts if i == a)
        assert r["anchor_label"] == lbl
        pos_lbl = next(l for i, _, l in pts if i == r["pos_id"])
        neg_lbl = next(l for i, _, l in pts if i == r["neg_id"])
        assert pos_lbl == lbl and neg_lbl != lbl
        assert abs(r["margin"] - (r["pos_cosine"] - r["neg_cosine"])) \
            < 1e-6
    # anchor 0's hard positive is the FARTHEST same-label point (2),
    # not the adjacent one
    assert got[0]["pos_id"] == 2
    # boundary anchors have the smallest margins
    assert got[2]["margin"] < got[0]["margin"]
    with pytest.raises(ValueError):
        ops.triplet_mining(df, k_scan=1)


# ---- cohort_ltv ------------------------------------------------------------


def test_cohort_ltv_accumulates_per_customer(spark):
    import datetime as dt
    d = lambda m, day=1: dt.datetime(2024, m, day)
    rows = [
        # cohort Jan: cust 1 buys in Jan (10) and Mar (30);
        # cust 2 buys in Jan (20)
        (1, d(1), 10.0), (1, d(3), 30.0), (2, d(1, 15), 20.0),
        # cohort Feb: cust 3 buys Feb (5) and Mar (5)
        (3, d(2), 5.0), (3, d(3, 20), 5.0),
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double")
    got = {(str(r["cohort_month"]), r["age"]): r
           for r in ops.cohort_ltv(df).collect()}
    jan, feb = "2024-01-01", "2024-02-01"
    assert got[(jan, 0)]["revenue"] == 30.0        # 10 + 20
    assert got[(jan, 0)]["n_customers"] == 2
    assert got[(jan, 0)]["ltv"] == 15.0
    assert got[(jan, 2)]["cum_revenue"] == 60.0    # +30 in Mar
    assert got[(jan, 2)]["ltv"] == 30.0
    assert got[(feb, 1)]["cum_revenue"] == 10.0
    assert got[(feb, 1)]["ltv"] == 10.0
    # no age-1 row for Jan (nobody bought in Feb): sparse ages are real
    assert (jan, 1) not in got


# ---- functional_dependency -------------------------------------------------


def test_fd_exact_partial_and_broken(spark):
    rows = [("z1", "nyc"), ("z1", "nyc"), ("z2", "sf"),
            ("z3", "la"), ("z3", "la"), ("z3", "oakland")]
    df = spark.createDataFrame(rows, "zip string, city string")
    r = ops.functional_dependency(df, ["zip"], "city").collect()[0]
    # z3 violates: 3 rows, keep the 2-row majority -> delete 1
    assert (r["n_rows"], r["n_groups"]) == (6, 3)
    assert (r["n_violating_groups"], r["n_violating_rows"]) == (1, 1)
    assert r["fd_strength"] == round(1 - 1 / 6, 6)
    # a key column determines anything exactly
    df2 = spark.createDataFrame(
        [(i, "v%d" % (i % 3)) for i in range(9)], "k long, v string")
    r2 = ops.functional_dependency(df2, ["k"], "v").collect()[0]
    assert r2["fd_strength"] == 1.0 and r2["n_violating_rows"] == 0
    with pytest.raises(ValueError):
        ops.functional_dependency(df2, [], "v")


# ---- inclusion_dependency --------------------------------------------------


def test_inclusion_containment(spark):
    a = spark.createDataFrame([(1,), (2,), (3,), (3,), (None,)], "k int")
    b = spark.createDataFrame([(1,), (2,), (9,)], "k int")
    r = ops.inclusion_dependency(a, "k", b, "k", "a_in_b").collect()[0]
    # distinct non-null A = {1,2,3}; matched = {1,2}
    assert (r["n_distinct_a"], r["n_matched"]) == (3, 2)
    assert r["containment"] == round(2 / 3, 6)
    # reverse direction: {1,2,9} -> matched {1,2}
    r2 = ops.inclusion_dependency(b, "k", a, "k").collect()[0]
    assert r2["containment"] == round(2 / 3, 6)
    # perfect FK
    r3 = ops.inclusion_dependency(
        a.where("k IS NOT NULL AND k < 3"), "k", b, "k").collect()[0]
    assert r3["containment"] == 1.0


# ---- band_join -------------------------------------------------------------


def test_band_join_exact_and_no_cartesian(spark):
    a = spark.createDataFrame(
        [(1, 10.00), (2, 10.015), (3, 10.05), (4, 99.0)],
        "id_a long, v double")
    b = spark.createDataFrame(
        [(7, 10.01), (8, 10.04), (9, 50.0)], "id_b long, v double")
    got = {(r["id_a"], r["id_b"]): r["diff"] for r in
           ops.band_join(a, b, "v", "v", 0.02).collect()}
    # exact band: |diff| <= 0.02
    want = {(ia, ib) for ia, va in [(1, 10.00), (2, 10.015),
                                    (3, 10.05), (4, 99.0)]
            for ib, vb in [(7, 10.01), (8, 10.04), (9, 50.0)]
            if abs(va - vb) <= 0.02}
    assert set(got) == want
    assert (1, 7) in got and (3, 8) in got and (4, 9) not in got
    # plan: keyed equi-join, no cartesian / nested-loop fallback
    plan = ops.band_join(a, b, "v", "v", 0.02)
    plan.collect()
    txt = plan._jdf.queryExecution().executedPlan().toString()
    cut = txt.find("== Initial Plan ==")
    txt = txt[:cut] if cut != -1 else txt
    assert "CartesianProduct" not in txt
    with pytest.raises(ValueError):
        ops.band_join(a, b, "v", "v", 0.0)


# ---- gap_fill_linear -------------------------------------------------------


def test_gap_fill_interpolates_midpoints(spark):
    rows = [("a", 0, 10.0), ("a", 3, 40.0), ("a", 4, 0.0),
            ("b", 5, 1.0)]
    df = spark.createDataFrame(rows, "g string, i long, v double")
    got = {(r["group"], r["idx"]): r for r in
           ops.gap_fill_linear(df, "g", "i", "v").collect()}
    # spine covers 0..4 for a; 1 and 2 interpolate on the 10->40 leg
    assert len([k for k in got if k[0] == "a"]) == 5
    assert got[("a", 1)]["filled"] == 20.0
    assert got[("a", 2)]["filled"] == 30.0
    assert not got[("a", 2)]["was_observed"]
    assert got[("a", 3)]["filled"] == 40.0 and got[("a", 3)]["was_observed"]
    # singleton group: just its own point, no fabricated range
    assert [k for k in got if k[0] == "b"] == [("b", 5)]
    assert got[("b", 5)]["filled"] == 1.0


# ---- trending_report -------------------------------------------------------


def test_trending_shares_not_volume(spark):
    import math
    # overall volume doubles; key 'up' triples its share, 'down' halves,
    # 'flat' tracks the total
    rows = ([("up", 0)] * 5 + [("up", 1)] * 30
            + [("down", 0)] * 40 + [("down", 1)] * 20
            + [("flat", 0)] * 55 + [("flat", 1)] * 150)
    df = spark.createDataFrame(rows, "k string, post int")
    got = {r["key"]: r for r in ops.trending_report(
        df, "k", "post = 1", pseudo=3, k=3).collect()
        if r["direction"] == "rising"}
    tb = sum(1 for _, p in rows if p == 0)
    ta = sum(1 for _, p in rows if p == 1)

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    for key in ("up", "down", "flat"):
        nb = sum(1 for x, p in rows if x == key and p == 0)
        na = sum(1 for x, p in rows if x == key and p == 1)
        want = micro(((na + 3.0 / 3) / (ta + 3.0))
                     / ((nb + 3.0 / 3) / (tb + 3.0)) * 1e6)
        assert got[key]["trend_micro"] == want, key
    assert got["up"]["trend"] > got["flat"]["trend"] > got["down"]["trend"]
    with pytest.raises(ValueError):
        ops.trending_report(df, "k", "post = 1", pseudo=0)


# ---- log_rank_test ---------------------------------------------------------


def test_log_rank_identical_vs_separated(spark):
    # identical survival in both arms: O ~= E, statistic ~ 0
    rows = [(float(t), True, a) for t in (1, 2, 3, 4, 5)
            for a in (True, False)]
    df = spark.createDataFrame(rows, "t double, ev boolean, arm boolean")
    r = ops.log_rank_test(df, "t", "ev", "arm").collect()[0]
    assert (r["n_a"], r["n_b"], r["o_a"], r["o_b"]) == (5, 5, 5, 5)
    assert abs(r["o_a"] - r["e_a"]) < 1e-4
    assert r["logrank_chi2"] < 1e-6
    # arm A dies much earlier than arm B: large statistic
    rows2 = ([(float(t), True, True) for t in (1, 2, 3, 4, 5)]
             + [(float(t), True, False) for t in (11, 12, 13, 14, 15)])
    r2 = ops.log_rank_test(
        spark.createDataFrame(rows2, "t double, ev boolean, arm boolean"),
        "t", "ev", "arm").collect()[0]
    assert r2["logrank_chi2"] > 5.0
    assert r2["e_a"] < r2["o_a"]  # A saw more deaths than expected
    # censored subjects thin the risk set but add no events
    rows3 = rows + [(2.5, False, True), (2.5, False, False)]
    r3 = ops.log_rank_test(
        spark.createDataFrame(rows3, "t double, ev boolean, arm boolean"),
        "t", "ev", "arm").collect()[0]
    assert (r3["o_a"], r3["o_b"]) == (5, 5)
    assert r3["n_a"] == 6


# ---- growth_accounting -----------------------------------------------------


def test_growth_accounting_identity_and_classes(spark):
    import datetime as dt
    # weeks: W1=Jan1(Mon), W2=Jan8, W3=Jan15, W4=Jan22 (2024)
    w = lambda n, d=0: dt.datetime(2024, 1, 1 + 7 * (n - 1) + d)
    rows = [
        (1, w(1)), (1, w(2)),            # retained W2, churns after W2
        (2, w(1)), (2, w(3)),            # skips W2 -> resurrected W3
        (3, w(2)), (3, w(3)), (3, w(4)),  # new W2, retained W3,W4
        (4, w(4)),                        # new W4
    ]
    df = spark.createDataFrame(
        [(u, t) for u, t in rows], "user_id long, ts timestamp")
    got = {str(r["period"]): r for r in
           ops.growth_accounting(df, period="week").collect()}
    for r in got.values():
        assert r["n_active"] == r["n_new"] + r["n_retained"] \
            + r["n_resurrected"]
    w1, w2, w3, w4 = (str(w(i).date()) for i in (1, 2, 3, 4))
    assert (got[w1]["n_new"], got[w1]["n_active"]) == (2, 2)
    assert (got[w2]["n_new"], got[w2]["n_retained"]) == (1, 1)
    # user 2 churns from W1's cohort view (not active W2)
    assert got[w2]["n_churned"] == 1
    assert got[w3]["n_resurrected"] == 1     # user 2 returns
    assert got[w3]["n_retained"] == 1        # user 3
    assert got[w4]["n_new"] == 1             # user 4
    assert got[w4]["n_churned"] == 1         # user 2 not active W4


# ---- stratified_take -------------------------------------------------------


def test_stratified_take_exact_counts_and_determinism(spark):
    rows = [(i, "s%d" % (i % 3), float(i % 50)) for i in range(120)]
    df = spark.createDataFrame(rows, "id long, s string, v double")
    alloc = ops.neyman_allocation(df, "s", "v", total_n=30)
    want = {r["stratum"]: r["alloc"] for r in alloc.collect()}
    got = ops.stratified_take(df, "s", alloc, "id").collect()
    by = {}
    for r in got:
        by.setdefault(r["stratum"], []).append(r["id"])
    # per-stratum counts match the plan EXACTLY
    assert {k: len(v) for k, v in by.items()} == \
        {k: v for k, v in want.items() if v > 0}
    assert sum(len(v) for v in by.values()) == 30
    # deterministic: same call, same rows; new salt, different draw
    again = ops.stratified_take(df, "s", alloc, "id").collect()
    assert sorted((r["stratum"], r["id"]) for r in again) == \
        sorted((r["stratum"], r["id"]) for r in got)
    resalted = ops.stratified_take(df, "s", alloc, "id",
                                   salt="other").collect()
    assert sorted((r["stratum"], r["id"]) for r in resalted) != \
        sorted((r["stratum"], r["id"]) for r in got)


# ---- holt_forecast ---------------------------------------------------------


def test_holt_tracks_linear_trend_exactly_in_micro(spark):
    # a perfectly linear series: level converges onto the line and the
    # forecast continues it
    pts = [(i, 100.0 + 10.0 * i) for i in range(30)]
    df = spark.createDataFrame(pts, "idx long, v double")
    got = {r["h"]: r for r in
           ops.holt_forecast(df, "idx", "v", alpha_pct=50,
                             beta_pct=50, horizon=3).collect()}
    # python replay with the same integer recurrence
    from concept_multi_db_query_engine_spark.operators.stats import _rdiv
    ys = [round(v * 1e6) for _, v in pts]
    lvl, trd = ys[0], ys[1] - ys[0]
    for y in ys[1:]:
        prev = lvl
        lvl = _rdiv(50 * y + 50 * (lvl + trd), 100)
        trd = _rdiv(50 * (lvl - prev) + 50 * trd, 100)
    assert got[0]["forecast_micro"] == lvl
    for h in (1, 2, 3):
        assert got[h]["forecast_micro"] == lvl + h * trd
    # on an exact line the one-step forecast is (numerically) the next
    # point: trend locked to 10/step
    assert abs(got[1]["forecast"] - (100.0 + 10.0 * 30)) < 0.01
    with pytest.raises(ValueError):
        ops.holt_forecast(df.limit(1), "idx", "v")
    with pytest.raises(ValueError):
        ops.holt_forecast(df, "idx", "v", alpha_pct=0)


# ---- truncation_energy_report ----------------------------------------------


def test_truncation_energy_orders_weakest_first(spark):
    import math
    pts = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # all energy in the prefix
        (1, [0.0, 0.0, 1.0, 1.0]),    # none in the prefix
        (2, [1.0, 0.0, 1.0, 0.0]),    # half the energy
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in pts],
        "vec_id long, embedding array<float>")
    got = ops.truncation_energy_report(df, dim=2, k=3).collect()
    assert [r["vec_id"] for r in got] == [1, 2, 0]
    assert got[0]["retained"] == 0.0
    assert got[2]["retained"] == 1.0
    assert abs(got[1]["retained"] - 1 / math.sqrt(2)) < 1e-6
    with pytest.raises(ValueError):
        ops.truncation_energy_report(df, dim=0)


# ---- cohens_d --------------------------------------------------------------


def test_cohens_d_replay(spark):
    import math
    a_vals = [10.0, 12.0, 11.0, 13.0, 9.0]
    b_vals = [15.0, 17.0, 16.0]
    rows = [("a", v) for v in a_vals] + [("b", v) for v in b_vals]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ops.cohens_d(df, "v", "g", "a", "b").collect()[0]
    na, nb = len(a_vals), len(b_vals)
    sa, sb = sum(a_vals), sum(b_vals)
    qa = sum(x * x for x in a_vals)
    qb = sum(x * x for x in b_vals)
    sp = math.sqrt(((qa - sa * sa / na) + (qb - sb * sb / nb))
                   / (na + nb - 2))
    d = (sa / na - sb / nb) / sp
    g = d * (1 - 3 / (4 * (na + nb - 2) - 1))

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["pooled_sd"] == micro(sp * 1e6) / 1e6
    assert r["d"] == micro(d * 1e6) / 1e6
    assert r["g"] == micro(g * 1e6) / 1e6
    assert abs(r["g"]) < abs(r["d"])  # g shrinks toward 0


# ---- forecast_accuracy -----------------------------------------------------


def test_forecast_accuracy_replay(spark):
    import math
    pairs = [(100.0, 90.0), (200.0, 210.0), (50.0, 50.0), (80.0, 100.0)]
    df = spark.createDataFrame(pairs, "a double, f double")
    r = ops.forecast_accuracy(df, "a", "f").collect()[0]

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    n = len(pairs)
    ae = sum(micro(abs(a - f) * 1e6) for a, f in pairs)
    se = sum(micro((a - f) ** 2) for a, f in pairs)
    ape = sum(micro(abs(a - f) / abs(a) * 1e6) for a, f in pairs)
    sape = sum(micro(2 * abs(a - f) / (abs(a) + abs(f)) * 1e6)
               for a, f in pairs)
    assert r["n"] == n
    assert r["mae"] == micro(ae / 1e6 / n * 1e6) / 1e6
    assert r["rmse"] == micro(math.sqrt(se / n) * 1e6) / 1e6
    assert r["mape"] == micro(ape / 1e6 / n * 1e6) / 1e6
    assert r["smape"] == micro(sape / 1e6 / n * 1e6) / 1e6
    # perfect forecast scores zero everywhere
    perfect = spark.createDataFrame([(5.0, 5.0)], "a double, f double")
    rp = ops.forecast_accuracy(perfect, "a", "f").collect()[0]
    assert (rp["mae"], rp["rmse"], rp["mape"], rp["smape"]) == \
        (0.0, 0.0, 0.0, 0.0)


# ---- arrival_dispersion ----------------------------------------------------


def test_dispersion_regular_vs_bursty(spark):
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    # regular: exactly 4 events every hour for 24 hours -> variance 0
    reg = [(base + dt.timedelta(hours=h, minutes=m),)
           for h in range(24) for m in (0, 15, 30, 45)]
    r = ops.arrival_dispersion(
        spark.createDataFrame(reg, "ts timestamp"),
        bucket_seconds=3600).collect()[0]
    assert r["n_buckets"] == 24
    assert r["mean_per_bucket"] == 4.0
    assert r["var_per_bucket"] == 0.0 and r["dispersion"] == 0.0
    # bursty: all 96 events inside one hour of a 24-hour span
    burst = [(base + dt.timedelta(minutes=i % 60),) for i in range(96)]
    burst.append((base + dt.timedelta(hours=23),))
    r2 = ops.arrival_dispersion(
        spark.createDataFrame(burst, "ts timestamp"),
        bucket_seconds=3600).collect()[0]
    # zero-count buckets materialize via the spine
    assert r2["n_buckets"] == 24
    assert r2["dispersion"] > 10.0 and r2["z_vs_poisson"] > 3.0


# ---- abc_classes -----------------------------------------------------------


def test_abc_boundaries_exact(spark):
    # values engineered so the 80% boundary falls exactly on a key
    rows = [("k1", 50.0), ("k2", 30.0), ("k3", 15.0), ("k4", 5.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {r["abc_class"]: r for r in
           ops.abc_classes(df, "k", "v").collect()}
    # cum: k1=50 (<=80 A), k2=80 (<=80 A boundary INCLUDED),
    # k3=95 (<=95 B boundary), k4=100 (C)
    assert got["A"]["n_keys"] == 2 and got["A"]["value_total"] == 80.0
    assert got["B"]["n_keys"] == 1 and got["B"]["value_total"] == 15.0
    assert got["C"]["n_keys"] == 1
    assert got["A"]["value_share"] == 0.8
    assert got["A"]["key_share"] == 0.5
    assert abs(sum(r["value_share"] for r in got.values()) - 1.0) < 1e-6


# ---- metric_anomaly_leaderboard --------------------------------------------


def test_anomaly_leaderboard_ranks_movers(spark):
    import math
    rows = []
    for d in range(10):
        rows += [("steady", d, 100.0), ("spiky", d, 100.0),
                 ("drop", d, 50.0)]
    # current period 10: spiky doubles, drop halves, steady steady
    rows += [("steady", 10, 100.0), ("spiky", 10, 200.0),
             ("drop", 10, 25.0)]
    # history for all is constant -> sd 0 -> skipped... perturb
    rows = [(k, d, v + (d % 3) * 1.0) for k, d, v in rows]
    df = spark.createDataFrame(rows, "k string, d long, v double")
    got = ops.metric_anomaly_leaderboard(df, "k", "d", "v",
                                         current_idx=10, k=3).collect()
    keys = [r["key"] for r in got]
    assert set(keys) == {"steady", "spiky", "drop"}
    # movers outrank the steady series; z magnitudes ordered
    assert keys[-1] == "steady"
    zs = [abs(r["z"]) for r in got]
    assert zs == sorted(zs, reverse=True)
    # replay spiky's z
    hist = [v for k, d, v in rows if k == "spiky" and d < 10]
    cur = [v for k, d, v in rows if k == "spiky" and d == 10][0]
    n = len(hist)
    mean = sum(hist) / n
    sd = math.sqrt((sum(x * x for x in hist) - sum(hist) ** 2 / n)
                   / (n - 1))
    want = (cur - mean) / sd
    spiky = next(r for r in got if r["key"] == "spiky")
    assert abs(spiky["z"] - want) < 2e-6
    with pytest.raises(ValueError):
        ops.metric_anomaly_leaderboard(df, "k", "d", "v", 10, k=0)


# ---- distinctive_terms -----------------------------------------------------


def test_distinctive_terms_finds_group_vocabulary(spark):
    docs = ([(i, "a", "quantum flux common word") for i in range(10)]
            + [(i + 100, "b", "market trade common word")
               for i in range(10)])
    df = spark.createDataFrame(docs, "doc_id int, source string, "
                                     "text string")
    got = ops.distinctive_terms(df, "source", target="a", k=2).collect()
    tgt = [r["term"] for r in got if r["side"] == "target"]
    rest = [r["term"] for r in got if r["side"] == "rest"]
    assert set(tgt) == {"quantum", "flux"}
    assert set(rest) == {"market", "trade"}
    # shared words score near zero, never in either top list
    assert "common" not in tgt + rest and "word" not in tgt + rest
    # z symmetry: target words positive, rest words negative
    assert all(r["z"] > 0 for r in got if r["side"] == "target")
    assert all(r["z"] < 0 for r in got if r["side"] == "rest")
    with pytest.raises(ValueError):
        ops.distinctive_terms(df, "source")


# ---- fulfillment_sla -------------------------------------------------------


def test_fulfillment_sla_uses_first_shipment(spark):
    import datetime as dt
    d = lambda day: dt.datetime(2024, 1, day)
    orders = spark.createDataFrame(
        [(1, "1-URGENT", d(1)), (2, "1-URGENT", d(1)),
         (3, "5-LOW", d(1))],
        "o_orderkey long, o_orderpriority string, o_orderdate timestamp")
    li = spark.createDataFrame(
        [(1, d(3)), (1, d(20)),        # first ship day 3 (lag 2)
         (2, d(10)),                    # lag 9
         (3, d(25))],                   # lag 24
        "l_orderkey long, l_shipdate timestamp")
    got = {r["priority"]: r for r in
           ops.fulfillment_sla(orders, li, [7, 14]).collect()}
    u = got["1-URGENT"]
    assert u["n_orders"] == 2
    assert u["avg_lag_days"] == round((2 + 9) / 2, 6)
    assert u["within_7d"] == 0.5 and u["within_14d"] == 1.0
    lo = got["5-LOW"]
    assert lo["within_14d"] == 0.0
    with pytest.raises(ValueError):
        ops.fulfillment_sla(orders, li, [0])


# ---- one_way_anova ---------------------------------------------------------


def test_anova_replay_and_null_case(spark):
    rows = ([("a", v) for v in (10.0, 12.0, 11.0)]
            + [("b", v) for v in (20.0, 22.0, 21.0)]
            + [("c", v) for v in (15.0, 15.0, 15.0)])
    df = spark.createDataFrame(rows, "g string, v double")
    r = ops.one_way_anova(df, "g", "v").collect()[0]
    vals = [v for _, v in rows]
    n, k = len(vals), 3
    grand = sum(vals) / n
    groups = {g: [v for gg, v in rows if gg == g] for g in "abc"}
    ssb = sum(len(vs) * (sum(vs) / len(vs) - grand) ** 2
              for vs in groups.values())
    ssw = sum((v - sum(vs) / len(vs)) ** 2
              for vs in groups.values() for v in vs)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert (r["n"], r["k"]) == (n, k)
    assert abs(r["ssb"] - ssb) <= 1.0 and abs(r["ssw"] - ssw) <= 1.5
    assert abs(r["f_stat"] - f) < 0.05
    assert abs(r["eta_sq"] - ssb / (ssb + ssw)) < 1e-3
    # identical groups: F ~ 0
    same = spark.createDataFrame(
        [("a", 5.0), ("a", 7.0), ("b", 5.0), ("b", 7.0)],
        "g string, v double")
    r2 = ops.one_way_anova(same, "g", "v").collect()[0]
    assert r2["f_stat"] == 0.0 and r2["eta_sq"] == 0.0


# ---- kruskal_wallis --------------------------------------------------------


def test_kruskal_wallis_against_scipy_style_replay(spark):
    # hand-checkable example with ties
    rows = ([("a", v) for v in (1.0, 2.0, 3.0)]
            + [("b", v) for v in (4.0, 5.0, 6.0)]
            + [("c", v) for v in (2.0, 5.0, 9.0)])
    df = spark.createDataFrame(rows, "g string, v double")
    r = ops.kruskal_wallis(df, "g", "v").collect()[0]
    # python replay with average ranks
    vals = sorted(v for _, v in rows)
    import collections
    cnt = collections.Counter(vals)
    ranks, before = {}, 0
    for v in sorted(cnt):
        t = cnt[v]
        ranks[v] = before + (t + 1) / 2
        before += t
    n, k = len(rows), 3
    rr = 0.0
    for g in "abc":
        rs = sum(ranks[v] for gg, v in rows if gg == g)
        ng = sum(1 for gg, _ in rows if gg == g)
        rr += round(rs * rs / ng)
    h = 12.0 / (n * (n + 1)) * rr - 3 * (n + 1)
    t3 = sum(t ** 3 - t for t in cnt.values())
    corr = 1 - t3 / (n ** 3 - n)
    import math

    def micro(v):
        return int(math.floor(abs(v) + 0.5)) * (1 if v >= 0 else -1)

    assert (r["n"], r["k"]) == (n, k)
    assert r["h"] == micro(h * 1e6) / 1e6
    assert r["tie_correction"] == micro(corr * 1e6) / 1e6
    assert abs(r["h_corrected"] - h / corr) < 1e-5
    # mirror-identical groups: both rank sums equal, H at its floor
    # for this n (H is chi2(k-1)-distributed — NOT zero at tiny n)
    same = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)],
        "g string, v double")
    r2 = ops.kruskal_wallis(same, "g", "v").collect()[0]
    # ranks {1.5,1.5,3.5,3.5}: R_a = R_b = 5, rr = 2*round(12.5) = 26,
    # H = 12/20*26 - 15 = 0.6, corr = 0.8 -> 0.75
    assert r2["h_corrected"] == 0.75


# ---- mann_kendall ----------------------------------------------------------


def test_mann_kendall_trends_and_guard(spark):
    import math
    # strictly increasing: S = n(n-1)/2, strongly positive z
    up = spark.createDataFrame([(i, float(i)) for i in range(12)],
                               "i long, x double")
    r = ops.mann_kendall(up, "i", "x").collect()[0]
    n = 12
    assert r["s_stat"] == n * (n - 1) // 2
    var = n * (n - 1) * (2 * n + 5) / 18.0
    assert r["var_s"] == round(var)
    want_z = (r["s_stat"] - 1.0) / math.sqrt(var)
    assert abs(r["z"] - want_z) < 1e-5
    assert r["z"] > 2.0
    # alternating series: S near 0, |z| small
    alt = spark.createDataFrame(
        [(i, float(i % 2)) for i in range(12)], "i long, x double")
    r2 = ops.mann_kendall(alt, "i", "x").collect()[0]
    assert abs(r2["z"]) < 1.0
    # guard: the O(n^2) pair join refuses raw corpora
    with pytest.raises(ValueError):
        ops.mann_kendall(up, "i", "x", max_points=5)


# ---- spearman_corr ---------------------------------------------------------


def test_spearman_monotone_and_ties(spark):
    # perfectly monotone but nonlinear: rho = 1 (Pearson would be < 1)
    rows = [(float(i), float(i ** 3)) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = ops.spearman_corr(df, "x", "y").collect()[0]
    assert r["n"] == 10 and r["rho"] == 1.0
    # anti-monotone: rho = -1
    df2 = spark.createDataFrame(
        [(float(i), float(-i ** 3)) for i in range(1, 11)],
        "x double, y double")
    assert ops.spearman_corr(df2, "x", "y").collect()[0]["rho"] == -1.0
    # replay with scipy-style tie-averaged ranks
    rows3 = [(1.0, 3.0), (2.0, 3.0), (2.0, 1.0), (4.0, 5.0), (5.0, 4.0)]
    df3 = spark.createDataFrame(rows3, "x double, y double")
    got = ops.spearman_corr(df3, "x", "y").collect()[0]

    def ranks(vals):
        import collections
        c = collections.Counter(vals)
        out, before = {}, 0
        for v in sorted(c):
            out[v] = before + (c[v] + 1) / 2
            before += c[v]
        return [out[v] for v in vals]

    rx = ranks([x for x, _ in rows3])
    ry = ranks([y for _, y in rows3])
    n = len(rows3)
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx = sum(a * a for a in rx)
    syy = sum(b * b for b in ry)
    import math
    want = round((n * sxy - sx * sy)
                 / (math.sqrt(n * sxx - sx * sx)
                    * math.sqrt(n * syy - sy * sy)), 6)
    assert got["rho"] == want


# ---- gini_coefficient ------------------------------------------------------


def test_gini_extremes_and_ties(spark):
    # perfect equality
    eq = spark.createDataFrame([(10.0,)] * 8, "v double")
    r = ops.gini_coefficient(eq, "v").collect()[0]
    assert (r["n"], r["gini"]) == (8, 0.0)
    # one holder of everything: G = (n-1)/n
    one = spark.createDataFrame([(0.0,)] * 7 + [(100.0,)], "v double")
    r2 = ops.gini_coefficient(one, "v").collect()[0]
    assert abs(r2["gini"] - 7 / 8) < 1e-5
    # replay on a mixed set with ties
    vals = [1.0, 1.0, 2.0, 4.0, 4.0, 8.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    r3 = ops.gini_coefficient(df, "v").collect()[0]
    xs = sorted(vals)
    n = len(xs)
    g = 2 * sum((i + 1) * x for i, x in enumerate(xs)) \
        / (n * sum(xs)) - (n + 1) / n
    assert abs(r3["gini"] - g) < 1e-5
    # negatives are excluded by contract
    neg = spark.createDataFrame([(-1.0,), (5.0,), (5.0,)], "v double")
    assert ops.gini_coefficient(neg, "v").collect()[0]["n"] == 2


# ---- durbin_watson ---------------------------------------------------------


def test_durbin_watson_detects_autocorrelation(spark):
    import math
    # alternating residuals around a flat line: DW near 4
    alt = spark.createDataFrame(
        [(i, 1000.0 + (100.0 if i % 2 == 0 else -100.0))
         for i in range(40)], "i long, x double")
    r = ops.durbin_watson(alt, "i", "x").collect()[0]
    assert r["dw"] > 3.5
    # smooth slow sine around the line: positive autocorrelation, DW low
    slow = spark.createDataFrame(
        [(i, 1000.0 + 100.0 * math.sin(i / 8.0)) for i in range(40)],
        "i long, x double")
    r2 = ops.durbin_watson(slow, "i", "x").collect()[0]
    assert r2["dw"] < 1.0
    # the fitted line itself is recovered on clean linear data
    lin = spark.createDataFrame(
        [(i, 5.0 * i + 20.0) for i in range(10)], "i long, x double")
    r3 = ops.durbin_watson(lin, "i", "x").collect()[0]
    assert abs(r3["slope"] - 5.0) < 1e-5
    assert abs(r3["intercept"] - 20.0) < 1e-4


# ---- theil_index -----------------------------------------------------------


def test_theil_decomposition_adds_up(spark):
    import math
    rows = ([("east", v) for v in (10.0, 10.0, 10.0)]
            + [("west", v) for v in (40.0, 40.0, 40.0)])
    df = spark.createDataFrame(rows, "g string, v double")
    r = ops.theil_index(df, "v", "g").collect()[0]
    # equal inside groups -> ALL inequality is between-group
    assert r["theil_within"] == 0.0
    vals = [v for _, v in rows]
    mu = sum(vals) / len(vals)
    want = sum((v / mu) * math.log(v / mu) for v in vals) / len(vals)
    assert abs(r["theil_total"] - want) < 1e-5
    assert abs(r["theil_between"] - want) < 1e-5
    # within-only inequality: identical group means
    rows2 = [("a", 10.0), ("a", 40.0), ("b", 10.0), ("b", 40.0)]
    r2 = ops.theil_index(
        spark.createDataFrame(rows2, "g string, v double"),
        "v", "g").collect()[0]
    assert abs(r2["theil_between"]) < 1e-5
    assert r2["theil_within"] > 0.05
    # ungrouped: between/within NULL
    r3 = ops.theil_index(
        spark.createDataFrame(rows2, "g string, v double"),
        "v").collect()[0]
    assert r3["theil_between"] is None and r3["theil_within"] is None
    assert abs(r3["theil_total"] - (r2["theil_between"]
                                    + r2["theil_within"])) < 1e-5


# ---- expectation_failures_sample -------------------------------------------


def test_failures_sample_first_k_per_check(spark):
    rows = [(i, float(i), "ok" if i % 3 else "bad") for i in range(20)]
    df = spark.createDataFrame(rows, "id long, v double, st string")
    got = ops.expectation_failures_sample(
        df, {"v_small": "v < 10", "st_ok": "st = 'ok'"}, "id", k=3
    ).collect()
    by = {}
    for r in got:
        by.setdefault(r["check"], []).append(r["id"])
    # v >= 10 violates v_small: first three are 10, 11, 12
    assert by["v_small"] == [10, 11, 12]
    # st = 'bad' at multiples of 3: 0, 3, 6
    assert by["st_ok"] == [0, 3, 6]
    assert all(r["sample_rank"] <= 3 for r in got)
    with pytest.raises(ValueError):
        ops.expectation_failures_sample(df, {}, "id")


# ---- margin_scored_pairs ---------------------------------------------------


def test_margin_pairs_mutual_and_standout(spark):
    # a tight pair far from a background cloud: the pair is mutual and
    # stands out of its neighborhood -> highest margin
    pts = [(0, [1.0, 0.0]), (1, [0.999, 0.04]),
           (2, [0.0, 1.0]), (3, [0.1, 0.99]), (4, [0.2, 0.98]),
           (5, [0.3, 0.95])]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in pts],
        "vec_id long, embedding array<float>")
    got = ops.margin_scored_pairs(df, k=2, top=10).collect()
    assert got, "no mutual pairs found"
    for r in got:
        assert r["id_a"] < r["id_b"]
        assert r["margin"] > 0
    # (0, 1) is the isolated mutual pair with the standout cosine
    assert (got[0]["id_a"], got[0]["id_b"]) == (0, 1)
    margins = [r["margin"] for r in got]
    assert margins == sorted(margins, reverse=True)
    with pytest.raises(ValueError):
        ops.margin_scored_pairs(df, k=0)


# ---- ab_sample_size --------------------------------------------------------


def test_ab_sample_size_closed_form(spark):
    import math
    vals = [10.0, 12.0, 8.0, 11.0, 9.0, 10.0, 12.0, 8.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    r = ops.ab_sample_size(df, "v", mde_pct_micro=50_000).collect()[0]
    n = len(vals)
    mean = sum(vals) / n
    var = (sum(v * v for v in vals) - sum(vals) ** 2 / n) / (n - 1)
    z = 1.959964 + 0.841621
    delta = 0.05 * mean
    want = math.ceil(2 * z * z * var / (delta * delta))
    assert r["n_per_arm"] == want
    assert abs(r["mean"] - mean) < 1e-6
    # a smaller detectable lift needs (quadratically) more samples
    r2 = ops.ab_sample_size(df, "v", mde_pct_micro=25_000).collect()[0]
    assert 3.5 < r2["n_per_arm"] / r["n_per_arm"] < 4.5
    with pytest.raises(ValueError):
        ops.ab_sample_size(df, "v", mde_pct_micro=0)
