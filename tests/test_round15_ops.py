"""Round-15 optimization-round regression tests: the trainer
checkpoint-barrier restructure (filter-pushdown re-expansion fix), the
known_groups loud-validation flag, and the feature_auc degenerate-count
contract."""

from __future__ import annotations

import pytest

from concept_multi_db_query_engine_spark import operators as ops
from concept_multi_db_query_engine_spark.operators import stats


class TestTrainerCheckpointBarrier:
    def test_hof_features_evaluated_once_in_pinned_plan(self, spark):
        # an expensive HOF-pipeline feature must appear exactly once in
        # the optimized plan of the frame the trainer checkpoints — the
        # r14 shape (filter below the checkpoint) re-expanded it once
        # per null check via alias-substituting predicate pushdown
        from pyspark.sql import functions as F
        from concept_multi_db_query_engine_spark.operators._scaleout import (
            fan_out,
        )

        docs = spark.createDataFrame(
            [(1, "a b a", "en"), (2, "b b c", "de"), (3, "a c c", "en")],
            "doc_id long, text string, lang string")
        frame, feats = ops.hashed_ngram_features(
            docs, n_buckets=4, salt="t", include_bigrams=False)
        cols = [f"__f{j}" for j in range(1, len(feats) + 1)]
        proj = fan_out(frame).select(
            F.expr("CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END "
                   "AS DOUBLE)").alias("__y"),
            *[F.expr(fx).alias(c) for c, fx in zip(cols, feats)])
        plan = proj._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("md5") <= 2, plan  # once (+1 possible alias echo)
        # and the OLD shape really does re-expand (pin the diagnosis)
        filt = proj.where(" AND ".join(
            ["__y IS NOT NULL"] + [f"{c} IS NOT NULL" for c in cols]))
        plan_old = filt._jdf.queryExecution().optimizedPlan().toString()
        assert plan_old.count("md5") > 2, plan_old

    def test_logistic_weights_unchanged_by_restructure(self, spark):
        # exact replay vs a per-row Python reference on a hand frame
        rows = [(1, 1.0, 0.25), (2, 0.0, 0.75), (3, 1.0, 0.5),
                (4, 0.0, 1.0), (5, 1.0, 0.0), (6, None, 0.5),
                (7, 1.0, None)]
        df = spark.createDataFrame(rows, "id long, y double, f double")
        w = ops.logistic_train(df, ["f"], "y", lr=2.0, iterations=5)

        def sig(z):
            return 0.5 + z / (2.0 * (1.0 + abs(z)))

        data = [(y, f) for _, y, f in rows if y is not None and f is not None]
        ref = [0.0, 0.0]
        for _ in range(5):
            n = len(data)
            s0 = sum(int(round((y - sig(ref[0] + ref[1] * f)) * 1e6))
                     for y, f in data)
            s1 = sum(int(round(((y - sig(ref[0] + ref[1] * f)) * f) * 1e6))
                     for y, f in data)
            ref[0] = ref[0] + 2.0 * ((s0 / 1e6) / n)
            ref[1] = ref[1] + 2.0 * ((s1 / 1e6) / n)
        assert w == pytest.approx(ref, abs=0.0)

    def test_quantile_regression_weights_replay(self, spark):
        rows = [(1.0, 10.0), (2.0, 20.0), (3.0, 15.0), (4.0, 40.0),
                (None, 1.0), (5.0, None)]
        df = spark.createDataFrame(rows, "x double, y double")
        w = ops.quantile_regression_train(
            df, ["x"], "y", tau=0.5, lr=1.0, iterations=4)
        data = [(x, y) for x, y in rows if x is not None and y is not None]
        ref = [0.0, 0.0]
        for _ in range(4):
            n = len(data)
            gs = [(0.5 - (1.0 if y < ref[0] + ref[1] * x else 0.0), x)
                  for x, y in data]
            s0 = sum(int(round(g * 1e6)) for g, _ in gs)
            s1 = sum(int(round((g * x) * 1e6)) for g, x in gs)
            ref[0] = ref[0] + 1.0 * ((s0 / 1e6) / n)
            ref[1] = ref[1] + 1.0 * ((s1 / 1e6) / n)
        assert w == pytest.approx(ref, abs=0.0)


class TestKnownGroupsValidation:
    def test_incomplete_enum_raises_when_flag_set(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 1.5),
             ("c", 2.5), ("c", 0.5)],
            "g string, v double")
        # complete enum: fine with and without the flag
        ops.dunns_test(df, "g", "v", known_groups=["a", "b", "c"]).collect()
        stats.VALIDATE_KNOWN_GROUPS = True
        try:
            ops.dunns_test(
                df, "g", "v", known_groups=["a", "b", "c"]).collect()
            with pytest.raises(ValueError, match="incomplete"):
                ops.dunns_test(df, "g", "v", known_groups=["a", "b"])
        finally:
            stats.VALIDATE_KNOWN_GROUPS = False

    def test_bradley_terry_incomplete_enum_raises(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0), ("b", 3.0), ("c", 2.5), ("a", 2.0),
             ("b", 0.5), ("c", 1.5)],
            "g string, v double")
        stats.VALIDATE_KNOWN_GROUPS = True
        try:
            with pytest.raises(ValueError, match="incomplete"):
                ops.bradley_terry(df, "g", "v", known_groups=["a", "b"])
        finally:
            stats.VALIDATE_KNOWN_GROUPS = False


class TestFeatureAucDegenerate:
    def test_all_null_feature_counts_are_zero(self, spark):
        df = spark.createDataFrame(
            [(1, 1, 0.2, None), (2, 0, 0.4, None), (3, 1, 0.9, None)],
            "id long, y int, f_ok double, f_null double")
        out = {r["feature"]: r for r in ops.feature_auc_report(
            df, ["f_ok", "f_null"], "y",
            names=["f_ok", "f_null"]).collect()}
        assert out["f_null"]["n_neg"] == 0
        assert out["f_null"]["n_pos"] == 0
        assert out["f_null"]["auc"] is None
        assert out["f_ok"]["n_neg"] == 1
        assert out["f_ok"]["n_pos"] == 2


class TestQuantileSmallFrameFastPath:
    def _frame(self, spark, seed=7):
        import random

        rnd = random.Random(seed)
        rows = [(g, round(rnd.uniform(-50, 50), 6))
                for g in ("a", "b", "c") for _ in range(rnd.randint(37, 211))]
        return spark.createDataFrame(rows, "g string, v double")

    def test_fast_path_matches_machinery_exactly(self, spark):
        # same groups, same probs: the percentile fast path must agree
        # with the rank-routing machinery to the last bit (identical
        # pos = p*(n-1) floor/ceil interpolation)
        df = self._frame(spark)
        probs = [0.1, 0.5, 0.9, 0.99]
        slow = {r["g"]: tuple(r[f"q{i}"] for i in range(len(probs)))
                for r in ops.distributed_group_quantiles(
                    df, "g", "v", probs).collect()}
        fast = {r["g"]: tuple(r[f"q{i}"] for i in range(len(probs)))
                for r in ops.distributed_group_quantiles(
                    df, "g", "v", probs, max_rows=1000).collect()}
        assert slow == fast

    def test_fast_path_matches_unrounded(self, spark):
        df = self._frame(spark, seed=13)
        slow = {r["g"]: r["q0"] for r in ops.distributed_group_quantiles(
            df, "g", "v", [0.37], round_to=None).collect()}
        fast = {r["g"]: r["q0"] for r in ops.distributed_group_quantiles(
            df, "g", "v", [0.37], round_to=None, max_rows=1000).collect()}
        assert slow == fast  # bit-exact, unrounded doubles

    def test_fast_path_plan_has_no_python_boundary(self, spark):
        df = self._frame(spark)
        fast = ops.distributed_group_quantiles(
            df, "g", "v", [0.5], max_rows=1000)
        plan = fast._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan
        assert "mapInPandas" not in plan

    def test_bound_above_ceiling_keeps_machinery(self, spark):
        from concept_multi_db_query_engine_spark.operators import analytics

        df = self._frame(spark)
        slow = ops.distributed_group_quantiles(
            df, "g", "v", [0.5],
            max_rows=analytics.SMALL_FRAME_MAX_ROWS + 1)
        plan = slow._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan or "mapInPandas" in plan
