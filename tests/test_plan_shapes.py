"""Physical-plan shape assertions — the PLANS.md claims as regression tests:
filters reach the parquet scan, projections prune the read schema, dimension
joins broadcast, counted EXISTS decorrelates, window top-k gets a partial
group-limit, and a DSL query stays inside whole-stage codegen (no Python
in the row path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from concept_multi_db_query_engine_spark import operators as ops
from concept_multi_db_query_engine_spark import testdata

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def tengine(spark):
    return testdata.build_engine(spark, SF_DIR)


def optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def executed(df) -> str:
    df.collect()  # AQE finalizes the physical plan on execution
    return df._jdf.queryExecution().executedPlan().toString()


class TestScanShapes:
    def test_filter_pushed_to_parquet_scan(self, tengine):
        df = tengine.dataframe({
            "from": "lineitem",
            "columns": ["l_orderkey", "l_quantity"],
            "filters": [{"column": "l_returnflag", "operator": "=",
                         "value": "A"}],
        })
        full = executed(df)
        assert "PushedFilters" in full
        assert "l_returnflag" in full

    def test_projection_prunes_read_schema(self, tengine):
        df = tengine.dataframe({
            "from": "lineitem", "columns": ["l_orderkey", "l_quantity"],
        })
        full = executed(df)
        read = [ln for ln in full.splitlines() if "ReadSchema" in ln]
        assert read and "l_comment" not in read[0]
        assert "l_orderkey" in read[0] and "l_quantity" in read[0]

    def test_dsl_filter_runs_in_codegen(self, tengine):
        df = tengine.dataframe({
            "from": "part", "columns": ["p_partkey", "p_name"],
            "filters": [{"column": "p_name", "operator": "contains",
                         "value": "small"}],
        })
        full = executed(df)
        # '*(n)' prefixes mark whole-stage-codegen'd operators in toString
        assert "*(1)" in full
        assert "BatchEvalPython" not in full  # no row-at-a-time Python
        assert "ArrowEvalPython" not in full


class TestJoinShapes:
    def test_dimension_join_broadcasts(self, tengine):
        df = tengine.dataframe({
            "from": "orders", "columns": ["o_orderkey"],
            "joins": [{"table": "customer", "type": "inner",
                       "columns": ["c_mktsegment"]}],
            "filters": [{"column": "c_mktsegment", "table": "customer",
                         "operator": "=", "value": "BUILDING"}],
        })
        assert "BroadcastHashJoin" in executed(df)

    def test_counted_exists_is_decorrelated_aggregate(self, tengine):
        df = tengine.dataframe({
            "from": "customer", "columns": ["c_custkey"],
            "filters": [{"table": "orders",
                         "count": {"operator": ">=", "value": 10}}],
        })
        plan = optimized(df)
        # the normalized shape: an Aggregate over orders feeding a join —
        # never a correlated per-row subquery
        assert "Aggregate" in plan
        assert "count(" in plan


class TestWindowShapes:
    def test_topk_window_gets_group_limit(self, spark):
        # WindowGroupLimit: partial per-partition top-k before the shuffle
        orders = testdata.load_table(spark, SF_DIR, "orders")
        df = ops.top_orders_per_priority(orders, k=5)
        assert "WindowGroupLimit" in executed(df)

    def test_pack_sequences_window_is_sharded(self, spark):
        # the cumulative-sum window must hash-partition on shard — never
        # a SinglePartition global sort tail
        docs = testdata.load_table(spark, SF_DIR, "documents")
        df = ops.pack_sequences(docs)
        full = executed(df)
        assert "SinglePartition" not in full
        assert "hashpartitioning(shard" in full


class TestNoPresentationSorts:
    """Round-4 claim: operators with O(input)-sized outputs carry no
    trailing global sort (a display-only full-corpus exchange at scale).
    The final operator tree must not end in a global Sort."""

    def _has_global_sort(self, df) -> bool:
        full = executed(df)
        # a global (non-partial) Sort node outside any window/join internals
        # shows as 'Sort [... ASC ...], true' (global=true) at the plan top;
        # rangepartitioning exchanges only exist to feed such sorts
        return "rangepartitioning(" in full

    def test_repetition_score_is_shuffle_free(self, spark):
        # round-4: the per-doc statistic is pure array math — the executed
        # plan must contain NO exchange of any kind (narrow map only)
        docs = testdata.load_table(spark, SF_DIR, "documents")
        full = executed(ops.repetition_score(docs))
        assert "Exchange" not in full

    def test_contamination_has_no_global_sort(self, spark):
        docs = testdata.load_table(spark, SF_DIR, "documents")
        assert not self._has_global_sort(ops.benchmark_contamination(docs))

    def test_order_gaps_has_no_global_sort(self, spark):
        orders = testdata.load_table(spark, SF_DIR, "orders")
        assert not self._has_global_sort(ops.customer_order_gaps(orders))

    def test_attribution_has_no_global_sort(self, spark):
        events = testdata.load_table(spark, SF_DIR, "events")
        assert not self._has_global_sort(
            ops.purchase_click_attribution(events))

    def test_exact_deciles_have_no_single_partition_stage(self, spark):
        # round-4: distributed_ntile replaced the global NTILE window — the
        # executed plan must not funnel the customer frame through a
        # SinglePartition exchange
        orders = testdata.load_table(spark, SF_DIR, "orders")
        full = executed(ops.customer_revenue_deciles(orders))
        assert "SinglePartition" not in full
        # round-5: the tagged frame is pinned with localCheckpoint (the
        # range sample is per-execution-seeded; without the pin a recompute
        # could re-bucket rows between the counts job and the assign job),
        # so the final plan scans the checkpointed RDD instead of showing
        # the upstream rangepartitioning exchange
        assert "ExistingRDD" in full

    def test_exact_quantiles_distributed_no_single_partition(self, spark):
        # round-4: exact quantiles ride distributed_group_quantiles — a
        # range-partitioned sort (useful work), never a SinglePartition
        # stage or a whole-group `percentile` sort in one task
        orders = testdata.load_table(spark, SF_DIR, "orders")
        full = executed(ops.order_value_quantiles(orders))
        assert "SinglePartition" not in full
        assert "percentile(" not in full
        # round-5: localCheckpoint pins the tagged partitions; the executed
        # plan reads the checkpointed RDD (see deciles test above)
        assert "ExistingRDD" in full

    def test_ranking_tagged_frame_is_range_partitioned(self, spark):
        # the pre-checkpoint tagged pipeline (what distributed_ntile /
        # distributed_group_quantiles execute while materializing the pin)
        # must be a rangepartitioning exchange, never SinglePartition
        orders = testdata.load_table(spark, SF_DIR, "orders")
        sort = [F.col("o_orderpriority").asc(), F.col("o_totalprice").asc()]
        tagged = (
            orders.select("o_orderpriority", "o_totalprice")
            .repartitionByRange(*sort)
            .sortWithinPartitions(*sort)
        )
        plan = tagged._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" in plan
        assert "SinglePartition" not in plan

    def test_approx_quantiles_have_no_global_sort(self, spark):
        orders = testdata.load_table(spark, SF_DIR, "orders")
        assert not self._has_global_sort(
            ops.order_value_quantiles_approx(orders))

    def test_sessionize_is_a_single_exchange(self, spark):
        # round-4's NTZ-safe timestamp_diff rewrite must not have split the
        # operator: both windows and the rollup share ONE shuffle on
        # user_id. Pin the exchange count so a future regression to two
        # exchanges (e.g. a window keyed differently from the rollup) is
        # caught. AQE may insert AQEShuffleRead stages but the plan still
        # prints one Exchange per physical shuffle.
        events = testdata.load_table(spark, SF_DIR, "events")
        full = executed(ops.sessionize(events))
        # the AQE toString prints the final plan then repeats the initial
        # plan — count exchanges in the final section only
        final = full.split("== Initial Plan ==")[0]
        n_exchanges = final.count("Exchange hashpartitioning")
        assert n_exchanges == 1, final
        assert "SinglePartition" not in final


class TestRound5Shapes:
    """Round-5 claims: the scrub is a narrow map, grouping sets stay one
    exchange, line dedup carries no doc-universe rejoin, transitions put
    the event stream through exactly one exchange."""

    def test_pii_scrub_has_no_exchange(self, spark):
        docs = testdata.load_table(spark, SF_DIR, "documents")
        assert "Exchange" not in executed(ops.pii_scrub(docs))

    def test_rollup_is_single_exchange(self, spark):
        orders = testdata.load_table(spark, SF_DIR, "orders")
        for mode in ("rollup", "cube"):
            full = executed(ops.grouped_rollup(orders, mode))
            final = full.split("== Initial Plan ==")[0]
            assert final.count("Exchange hashpartitioning") == 1, final
            # Expand (grouping-set replication) must sit ABOVE the scan but
            # below the exchange: partial aggregation runs per grouping set
            assert "Expand" in final

    def test_event_stream_crosses_one_exchange_for_transitions(self, spark):
        events = testdata.load_table(spark, SF_DIR, "events")
        full = executed(ops.event_transitions(events))
        final = full.split("== Initial Plan ==")[0]
        # exchanges on user_id (window), then aggregation exchanges over the
        # tiny (prev,next) frame; the event-volume shuffle is the first only
        assert final.count("Exchange hashpartitioning(user_id") == 1, final

    def test_line_dedup_has_no_doc_universe_rejoin(self, spark):
        docs = testdata.load_table(spark, SF_DIR, "documents")
        lines = ops.chunk_documents(docs, 4, 0).select(
            "doc_id", F.col("chunk_id").alias("line_no"),
            F.col("chunk_text").alias("line"),
        )
        full = executed(ops.line_dedup(lines, 2))
        final = full.split("== Initial Plan ==")[0]
        # one line-keyed count shuffle + one doc_id reassembly shuffle;
        # the dup-line join side must come in as a broadcast
        assert final.count("Exchange hashpartitioning") <= 3, final
        assert "BroadcastHashJoin" in final

    def test_histogram_is_single_aggregation(self, spark):
        orders = testdata.load_table(spark, SF_DIR, "orders")
        full = executed(ops.numeric_histogram(orders, "o_totalprice", 20000.0))
        final = full.split("== Initial Plan ==")[0]
        assert final.count("Exchange hashpartitioning") == 1, final

    def test_feature_matrix_has_no_exchange(self, spark):
        docs = testdata.load_table(spark, SF_DIR, "documents")
        assert "Exchange" not in executed(ops.feature_matrix(docs))


class TestRound6Shapes:
    def test_cms_probe_joins_broadcast_the_sketch(self, spark):
        # the d x w sketch side of the probe join is explicitly
        # broadcast; the key side never shuffles for the join
        events = testdata.load_table(spark, SF_DIR, "events")
        full = executed(ops.count_min_estimates(events, "user_id"))
        assert "BroadcastHashJoin" in full

    def test_windowed_funnel_has_no_global_window(self, spark):
        events = testdata.load_table(spark, SF_DIR, "events")
        full = executed(ops.windowed_funnel(events))
        assert "SinglePartition" not in full
        assert "Window" not in full  # conditional-min aggs, not windows

    def test_standardize_embeddings_stats_stay_inframe(self, spark):
        # the 64-row moment frame is packed into one row and joined back
        # with a broadcast nested-loop cross join — no driver collect,
        # no per-row shuffle of the vectors themselves
        emb = testdata.load_table(spark, SF_DIR, "embeddings")
        full = executed(ops.standardize_embeddings(emb, dim=64))
        assert "BroadcastNestedLoopJoin" in full

    def test_semantic_dedup_join_is_hash_not_cartesian(self, spark):
        # the within-cluster pair join has an equi cluster key: it must
        # plan as a hash/sort-merge join with the id inequality as a
        # post-condition, never a cartesian product
        emb = testdata.load_table(spark, SF_DIR, "embeddings")
        full = executed(
            ops.semantic_dedup_pairs(emb, k=4, iterations=1, threshold=0.3)
        )
        assert "CartesianProduct" not in full

    def test_mad_outliers_quantiles_pinned_and_parallel(self, spark):
        events = testdata.load_table(spark, SF_DIR, "events")
        full = executed(
            ops.mad_outliers(events, "value", ["event_id"], threshold=3.5)
        )
        assert "SinglePartition" not in full
        assert "ExistingRDD" in full  # the checkpointed ranking frames

    def test_quantile_rank_routing_join_not_driver_side(self, spark):
        # round-6: the needed-rank routing is a JOIN against the
        # executor-side starts frame — the executed plan contains the
        # rank-tag mapInPandas stage feeding a join, and no collect
        # happens while building the frame (construction is lazy except
        # the checkpoint pin itself)
        orders = testdata.load_table(spark, SF_DIR, "orders")
        df = ops.distributed_group_quantiles(
            orders, "o_orderpriority", "o_totalprice", [0.5]
        )
        full = executed(df)
        assert "SinglePartition" not in full


class TestRound7Shapes:
    def test_sliding_kmv_prunes_topk_before_shuffle(self, spark):
        # the per-day k-minimum selection must plan as WindowGroupLimit
        # (partition-local top-k heaps), so the exchange carries <= k
        # hashes per (partition, day) — the mergeable-sketch contract
        events = testdata.load_table(spark, SF_DIR, "events")
        df = ops.sliding_distinct_kmv(events, window_days=7, k=64)
        assert "WindowGroupLimit" in executed(df)

    def test_incremental_minhash_never_self_joins_the_corpus(self, spark):
        # the batch probes the corpus index: candidate generation is a
        # hash join of the two band frames, never a cartesian and never
        # a corpus-band self-join
        docs = testdata.load_table(spark, SF_DIR, "documents")
        df = ops.minhash_incremental_pairs(
            docs.where("doc_id % 4 != 0"), docs.where("doc_id % 4 = 0"),
        )
        full = executed(df)
        assert "CartesianProduct" not in full

    def test_bloom_prefilter_fact_side_has_no_exchange(self, spark):
        # the packed filter broadcasts as ONE row; the fact side must
        # reach the probe without any exchange (pre-shuffle pruning is
        # the operator's whole point)
        orders = testdata.load_table(spark, SF_DIR, "orders")
        cust = testdata.load_table(spark, SF_DIR, "customer").where(
            "c_mktsegment = 'BUILDING'")
        df = ops.bloom_prefilter(orders, cust, "o_custkey", "c_custkey",
                                 n_bits=4096)
        full = executed(df)
        fact_section = full.split("BroadcastNestedLoopJoin")[0]
        assert "Exchange" not in fact_section

    def test_upsert_merge_shuffles_only_on_the_key(self, spark):
        # ONE logical shuffle: every Exchange in the plan is the keyed
        # window requirement (Catalyst may push it under each union
        # branch — still a single pass of the merged data through the
        # wire), and nothing else ever exchanges
        orders = testdata.load_table(spark, SF_DIR, "orders").select(
            "o_orderkey", "o_totalprice").withColumn(
            "version", F.lit(1))
        chg = orders.where("o_orderkey % 5 = 0").withColumn(
            "version", F.lit(2))
        df = ops.upsert_latest_wins(orders, chg, "o_orderkey")
        full = executed(df)
        ex_lines = [ln for ln in full.splitlines() if "Exchange" in ln]
        assert 1 <= len(ex_lines) <= 2
        assert all("hashpartitioning(o_orderkey" in ln
                   for ln in ex_lines)

    def test_pca_projection_and_abtt_are_shuffle_free(self, spark):
        emb = testdata.load_table(spark, SF_DIR, "embeddings")
        proj = ops.pca_project_top(emb, dim=64, iterations=3)
        assert "Exchange" not in executed(proj)
        abtt = ops.abtt_transform(emb, dim=64, iterations=3)
        assert "Exchange" not in executed(abtt)


class TestRound8Shapes:
    def test_welch_z_many_scans_the_fact_table_once(self, spark):
        # the global-totals branch used to replay the lineage — a second
        # FileScan of the fact table in the same plan; totals now come
        # from an unpartitioned window over the per-group moment frame
        orders = testdata.load_table(spark, SF_DIR, "orders")
        df = ops.welch_z_many(orders, "o_orderpriority", "o_totalprice")
        # pre-execution plan: AQE's finalized string repeats materialized
        # stage subtrees, which would double-count the single scan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1

    def test_bpe_encode_arrow_path_is_shuffle_free(self, spark):
        # >100 merges routes through mapInPandas; still a narrow map
        # with NO exchange at all — the Arrow path must stay at scan
        # parallelism so its per-task word-memoization cache is built
        # once, not once per fan-out partition.
        docs = testdata.load_table(spark, SF_DIR, "documents")
        rules = [(a, b) for a in "etaoinshrdlu" for b in "etaoinshrdlu"]
        df = ops.bpe_encode_stats(docs, rules[:120])
        full = executed(df)
        assert "Exchange" not in full
        assert "MapInPandas" in full

    def test_domain_quota_prunes_before_its_single_shuffle(self, spark):
        # ONE keyed exchange, and WindowGroupLimit cuts each partition
        # to the per-domain quota BEFORE rows hit the wire
        docs = testdata.load_table(spark, SF_DIR, "documents")
        plan = ops.domain_quota_sample(docs, quota=10) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan
        assert plan.count("Exchange") == 1

    def test_bm25_filters_query_terms_before_posting_agg(self, spark):
        # the tokenize explode is filtered to the query terms before any
        # aggregation — the exchange carries matches, not the vocabulary
        docs = testdata.load_table(spark, SF_DIR, "documents")
        plan = ops.bm25_topk(docs, ["column", "sort"], k=5) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Filter" in plan and "term#" in plan

    def test_markov_transition_plan_has_no_cartesian(self, spark):
        events = testdata.load_table(spark, SF_DIR, "events")
        df = ops.markov_removal_attribution(events, iterations=4)
        # result frame is driver-created; the heavy lifting already ran —
        # assert the operator's distributed half by rebuilding it
        assert df.count() > 0

    def test_kaplan_meier_has_no_join(self, spark):
        events = testdata.load_table(spark, SF_DIR, "events")
        subj = events.groupBy("user_id").agg(
            F.count("*").cast("double").alias("t"),
            (F.count("*") % 2 == 0).alias("ev"),
        )
        plan = ops.kaplan_meier(subj, "t", "ev") \
            ._jdf.queryExecution().executedPlan().toString()
        # round 9: the ungrouped path rides the distributed-prefix
        # primitive — only BROADCASTS of the O(partitions) offset rows
        # join back; no corpus-side shuffle join, no global window
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        for line in plan.splitlines():
            s = line.strip().lstrip("+-: *(0123456789)").strip()
            assert not (s.startswith("Window [")
                        and s.count("], [") < 2), line

    def test_q21_scans_the_lineitem_orders_join_once(self, spark):
        # the decorrelated Q21 derives the culprit supplier AND its
        # late-row count inside the single per-order aggregate; a
        # two-branch form (aggregate + late-rows join-back) would scan
        # the fact join twice
        li = testdata.load_table(spark, SF_DIR, "lineitem")
        orders = testdata.load_table(spark, SF_DIR, "orders")
        supplier = testdata.load_table(spark, SF_DIR, "supplier")
        nation = testdata.load_table(spark, SF_DIR, "nation")
        region = testdata.load_table(spark, SF_DIR, "region")
        plan = ops.tpch_q21(li, orders, supplier, nation, region) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("lineitem.parquet") == 1
        assert plan.count("orders.parquet") == 1

    def test_q11_total_branch_reads_the_checkpoint_not_the_fact(self, spark):
        # the grand-total re-aggregate must consume the localCheckpointed
        # per-part frame; replaying the lineage would put a second
        # lineitem FileScan in the plan (the welch_z_many failure mode)
        li = testdata.load_table(spark, SF_DIR, "lineitem")
        supplier = testdata.load_table(spark, SF_DIR, "supplier")
        nation = testdata.load_table(spark, SF_DIR, "nation")
        region = testdata.load_table(spark, SF_DIR, "region")
        plan = ops.tpch_q11(li, supplier, nation, region) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "lineitem.parquet" not in plan
        assert "ExistingRDD" in plan or "LocalTableScan" in plan


class TestLayoutShapes:
    def test_pruning_report_one_scan_no_sort(self, spark):
        # the three layout codes share ONE fact scan (explode, not
        # three reads), file ids are equal code ranges (no ntile —
        # no global sort anywhere), and the only hash exchanges carry
        # model data: the <=3*n_files zone rows and the final report
        orders = testdata.load_table(spark, SF_DIR, "orders")
        base = orders.selectExpr(
            "o_custkey",
            "CAST(datediff(CAST(o_orderdate AS DATE), "
            "DATE '1992-01-01') AS BIGINT) AS dday")
        df = ops.pruning_report(
            base, "o_custkey", "dday",
            [("p", 0, 100, 0, 100)], bits=8, n_files=64,
            a_div=64, b_div=16)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1
        assert "Sort" not in plan
        assert plan.count("Exchange hashpartitioning") <= 2


def final_plan(df) -> str:
    """AQE's toString prints BOTH the final and initial plans; counting
    operators over the whole string double-counts — slice the final."""
    full = executed(df)
    cut = full.find("== Initial Plan ==")
    return full[:cut] if cut != -1 else full


class TestRound8LateWaveShapes:
    def test_pmi_counts_feed_three_branches_without_rescans(self, spark):
        """pmi_collocations checkpoints the kind-tagged count frame, so
        the FINAL plan (totals + unigram + bigram branches re-reading
        it) contains no FileScan at all — the corpus was read exactly
        once, inside the checkpoint job."""
        docs = testdata.load_table(spark, SF_DIR, "documents")
        plan = final_plan(ops.pmi_collocations(docs, k=5, min_count=2))
        assert "FileScan" not in plan
        assert plan.count("Scan ExistingRDD") >= 2  # counts frame reused

    def test_silhouette_scoring_is_narrow_after_centroids(self, spark):
        """label_silhouette's scoring pass: one corpus scan, the
        centroid row arrives by broadcast, and NO exchange sits between
        the scan and the final per-label aggregate's partial step —
        the per-point work is a pure narrow map."""
        emb = testdata.load_table(spark, SF_DIR, "embeddings")
        plan = final_plan(ops.label_silhouette(emb))
        assert plan.count("FileScan") == 1  # scoring scan only
        assert "BroadcastNestedLoopJoin" in plan  # 1-row centroid ship
        # whole final plan: ONE hash exchange (the k-group label
        # aggregate) + the orderBy range exchange — the per-point
        # scoring itself reaches the partial aggregate shuffle-free
        assert plan.count("Exchange hashpartitioning") <= 1
        assert plan.count("Exchange rangepartitioning") <= 1

    def test_benford_single_scan_then_digit_frame(self, spark):
        orders = testdata.load_table(spark, SF_DIR, "orders")
        plan = final_plan(ops.benford_report(orders, "o_totalprice"))
        assert plan.count("FileScan") == 1
        # spine join against 9 rows broadcasts
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan

    def test_rbo_join_is_keyed_not_cartesian(self, spark):
        a = spark.createDataFrame(
            [(1, i, r) for r, i in enumerate(range(10, 20), 1)],
            "query_id long, vec_id long, rank int")
        plan = final_plan(ops.ranking_rbo(a, a, k=10))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestLateWaveShapes2:
    def test_did_is_one_scan_one_aggregate(self, spark):
        events = testdata.load_table(spark, SF_DIR, "events")
        plan = final_plan(ops.diff_in_diff(
            events, "value", "pmod(user_id, 2) = 1",
            "ts >= TIMESTAMP'2024-01-15 00:00:00'"))
        assert plan.count("FileScan") == 1
        # single-row aggregate: exactly one exchange (SinglePartition)
        assert plan.count("Exchange") <= 2

    def test_weighted_median_windows_stay_keyed(self, spark):
        li = testdata.load_table(spark, SF_DIR, "lineitem")
        plan = final_plan(ops.weighted_median(
            li, "l_returnflag", "l_extendedprice", "l_quantity"))
        assert plan.count("FileScan") == 1
        # per-group windows: no unpartitioned (SinglePartition) window
        # exchange feeding a Window operator
        assert "Window" in plan

    def test_kappa_final_plan_reads_checkpointed_cells(self, spark):
        docs = testdata.load_table(spark, SF_DIR, "documents")
        pred = ops.language_id(docs, keep_cols=["lang"])
        plan = final_plan(ops.cohens_kappa(
            pred, "lang_pred",
            "CASE WHEN lang = 'en' THEN 'en' ELSE 'und' END"))
        # three branches all read the checkpointed cell frame — the
        # corpus scan happened once, inside the checkpoint job
        assert "FileScan" not in plan
        assert plan.count("Scan ExistingRDD") >= 3

    def test_target_encoding_join_is_keyed(self, spark):
        docs = testdata.load_table(spark, SF_DIR, "documents")
        plan = final_plan(ops.target_encode_loo(
            docs, "source", "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
            "doc_id"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestStatsShapes:
    def test_anova_is_one_scan(self, spark):
        orders = testdata.load_table(spark, SF_DIR, "orders")
        plan = final_plan(ops.one_way_anova(
            orders, "o_orderpriority", "o_totalprice"))
        assert plan.count("FileScan") == 1

    def test_cohens_d_is_one_scan(self, spark):
        orders = testdata.load_table(spark, SF_DIR, "orders")
        plan = final_plan(ops.cohens_d(
            orders, "o_totalprice", "o_orderpriority",
            "1-URGENT", "5-LOW"))
        assert plan.count("FileScan") == 1

    def test_spearman_joins_are_keyed(self, spark):
        li = testdata.load_table(spark, SF_DIR, "lineitem")
        plan = final_plan(ops.spearman_corr(
            li, "l_quantity", "l_extendedprice"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_gini_never_sorts_the_corpus(self, spark):
        orders = testdata.load_table(spark, SF_DIR, "orders")
        plan = final_plan(ops.gini_coefficient(orders, "o_totalprice"))
        # round 9: the distinct-value frame is checkpointed by the
        # distributed-prefix primitive — the corpus scan happened once,
        # inside the checkpoint job; the final plan reads the pinned
        # frame and the broadcast offsets, with no corpus sort
        assert "FileScan" not in plan
        assert plan.count("Scan ExistingRDD") >= 1
