"""Edge-case unit tests for the extended analytics operators (as-of join,
sessionization, props rollup) on tiny hand-built frames — the oracle-parity
suite covers the realistic distributions; these pin boundary semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from concept_multi_db_query_engine_spark import operators as ops


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 12, minute, second)


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "L1"), (1, _ts(30), "L2"), (2, _ts(5), "L3")],
        "k long, ts timestamp, who string",
    )
    right = spark.createDataFrame(
        [(1, _ts(10), "R@10"), (1, _ts(20), "R@20"), (1, _ts(40), "R@40")],
        "k long, ts timestamp, tag string",
    )
    out = {
        r["who"]: r["asof_tag"]
        for r in ops.asof_join(left, right, "k", "ts", ["tag"]).collect()
    }
    # equal timestamps are inclusive (L1 sees R@10); L2 sees R@20 not R@40;
    # key 2 has no right rows at all -> NULL
    assert out == {"L1": "R@10", "L2": "R@20", "L3": None}


def test_asof_join_no_earlier_right_row_is_null(spark):
    left = spark.createDataFrame(
        [(1, _ts(1), "early")], "k long, ts timestamp, who string"
    )
    right = spark.createDataFrame(
        [(1, _ts(2), "later")], "k long, ts timestamp, tag string"
    )
    rows = ops.asof_join(left, right, "k", "ts", ["tag"]).collect()
    assert rows[0]["asof_tag"] is None


def test_sessionize_boundaries(spark):
    # user 1: events at 12:00, 12:10, 13:00 with 30-min gap -> 2 sessions
    events = spark.createDataFrame(
        [
            (1, _ts(0), 1, "a", 1.0, "{}"),
            (2, _ts(10), 1, "b", 2.0, "{}"),
            (3, dt.datetime(2024, 1, 1, 13, 0), 1, "a", 3.0, "{}"),
            (4, _ts(59), 2, "a", 5.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    rows = sorted(
        (r["user_id"], r["n_events"], r["sum_value"])
        for r in ops.sessionize(events, gap_minutes=30).collect()
    )
    assert rows == [(1, 1, 3.0), (1, 2, 3.0), (2, 1, 5.0)]


def test_sessionize_gap_is_strict(spark):
    # exactly 30:00 apart -> same session (strictly-greater starts new)
    events = spark.createDataFrame(
        [(1, _ts(0), 1, "a", 1.0, "{}"), (2, _ts(30), 1, "a", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    rows = ops.sessionize(events, gap_minutes=30).collect()
    assert len(rows) == 1 and rows[0]["n_events"] == 2


def test_props_rollup_null_and_malformed_json(spark):
    events = spark.createDataFrame(
        [
            (1, _ts(0), 1, "a", 0.0, '{"k": 5}'),
            (2, _ts(1), 1, "a", 0.0, None),
            (3, _ts(2), 1, "a", 0.0, "not-json"),
            (4, _ts(3), 1, "a", 0.0, '{"k": 7}'),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    row = ops.props_rollup(events).collect()[0]
    # count(*) counts all rows; sum/min/max/avg skip unparseable -> NULL ks
    assert row["n"] == 4
    assert row["sum_k"] == 12
    assert row["avg_k"] == 6.0


def test_quantiles_approx_within_band_of_exact(spark):
    """Verdict item: the approx (100 TB) quantile variant must track the
    exact one — discrete GK quantiles sit within one element of the
    interpolated exact quantile, so a 5% relative band is generous."""
    import random

    rng = random.Random(7)
    rows = [(f"{i % 3}-PRI", float(rng.randint(1, 100000)))
            for i in range(3000)]
    orders = spark.createDataFrame(
        rows, "o_orderpriority string, o_totalprice double"
    )
    exact = {r["o_orderpriority"]: r
             for r in ops.order_value_quantiles(orders).collect()}
    approx = {r["o_orderpriority"]: r
              for r in ops.order_value_quantiles_approx(orders).collect()}
    assert exact.keys() == approx.keys()
    for k in exact:
        assert exact[k]["n"] == approx[k]["n"]
        for p in ("p50", "p90", "p99"):
            assert abs(approx[k][p] - exact[k][p]) <= 0.05 * exact[k][p] + 1


def test_deciles_approx_matches_exact_shape(spark):
    """Approx decile buckets: every decile present, counts within 2% of
    n/10 each (exact NTILE gives ceil/floor(n/10)), totals conserved."""
    import random

    rng = random.Random(11)
    rows = [(i, float(rng.randint(1, 500000)) / 100) for i in range(5000)]
    orders = spark.createDataFrame(rows, "o_custkey long, o_totalprice double")
    out = ops.customer_revenue_deciles_approx(orders).collect()
    assert [r["decile"] for r in out] == list(range(1, 11))
    n = sum(r["numcust"] for r in out)
    assert n == 5000
    for r in out:
        assert abs(r["numcust"] - n / 10) <= 0.02 * n / 10 + 2
    # decile 1 holds the top revenues: min of decile 1 >= min of decile 2
    mins = [r["min_revenue"] for r in out]
    assert all(mins[i] >= mins[i + 1] for i in range(9))


def test_chunk_documents_short_doc_single_chunk(spark):
    from concept_multi_db_query_engine_spark import operators as ops

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    rows = ops.chunk_documents(docs, chunk_tokens=8, overlap=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["chunk_id"], r["start_tok"], r["end_tok"], r["n_tok"]) == (
        0, 0, 3, 3)
    assert r["chunk_text"] == "a b c"


def test_chunk_documents_overlap_and_coverage(spark):
    from concept_multi_db_query_engine_spark import operators as ops

    words = [f"w{i}" for i in range(25)]
    docs = spark.createDataFrame(
        [(7, " ".join(words))], "doc_id long, text string")
    rows = sorted(
        ops.chunk_documents(docs, chunk_tokens=10, overlap=4).collect(),
        key=lambda r: r["chunk_id"],
    )
    # stride 6: starts 0, 6, 12, 18, 24; start 24 has prev end 24+4=28 >= 25
    # -> dropped? prev end = s + overlap = 24 + 4 = 28 >= 25 -> dropped
    assert [r["start_tok"] for r in rows] == [0, 6, 12, 18]
    # consecutive chunks overlap by exactly `overlap` tokens until the tail
    for a, b in zip(rows, rows[1:]):
        assert b["start_tok"] == a["start_tok"] + 6
        assert a["end_tok"] - b["start_tok"] == 4  # exactly `overlap` shared
    # every token is covered
    covered = set()
    for r in rows:
        covered.update(range(r["start_tok"], r["end_tok"]))
    assert covered == set(range(25))
    # chunk text round-trips the token slice
    assert rows[1]["chunk_text"] == " ".join(words[6:16])


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from concept_multi_db_query_engine_spark import operators as ops

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        ops.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_hourly_anomaly_flags_spike_and_cold_start(spark):
    import datetime as dt

    from concept_multi_db_query_engine_spark import operators as ops

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 10 constant hours (10/h), 20 alternating hours (9/11), then a
    # 100-event spike hour
    for h in range(31):
        if h == 30:
            n = 100
        elif h < 10:
            n = 10
        else:
            n = 9 if h % 2 else 11
        for i in range(n):
            eid += 1
            rows.append((eid, base + dt.timedelta(hours=h), 1, "click",
                         1.0, "{}"))
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = {r["hour"].hour + 24 * (r["hour"].day - 1): r
           for r in ops.hourly_anomaly(events).collect()}
    # cold start: fewer than min_hours trailing points -> NULL z
    assert out[0]["z"] is None and out[3]["z"] is None
    # constant trail: zero variance -> NULL z (not a division blow-up)
    assert out[9]["z"] is None
    # the spike hour scores against a ~10-per-hour trail with real variance
    spike = out[30]
    assert spike["n"] == 100 and abs(spike["trail_mean"] - 10.0) < 0.2
    assert spike["z"] is not None and spike["z"] > 5


def test_hash_split_fractions_and_determinism(spark):
    from concept_multi_db_query_engine_spark import operators as ops

    docs = spark.range(20000).select(F.col("id").alias("doc_id"))
    out = ops.hash_split(docs, train=0.9, val=0.05).collect()
    counts = {}
    for r in out:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 20000 - 0.9) < 0.01
    assert abs(counts["val"] / 20000 - 0.05) < 0.005
    # re-running yields the identical assignment (no RNG anywhere)
    again = {r["doc_id"]: r["split"]
             for r in ops.hash_split(docs, train=0.9, val=0.05).collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in out)
    # a different salt re-rolls the split
    other = {r["doc_id"]: r["split"]
             for r in ops.hash_split(docs, salt="v2").collect()}
    assert any(other[r["doc_id"]] != r["split"] for r in out)


def test_hash_split_rejects_bad_fractions(spark):
    import pytest as _pytest

    from concept_multi_db_query_engine_spark import operators as ops

    docs = spark.range(5).select(F.col("id").alias("doc_id"))
    with _pytest.raises(ValueError):
        ops.hash_split(docs, train=0.99, val=0.05)


def test_distributed_quantiles_match_percentile_aggregate(spark):
    """distributed_group_quantiles must reproduce the exact `percentile`
    aggregate (linear interpolation) to the rounded digit — including
    single-row groups, frac=0 positions, and uneven group sizes."""
    import random

    from concept_multi_db_query_engine_spark import operators as ops

    rng = random.Random(3)
    rows = [("g%d" % (i % 4), float(rng.randint(1, 99999)) / 10)
            for i in range(1001)]
    rows.append(("solo", 42.5))  # single-row group: every quantile = value
    df = spark.createDataFrame(rows, "grp string, v double")
    got = {r["grp"]: r for r in ops.distributed_group_quantiles(
        df, "grp", "v", [0.5, 0.9, 0.99]).collect()}
    want = {r["grp"]: r for r in df.groupBy("grp").agg(
        F.round(F.expr("percentile(v, 0.5)"), 4).alias("q0"),
        F.round(F.expr("percentile(v, 0.9)"), 4).alias("q1"),
        F.round(F.expr("percentile(v, 0.99)"), 4).alias("q2"),
    ).collect()}
    assert got.keys() == want.keys()
    for g in want:
        for q in ("q0", "q1", "q2"):
            assert got[g][q] == want[g][q], (g, q, got[g][q], want[g][q])


def test_distributed_quantiles_high_cardinality_groups(spark):
    """Round 6: the offset computation moved fully executor-side (window
    over per-(partition, group) counts + rank-routing join), so the old
    O(partitions x groups) driver dict — and its max_groups ceiling — are
    gone. High-cardinality groupings must now just work, with every
    single-row group's quantile equal to its one value."""
    from concept_multi_db_query_engine_spark import operators as ops

    df = spark.range(500).select(
        F.concat(F.lit("g"), F.col("id")).alias("grp"),
        F.col("id").cast("double").alias("v"),
    )
    rows = ops.distributed_group_quantiles(df, "grp", "v", [0.5]).collect()
    assert len(rows) == 500
    for r in rows:
        assert r["q0"] == float(r["grp"][1:]), r


def test_distributed_quantiles_max_rows_path_rejects_nulls(spark):
    """The max_rows fast path's contract is a NULL-free value column: a
    group holding a NULL fails the query instead of dropping the value."""
    import pytest as _pytest

    from concept_multi_db_query_engine_spark import operators as ops

    rows = [("a", 1.0), ("a", 3.0), ("b", 2.0)]
    df = spark.createDataFrame(rows, "grp string, v double")
    got = ops.distributed_group_quantiles(
        df, "grp", "v", [0.5], max_rows=3).collect()
    assert sorted((r["grp"], r["q0"]) for r in got) == [
        ("a", 2.0), ("b", 2.0)]
    with_null = spark.createDataFrame(rows + [("b", None)],
                                      "grp string, v double")
    with _pytest.raises(Exception, match="NULL-free"):
        ops.distributed_group_quantiles(
            with_null, "grp", "v", [0.5], max_rows=4).collect()


def test_hourly_anomaly_zero_fills_hour_gaps(spark):
    """Round-5 (round-4 advisory): the trailing baseline runs over the
    clock-hour grid, not only observed hours — silent hours appear as n=0
    rows, count as zeros in the trailing mean, and can themselves be
    scored anomalous."""
    import datetime as dt

    from concept_multi_db_query_engine_spark import operators as ops

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # 12 steady hours (10/h with one 9/11 wobble for variance), then a
    # totally silent hour 12, then hour 13 back at 10/h
    for h in list(range(12)) + [13]:
        n = {5: 9, 7: 11}.get(h, 10)
        for _ in range(n):
            eid += 1
            rows.append((eid, base + dt.timedelta(hours=h), 1, "click",
                         1.0, "{}"))
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    out = {r["hour"].hour: r for r in ops.hourly_anomaly(events).collect()}
    # the silent hour exists in the output with n=0 and a strong negative z
    assert 12 in out, "gap hour must be zero-filled into the grid"
    assert out[12]["n"] == 0
    assert out[12]["z"] is not None and out[12]["z"] < -5
    # hour 13's trailing mean counts the silent hour as zero
    assert out[13]["trail_mean"] < 10.0


def test_weighted_sample_mix_determinism_and_guards(spark):
    import pytest as _pytest

    from concept_multi_db_query_engine_spark import operators as ops

    docs = spark.range(30000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 7, "en")
        .when(F.col("id") % 10 < 9, "fr")
        .otherwise("de").alias("lang"),
    )
    W = {"en": 0.5, "fr": 0.3, "de": 0.2}
    out = ops.weighted_sample(docs, W).collect()
    counts = {}
    for r in out:
        counts[r["lang"]] = counts.get(r["lang"], 0) + 1
    total = sum(counts.values())
    # de is the binding group (2986/0.2 ~ 15k total); realized proportions
    # are binomial around the target
    for g, w in W.items():
        assert abs(counts[g] / total - w) < 0.02, counts
    # every kept row really is from the corpus, and the sample is
    # deterministic across runs
    again = ops.weighted_sample(docs, W).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(
        r["doc_id"] for r in out)
    # a different salt re-rolls membership
    other = {r["doc_id"] for r in ops.weighted_sample(docs, W,
                                                      salt="v2").collect()}
    assert other != {r["doc_id"] for r in out}
    # unlisted groups are excluded entirely
    assert ops.weighted_sample(docs, {"en": 1.0}).where(
        "lang <> 'en'").count() == 0
    # a weighted group with no rows makes the mix unsatisfiable -> empty
    assert ops.weighted_sample(docs, {"en": 0.5, "xx": 0.5}).count() == 0
    with _pytest.raises(ValueError):
        ops.weighted_sample(docs, {})
    with _pytest.raises(ValueError):
        ops.weighted_sample(docs, {"en": 0.9, "fr": 0.2})


def test_weighted_sample_oracle_parity_random_weights(spark):
    """The cross-engine determinism claim fuzz-checked: for several weight
    mixes (including ones that don't sum to 1 and single-group mixes), the
    Spark kept-set must equal the DuckDB oracle's EXACTLY — same thresholds
    from the same integer-ppm machinery and the identical double
    expression."""
    import random

    import duckdb

    from concept_multi_db_query_engine_spark import operators as ops

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    rng = random.Random(11)
    langs = ["en", "fr", "es", "zh", "de"]
    cases = [{"en": 1.0}, {"en": 0.3, "fr": 0.3}]
    for _ in range(4):
        picks = rng.sample(langs, rng.randint(2, 5))
        raw = [rng.random() + 0.05 for _ in picks]
        s = sum(raw) * (1 + rng.random())  # sums to < 1
        cases.append({g: w / s for g, w in zip(picks, raw)})
    for weights in cases:
        got = sorted(
            (r["doc_id"], r["lang"])
            for r in ops.weighted_sample(docs, weights).collect()
        )
        want = sorted(
            map(tuple,
                con.execute(
                    ops.weighted_sample_oracle_sql(weights)).fetchall())
        )
        assert got == want, weights
        assert got, weights  # never vacuously empty for satisfiable mixes


def test_incremental_dedup_admits_only_novel_content(spark):
    from concept_multi_db_query_engine_spark import operators as ops

    corpus_docs = spark.createDataFrame(
        [(1, "known text a"), (2, "known text b")], "doc_id long, text string")
    corpus_fp = corpus_docs.select(F.md5("text").alias("fingerprint"))
    batch = spark.createDataFrame(
        [(10, "known text a"),   # already in corpus -> dropped
         (11, "fresh text x"),   # novel -> admitted
         (12, "fresh text x"),   # within-batch dup -> dropped (11 wins)
         (13, "fresh text y")],  # novel -> admitted
        "doc_id long, text string")
    got = sorted(r["doc_id"]
                 for r in ops.incremental_new_docs(batch, corpus_fp).collect())
    assert got == [11, 13]
    # admitting the batch and re-running against the grown corpus admits
    # nothing (idempotent ingestion)
    grown = corpus_fp.union(
        batch.where("doc_id in (11, 13)").select(
            F.md5("text").alias("fingerprint")))
    assert ops.incremental_new_docs(batch, grown).count() == 0


def test_weighted_sample_token_mass_parity_and_proportions(spark):
    """Token-weighted mixing: proportions target token MASS per group, and
    the kept-set matches the DuckDB oracle exactly (same sums, same
    thresholds)."""
    import duckdb

    from concept_multi_db_query_engine_spark import operators as ops

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " ")))
    W = {"en": 0.5, "fr": 0.25, "es": 0.25}
    out = ops.weighted_sample(docs, W, weight_col="n_tokens")
    kept = out.join(docs.select("doc_id", "lang", "n_tokens"),
                    ["doc_id", "lang"]).collect()
    mass = {}
    for r in kept:
        mass[r["lang"]] = mass.get(r["lang"], 0) + r["n_tokens"]
    total = sum(mass.values())
    for g, w in W.items():
        assert abs(mass[g] / total - w) < 0.05, mass
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')")
    want = sorted(map(tuple, con.execute(ops.weighted_sample_oracle_sql(
        W, weight_expr="len(string_split(text, ' '))")).fetchall()))
    assert sorted((r["doc_id"], r["lang"]) for r in kept) == want


def test_repeated_passages_counts_distinct_docs(spark):
    from concept_multi_db_query_engine_spark import operators as ops

    boiler = "all rights reserved by the example corpus project team"
    docs = spark.createDataFrame(
        [(1, f"{boiler} alpha beta gamma"),
         (2, f"intro words {boiler} tail"),
         (3, f"{boiler} and {boiler}"),     # twice in one doc: counts once
         (4, "completely unrelated text with no repeats at all here")],
        "doc_id long, text string")
    out = {r["passage"]: r["n_docs"]
           for r in ops.repeated_passages(docs, n=9, min_docs=3).collect()}
    assert out[boiler] == 3  # docs 1, 2, 3 — per-doc distinct
    assert all(n >= 3 for n in out.values())
    # min_docs raises the bar
    assert ops.repeated_passages(docs, n=9, min_docs=4).count() == 0


def test_knn_graph_matches_bruteforce_for_every_vector(spark):
    """knn_graph's blocked partial-top-k must select exactly the
    neighbors the per-query brute force selects, for EVERY vector — the
    local pruning may never discard a global winner."""
    from concept_multi_db_query_engine_spark import operators as ops

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    graph = {
        (r["vec_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in ops.knn_graph(emb, k=3, n_blocks=4).collect()
    }
    brute = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in ops.topk_cosine_bruteforce(emb, emb, k=3).collect()
    }
    assert graph == brute
    n_vectors = emb.count()
    assert len(graph) == 3 * n_vectors  # every vector has a full k-list


def test_session_stats_known_fixture(spark):
    import datetime as dt

    from concept_multi_db_query_engine_spark import operators as ops

    t0 = dt.datetime(2020, 1, 1, 12, 0, 0)

    def ev(eid, uid, minutes):
        return (eid, t0 + dt.timedelta(minutes=minutes), uid, "view", 1.0,
                "{}")

    rows = [
        # user 1: two sessions (gap 40 > 30): [0, 10] and [50]
        ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 50),
        # user 2: one single-event session (a bounce)
        ev(4, 2, 0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string",
    )
    r = ops.session_stats(df, gap_minutes=30).collect()[0]
    assert r["n_sessions"] == 3
    assert r["n_users"] == 2
    assert r["avg_events_per_session"] == round(4 / 3, 4)
    assert r["bounce_rate"] == round(2 / 3, 4)  # [50] and user 2 bounce
    assert r["avg_duration_s"] == round(600 / 3, 4)
    assert r["max_duration_s"] == 600.0
