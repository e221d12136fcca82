"""Round-13: probe-tax knobs (known_groups/known_domains skip the
cardinality probe scan) + the round-13 capability wave."""

from __future__ import annotations

import pytest

from concept_multi_db_query_engine_spark import operators as ops
from concept_multi_db_query_engine_spark import testdata

SF_DIR = "/root/testdata/sf0.001"


def _jobs_during(spark, fn):
    """Number of Spark jobs submitted while fn runs (group None)."""
    tracker = spark.sparkContext.statusTracker()

    def _max_id():
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) if ids else -1

    before = _max_id()
    out = fn()
    return _max_id() - before, out


class TestProbeSkip:
    def test_jonckheere_known_groups_runs_zero_probe_jobs(self, spark):
        """The verdict's 'done' criterion: a pre-declared cardinality
        runs ZERO probe jobs — the job-count delta between the probe
        path and the known-groups path equals exactly the job count of
        the standalone distinct+limit probe collect."""
        from pyspark.sql import functions as F

        rows = [(s, float(s * 10 + i % 5))
                for s in (1, 2, 3) for i in range(25)]
        df = spark.createDataFrame(rows, "s long, v double")
        n_probe, _ = _jobs_during(
            spark, lambda: ops.jonckheere_terpstra(df, "s", "v"))
        n_known, _ = _jobs_during(
            spark, lambda: ops.jonckheere_terpstra(
                df, "s", "v", known_groups=[1, 2, 3]))
        n_standalone, _ = _jobs_during(
            spark, lambda: df.select(
                F.expr("CAST(s AS BIGINT)").alias("g"))
            .distinct().limit(101).collect())
        assert n_standalone >= 1
        assert n_probe - n_known == n_standalone

    def test_dunns_known_groups_skips_probe_jobs(self, spark):
        rows = [(g, float(i % 7 + ord(g[0]) % 5))
                for g in ("a", "b", "c") for i in range(30)]
        df = spark.createDataFrame(rows, "g string, v double")
        n_probe, probed = _jobs_during(
            spark, lambda: ops.dunns_test(df, "g", "v"))
        n_known, known = _jobs_during(
            spark, lambda: ops.dunns_test(
                df, "g", "v", known_groups=["a", "b", "c"]))
        # the pre-declared cardinality removes the probe's
        # distinct+limit jobs from construction
        assert n_known < n_probe
        assert known.collect() == probed.collect()

    def test_bradley_terry_known_groups_matches_probe_path(self, spark):
        rows = [("a", 3.0), ("b", 1.0), ("a", 5.0), ("c", 2.0),
                ("b", 4.0), ("c", 6.0), ("a", 2.5), ("b", 2.5)]
        df = spark.createDataFrame(rows, "g string, v double")
        n_probe, probed = _jobs_during(
            spark, lambda: ops.bradley_terry(df, "g", "v", iterations=5))
        n_known, known = _jobs_during(
            spark, lambda: ops.bradley_terry(
                df, "g", "v", iterations=5,
                known_groups=["a", "b", "c"]))
        assert n_known < n_probe
        assert known.collect() == probed.collect()

    def test_elo_known_groups_matches_probe_path(self, spark):
        rows = [(i, "ab"[i % 2], float((i * 7) % 11)) for i in range(40)]
        df = spark.createDataFrame(rows, "o long, g string, v double")
        probed = ops.elo_preference_ratings(
            df, "g", "v", "o", n_matches=100).collect()
        known = ops.elo_preference_ratings(
            df, "g", "v", "o", n_matches=100,
            known_groups=["a", "b"]).collect()
        assert known == probed

    def test_jonckheere_known_groups_matches_probe_path(self, spark):
        rows = [(s, float(s * 10 + i % 5))
                for s in (1, 2, 3) for i in range(25)]
        df = spark.createDataFrame(rows, "s long, v double")
        probed = ops.jonckheere_terpstra(df, "s", "v").collect()
        known = ops.jonckheere_terpstra(
            df, "s", "v", known_groups=[1, 2, 3]).collect()
        assert known == probed

    def test_doremi_known_domains_matches_probe_path(self, spark):
        rows = [(i, "web" if i % 2 else "code",
                 ("def main" if i % 2 == 0 else "the quick fox") * 3)
                for i in range(30)]
        docs = spark.createDataFrame(
            rows, "doc_id long, source string, text string")
        probed = ops.doremi_mixture_weights(docs, iterations=3).collect()
        known = ops.doremi_mixture_weights(
            docs, iterations=3,
            known_domains=["web", "code"]).collect()
        assert known == probed

    def test_known_groups_over_bound_raises(self, spark):
        df = spark.createDataFrame(
            [("a", 1.0), ("b", 2.0)], "g string, v double")
        with pytest.raises(ValueError, match="known_groups"):
            ops.bradley_terry(df, "g", "v",
                              known_groups=[str(i) for i in range(30)])
        with pytest.raises(ValueError, match="known_groups"):
            ops.dunns_test(df, "g", "v", max_groups=3,
                           known_groups=["a", "b", "c", "d"])


class TestEmbeddingDecontamination:
    def test_planted_duplicate_is_flagged(self, spark):
        # corpus vec 10 IS eval vec 100 (the "paraphrase" analog:
        # cosine 1.0); corpus vec 11 is orthogonal to all eval vecs
        rows = [
            (100, [1.0, 0.0, 0.0, 0.0]),
            (101, [0.0, 1.0, 0.0, 0.0]),
            (10, [2.0, 0.0, 0.0, 0.0]),   # parallel to eval 100
            (11, [0.0, 0.0, 1.0, 0.0]),   # orthogonal to eval
            (12, [1.0, 1.0, 0.0, 0.0]),   # cos 0.707107 to both
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")
        out = ops.embedding_decontamination(
            emb.where("vec_id < 100"), emb.where("vec_id >= 100"),
            threshold=0.7,
        ).collect()
        got = {r["vec_id"]: r for r in out}
        assert set(got) == {10, 12}
        assert got[10]["eval_id"] == 100
        assert got[10]["cosine"] == 1.0
        # tie between eval 100 and 101 at 0.707107 -> smallest eval id
        assert got[12]["eval_id"] == 100
        assert got[12]["cosine"] == pytest.approx(0.707107)

    def test_zero_norm_vectors_excluded(self, spark):
        rows = [(100, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0])]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")
        out = ops.embedding_decontamination(
            emb.where("vec_id < 100"), emb.where("vec_id >= 100"),
            threshold=0.5,
        ).collect()
        assert [r["vec_id"] for r in out] == [2]

    def test_empty_eval_set_raises(self, spark):
        emb = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="empty eval set"):
            ops.embedding_decontamination(emb, emb.where("vec_id < 0"))


class TestTokenizerFertility:
    def test_hand_counts(self, spark):
        docs = spark.createDataFrame(
            [(1, "srcA", "hello world"),      # 2 words, 11 bytes
             (2, "srcA", "don't stop"),       # 2 words; bpe splits '...t
             (3, "srcB", "a  b")],            # double space: 2 words
            "doc_id long, source string, text string")
        out = {r["source"]: r
               for r in ops.tokenizer_fertility_ab(docs).collect()}
        a, b = out["srcA"], out["srcB"]
        assert a["n_docs"] == 2 and b["n_docs"] == 1
        assert a["total_bytes"] == 11 + 10
        assert a["words"] == 4 and b["words"] == 2
        # 'hello world' -> [hello, ' world'] = 2; "don't stop" ->
        # [don, 't, ' stop'] = 3 under the GPT-2-ish split
        assert a["tokens_bpe"] == 5
        assert a["bpe_per_word"] == pytest.approx(5 / 4)
        assert b["ws_per_100b"] == pytest.approx(
            round(2 * 100.0 / 4, 6))

    def test_single_scan(self, spark, tmp_path):
        """The docstring's one-scan claim, asserted for real (the old
        `or True` assertion was vacuous — round-13 ADVICE): the report
        reads its parquet source exactly once, with the whole A/B
        comparison folded into one map-side-combined aggregate."""
        p = str(tmp_path / "fert_docs.parquet")
        spark.createDataFrame(
            [(1, "s", "x y z"), (2, "t", "hello world")],
            "doc_id long, source string, text string").write.parquet(p)
        docs = spark.read.parquet(p)
        plan = ops.tokenizer_fertility_ab(
            docs)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1


class TestSuffixDuplicateStats:
    def test_known_longest_duplicate(self, spark):
        # docs 1 and 2 share the 5-word passage "the quick brown fox
        # jumps"; doc 3 is unrelated; source t has no duplicates
        docs = spark.createDataFrame(
            [(1, "s", "the quick brown fox jumps over x"),
             (2, "s", "start pad the quick brown fox jumps"),
             (3, "s", "completely different words entirely here"),
             (4, "t", "alpha beta gamma")],
            "doc_id long, source string, text string")
        out = {r["source"]: r for r in ops.suffix_duplicate_stats(
            docs, k_cap=16, site_min_words=5).collect()}
        assert out["s"]["longest_dup_words"] == 5
        assert out["s"]["dup_sites"] == 1
        assert out["s"]["n_positions"] == 7 + 7 + 5
        assert out["t"]["longest_dup_words"] == 0
        assert out["t"]["dup_sites"] == 0

    def test_within_doc_repetition_counts(self, spark):
        docs = spark.createDataFrame(
            [(1, "s", "a b c d a b c d")],
            "doc_id long, source string, text string")
        out = ops.suffix_duplicate_stats(
            docs, k_cap=16, site_min_words=4).collect()[0]
        # suffix at pos 1 and pos 5 share "a b c d" (4 words)
        assert out["longest_dup_words"] == 4
        assert out["dup_sites"] == 1

    def test_partition_invariance(self, spark):
        # the boundary stitch must make the answer exactly the
        # single-window answer at ANY partition count
        import random

        rng = random.Random(7)
        vocab = ["w%d" % i for i in range(12)]
        rows = [(i, "s%d" % (i % 3),
                 " ".join(rng.choice(vocab) for _ in range(20)))
                for i in range(40)]
        docs = spark.createDataFrame(
            rows, "doc_id long, source string, text string")
        a = ops.suffix_duplicate_stats(
            docs, k_cap=8, site_min_words=3, num_partitions=1).collect()
        b = ops.suffix_duplicate_stats(
            docs, k_cap=8, site_min_words=3, num_partitions=5).collect()
        c = ops.suffix_duplicate_stats(
            docs, k_cap=8, site_min_words=3, num_partitions=17).collect()
        assert a == b == c
        # pin=False (sort-twice, zero pinned storage — the 100-TB
        # plan) must give the identical answer at a partition count
        # where the stitch actually fires
        d = ops.suffix_duplicate_stats(
            docs, k_cap=8, site_min_words=3, num_partitions=17,
            pin=False).collect()
        assert d == a

    def test_kcap_caps_the_max(self, spark):
        docs = spark.createDataFrame(
            [(1, "s", " ".join(["x"] * 30))],
            "doc_id long, source string, text string")
        out = ops.suffix_duplicate_stats(
            docs, k_cap=6, site_min_words=3).collect()[0]
        assert out["longest_dup_words"] == 6  # capped, true answer 29


class TestSuffixDuplicatePassages:
    def test_returns_the_actual_passage(self, spark):
        docs = spark.createDataFrame(
            [(1, "s", "the quick brown fox jumps over x"),
             (2, "s", "pad pad the quick brown fox jumps"),
             (3, "s", "unrelated words only here now")],
            "doc_id long, source string, text string")
        out = ops.suffix_duplicate_passages(
            docs, k_cap=16, min_words=5, top_n=3).collect()
        assert len(out) == 1
        r = out[0]
        assert r["passage"] == "the quick brown fox jumps"
        assert r["dup_len_words"] == 5
        assert r["n_sites"] == 1
        assert r["rank"] == 1

    def test_partition_invariance(self, spark):
        import random

        rng = random.Random(13)
        vocab = ["t%d" % i for i in range(8)]
        rows = [(i, "s%d" % (i % 2),
                 " ".join(rng.choice(vocab) for _ in range(18)))
                for i in range(30)]
        docs = spark.createDataFrame(
            rows, "doc_id long, source string, text string")
        a = ops.suffix_duplicate_passages(
            docs, k_cap=8, min_words=3, top_n=5,
            num_partitions=1).collect()
        b = ops.suffix_duplicate_passages(
            docs, k_cap=8, min_words=3, top_n=5,
            num_partitions=9).collect()
        assert a == b
        c = ops.suffix_duplicate_passages(
            docs, k_cap=8, min_words=3, top_n=5,
            num_partitions=9, pin=False).collect()
        assert c == a

    def test_nested_repeats_surface_separately(self, spark):
        # three copies of an 8-word passage; two also share a 9th word,
        # so the 9-word prefix appears as its own (longer) row
        docs = spark.createDataFrame(
            [(1, "s", "a b c d e f g h x"),
             (2, "s", "a b c d e f g h x"),
             (3, "s", "a b c d e f g h y")],
            "doc_id long, source string, text string")
        out = {(r["passage"], r["dup_len_words"]): r["n_sites"]
               for r in ops.suffix_duplicate_passages(
                   docs, k_cap=16, min_words=8, top_n=10).collect()}
        assert out[("a b c d e f g h x", 9)] == 1
        assert out[("a b c d e f g h", 8)] == 1


class TestEmbeddingDecontaminationLsh:
    def test_same_bucket_duplicate_is_flagged(self, spark):
        rows = [
            (100, [1.0, 1.0, 1.0, 0.0]),
            (10, [2.0, 2.0, 2.0, 0.0]),    # same bucket, cosine 1.0
            (11, [-1.0, 1.0, 1.0, 0.0]),   # different bucket: missed
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")
        out = ops.embedding_decontamination_lsh(
            emb.where("vec_id < 100"), emb.where("vec_id >= 100"),
            threshold=0.5, bits=3,
        ).collect()
        assert [(r["vec_id"], r["eval_id"], r["cosine"])
                for r in out] == [(10, 100, 1.0)]

    def test_recall_vs_exact_twin_on_shared_buckets(self, spark):
        # every LSH hit must also be an exact-twin hit with the same
        # cosine (LSH only MISSES, never invents)
        emb = testdata.load_table(spark, SF_DIR, "embeddings")
        corpus, ev = emb.where("vec_id % 37 != 0"), \
            emb.where("vec_id % 37 = 0")
        exact = {r["vec_id"]: r for r in ops.embedding_decontamination(
            corpus, ev, threshold=0.3).collect()}
        lsh = ops.embedding_decontamination_lsh(
            corpus, ev, threshold=0.3, bits=3).collect()
        assert len(lsh) > 0
        for r in lsh:
            assert r["vec_id"] in exact
            assert r["cosine"] <= exact[r["vec_id"]]["cosine"]

    def test_multi_family_union_recall_monotone(self, spark):
        """The round-13 verdict's scale fix: R salted hyperplane
        families unioned. Family 0 is the base bucketing, so the
        R-family candidate set is a strict superset — every 1-family
        hit survives with an equal-or-better cosine, the hit set only
        grows, and every hit is still a subset of the exact twin."""
        emb = testdata.load_table(spark, SF_DIR, "embeddings")
        corpus, ev = emb.where("vec_id % 37 != 0"), \
            emb.where("vec_id % 37 = 0")
        exact = {r["vec_id"]: r for r in ops.embedding_decontamination(
            corpus, ev, threshold=0.3).collect()}
        one = {r["vec_id"]: r for r in ops.embedding_decontamination_lsh(
            corpus, ev, threshold=0.3, bits=3).collect()}
        three = {r["vec_id"]: r
                 for r in ops.embedding_decontamination_lsh(
                     corpus, ev, threshold=0.3, bits=3, families=3,
                     in_dim=64).collect()}
        assert set(one) <= set(three)          # union only adds hits
        assert set(three) <= set(exact)        # never invents a pair
        for vid, r in three.items():
            assert r["cosine"] <= exact[vid]["cosine"]
            if vid in one:
                assert r["cosine"] >= one[vid]["cosine"]
        # on this data the extra families must actually recover recall
        # the 3-bit single family missed (recall strictly improves)
        assert len(three) > len(one)

    def test_families_validation_and_hyperplane_inference(self, spark):
        emb = spark.createDataFrame(
            [(1, [1.0, -1.0]), (2, [1.0, -1.0])],
            "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="in_dim"):
            ops.embedding_decontamination_lsh(
                emb.where("vec_id = 1"), emb.where("vec_id = 2"),
                families=2)
        with pytest.raises(ValueError, match="families"):
            ops.embedding_decontamination_lsh(
                emb.where("vec_id = 1"), emb.where("vec_id = 2"),
                families=0)
        # explicit hyperplanes carry their own width — in_dim inferred
        out = ops.embedding_decontamination_lsh(
            emb.where("vec_id = 1"), emb.where("vec_id = 2"),
            threshold=0.9, bits=2, families=2,
            hyperplanes=[[1.0, 0.0], [0.0, 1.0]]).collect()
        assert [(r["vec_id"], r["eval_id"], r["cosine"])
                for r in out] == [(1, 2, 1.0)]


class TestBenchScopedCpu:
    def test_scoped_measure_attributes_jobs_and_cpu(self, spark):
        """The round-13 bench core: job-group-scoped measurement
        counts the tasks of an action, no tasks for a lazy build, and
        a positive scoped CPU that includes executor task time. The
        py4j status-store path must exist: construction raises
        without it."""
        import bench

        scoped = bench._ScopedCpu(spark)

        def run_job():
            return spark.range(2_000_000).selectExpr(
                "id % 13 AS k").groupBy("k").count().collect()

        wall, cpu, tasks, ext_frac, rows = scoped.measure(run_job)
        assert tasks > 0 and len(rows) == 13
        assert wall > 0 and cpu > 0
        assert 0.0 <= ext_frac
        # the same action again runs the same tasks
        assert scoped.measure(run_job)[2] == tasks
        # a purely-lazy construction runs no jobs and bills ~no CPU
        w2, c2, tasks2, _, df = scoped.measure(
            lambda: spark.range(10).selectExpr("id * 2 AS v"))
        assert tasks2 == 0
        assert c2 < cpu

    def test_machine_busy_clock_monotone(self):
        import bench

        a = bench._machine_busy_seconds()
        b = bench._machine_busy_seconds()
        assert b >= a >= 0.0


# ---------------------------------------------------------------------------
# Independent pure-Python references (the stats-family discipline: every
# operator is checked against a from-scratch implementation on randomized
# inputs, not only against hand-picked cases and the DuckDB oracle twin)
# ---------------------------------------------------------------------------


def _ref_suffix_stats(rows, k_cap, min_words):
    """From-scratch suffix-array LCP reference: full sort per source,
    adjacent common-prefix lengths, max + thresholded site count."""
    from collections import defaultdict

    suf = defaultdict(list)
    for doc_id, source, text in rows:
        words = [w for w in text.split(" ") if w != ""]
        for pos in range(len(words)):
            suf[source].append(
                (tuple(words[pos:pos + k_cap]), doc_id, pos + 1))
    out = {}
    for source, entries in suf.items():
        entries.sort()
        longest, sites = 0, 0
        for (a, _, _), (b, _, _) in zip(entries, entries[1:]):
            n = 0
            for x, y in zip(a, b):
                if x != y:
                    break
                n += 1
            longest = max(longest, n)
            if n >= min_words:
                sites += 1
        out[source] = (len(entries), longest, sites)
    return out


class TestSuffixStatsReference:
    def test_matches_pure_python_on_random_corpora(self, spark):
        import random

        for seed, n_docs, vlen in ((3, 25, 6), (11, 40, 4), (29, 15, 10)):
            rng = random.Random(seed)
            vocab = ["w%d" % i for i in range(vlen)]
            rows = [(i, "s%d" % (i % 3),
                     " ".join(rng.choice(vocab)
                              for _ in range(rng.randint(1, 25))))
                    for i in range(n_docs)]
            docs = spark.createDataFrame(
                rows, "doc_id long, source string, text string")
            got = {r["source"]: (r["n_positions"], r["longest_dup_words"],
                                 r["dup_sites"])
                   for r in ops.suffix_duplicate_stats(
                       docs, k_cap=8, site_min_words=3).collect()}
            want = _ref_suffix_stats(rows, k_cap=8, min_words=3)
            assert got == want, f"seed={seed}"


def _ref_decontamination(rows, eval_ids, threshold):
    import numpy as np

    ev = [(i, np.array(v, dtype=np.float64)) for i, v in rows
          if i in eval_ids and float(np.dot(np.array(v, dtype=np.float64),
                                            np.array(v, dtype=np.float64))) > 0]
    out = {}
    for i, v in rows:
        if i in eval_ids:
            continue
        c = np.array(v, dtype=np.float64)
        n2 = float(np.dot(c, c))
        if n2 <= 0:
            continue
        best, best_id = None, None
        for eid, e in ev:
            cos = round(float(np.dot(e, c))
                        / (float(np.sqrt(np.dot(e, e))) * float(np.sqrt(n2))), 6)
            if best is None or cos > best or (cos == best and eid < best_id):
                best, best_id = cos, eid
        if best is not None and best >= threshold:
            out[i] = (best_id, best)
    return out


class TestDecontaminationReference:
    def test_matches_pure_numpy_on_random_vectors(self, spark):
        import random

        rng = random.Random(17)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(8)])
                for i in range(60)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        eval_ids = {i for i in range(60) if i % 7 == 0}
        got = {r["vec_id"]: (r["eval_id"], r["cosine"])
               for r in ops.embedding_decontamination(
                   emb.where("vec_id % 7 != 0"),
                   emb.where("vec_id % 7 = 0"),
                   threshold=0.5).collect()}
        want = _ref_decontamination(
            [(i, v) for i, v in rows], eval_ids, 0.5)
        assert set(got) == set(want)
        for k in want:
            assert got[k][0] == want[k][0], k
            assert got[k][1] == pytest.approx(want[k][1], abs=2e-6), k


class TestFertilityReference:
    def test_matches_pure_python_regex(self, spark):
        import random
        import re

        from concept_multi_db_query_engine_spark.operators.text import (
            BPE_ISH_PATTERN,
        )

        rng = random.Random(5)
        frags = ["hello", "don't", "a1b2", "...", "x", "  ", "UPPER",
                 "mid-dash", "42", "end."]
        rows = [(i, "s%d" % (i % 2),
                 " ".join(rng.choice(frags) for _ in range(rng.randint(1, 12))))
                for i in range(30)]
        docs = spark.createDataFrame(
            rows, "doc_id long, source string, text string")
        got = {r["source"]: r
               for r in ops.tokenizer_fertility_ab(docs).collect()}
        pat = re.compile(BPE_ISH_PATTERN)
        agg = {}
        for _, src, text in rows:
            b = len(text.encode())
            w = len([x for x in text.split(" ") if x != ""])
            t = len(pat.findall(text))
            n, tb, tw, tt = agg.get(src, (0, 0, 0, 0))
            agg[src] = (n + 1, tb + b, tw + w, tt + t)
        for src, (n, tb, tw, tt) in agg.items():
            r = got[src]
            assert r["n_docs"] == n
            assert r["total_bytes"] == tb
            assert r["words"] == tw
            assert r["tokens_bpe"] == tt, src
