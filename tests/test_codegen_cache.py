"""Spark's generated-code cache holds the engine's working set: after one
pass over the 35 engine-DSL definitions plus ``tpch_q1`` and ``tpch_q3``, a
second pass compiles no generated class. With Spark's default cap of 100
classes the cache evicted each class before its next use, and every warm
pass compiled them all again (Janino, then the JIT)."""

from __future__ import annotations

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def test_warm_pass_compiles_no_generated_classes(spark):
    queries = entry_mod.queries()
    names = sorted(entry_mod._DSL) + ["tpch_q1", "tpch_q3"]
    assert len(names) == 37
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled() -> int:
        return metrics.METRIC_COMPILATION_TIME().getCount()

    def one_pass() -> None:
        for name in names:
            queries[name](spark, SF_DIR).collect()

    one_pass()
    before = compiled()
    one_pass()
    assert compiled() - before == 0
