"""Per-engine query timeout: the Spark analog of the reference's executor
timeoutMs (statement_timeout / max_execution_time) — job-group cancellation
at the deadline, surfaced as ExecutionError."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from concept_multi_db_query_engine_spark import testdata
from concept_multi_db_query_engine_spark.errors import ExecutionError
from concept_multi_db_query_engine_spark.pipeline import MultiDb
from concept_multi_db_query_engine_spark.sources import (
    MemorySource,
    ParquetSource,
    SourceRegistry,
)

SF_DIR = "/root/testdata/sf0.001"


def _slow_table(spark):
    @F.udf("long")
    def crawl(x):
        time.sleep(0.5)
        return x

    return (
        spark.range(64).repartition(8)
        .select(F.col("id").alias("o_orderkey"), crawl("id").alias("o_custkey"),
                F.lit("O").alias("o_orderstatus"),
                F.lit(1.0).alias("o_totalprice"),
                F.lit(None).cast("timestamp").alias("o_orderdate"),
                F.lit("1-URGENT").alias("o_orderpriority"))
    )


def test_timeout_cancels_long_query(spark):
    registry = SourceRegistry({
        "warehouse": MemorySource({"orders": lambda: _slow_table(spark)}),
        "lake": MemorySource({}),
    })
    engine = MultiDb(
        spark, testdata.METADATA, testdata.ROLES, registry,
        strict_api_names=False, timeout_ms=700,
    )
    with pytest.raises(ExecutionError, match="timeoutMs"):
        engine.query({"from": "orders", "columns": ["o_orderkey",
                                                    "o_custkey"]})


def test_fast_query_unaffected_by_timeout(spark):
    registry = SourceRegistry({
        "warehouse": ParquetSource(SF_DIR),
        "lake": MemorySource({}),
    })
    engine = MultiDb(
        spark, testdata.METADATA, testdata.ROLES, registry,
        strict_api_names=False, timeout_ms=60_000,
    )
    result = engine.query({
        "from": "region", "columns": ["r_regionkey", "r_name"],
    })
    assert len(result["data"]) == 5


def test_build_engine_timeout_runs_query_under_timeout_tag(spark, monkeypatch):
    """``testdata.build_engine(timeout_ms=...)`` gives the engine the
    deadline path: its query's Spark jobs carry an ``mdb-timeout-*`` tag."""
    engine = testdata.build_engine(spark, SF_DIR, timeout_ms=60_000)
    sc = spark.sparkContext
    tags: list[str] = []
    add = sc.addJobTag

    def record(tag):
        tags.append(tag)
        add(tag)

    monkeypatch.setattr(sc, "addJobTag", record)
    result = engine.query({"from": "nation", "columns": ["n_nationkey"]})
    assert len(result["data"]) == 25
    assert len(tags) == 1 and tags[0].startswith("mdb-timeout-")
    tracker = sc._jsc.sc().statusTracker()
    assert len(tracker.getJobIdsForTag(tags[0])) >= 1
