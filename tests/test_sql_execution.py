"""The executed path: each query is one ``spark.sql`` statement over the
source registry's engine-private views, with its values bound by name.

- Values bind by name: positional markers after a BETWEEN bind to the wrong
  values on Spark 4.1, so ``filter_range_in`` (BETWEEN, IN, then >) is
  checked against its DuckDB oracle.
- Views are registered once per source version: a parquet rewrite shows in
  the next query with no reload, and a no-op metadata/role reload registers
  nothing.
- Concurrent queries register a versioned table's view once and drop every
  per-query view of a source with no version.
- View names are private: a caller's temp view named like a physical table,
  or a second engine over other data in the same session, changes nothing.
- Masking is rendered in the SQL: grouping keys are masked in the output,
  and a grouped query orders by a masked key's raw values.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry_mod
from concept_multi_db_query_engine_spark import testdata
from concept_multi_db_query_engine_spark.pipeline import MultiDb
from concept_multi_db_query_engine_spark.sources import (
    MemorySource,
    ParquetSource,
    SourceRegistry,
)

SF_DIR = "/root/testdata/sf0.001"


def test_filter_range_in_binds_values_by_name(spark):
    engine = testdata.build_engine(spark, SF_DIR)
    res = engine.query({**entry_mod._DSL["filter_range_in"],
                        "executeMode": "sql-only"})
    # BETWEEN, IN, > — the marker order that positional binding gets wrong
    assert ":p0 AND :p1" in res["sql"] and ":p4" in res["sql"]
    got = sorted(tuple(r.values()) for r in
                 engine.query(entry_mod._DSL["filter_range_in"])["data"])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/orders.parquet')")
    want = sorted(con.sql(entry_mod.oracle_sql()["filter_range_in"]).fetchall())
    assert got and got == want


def _region_rows(spark, rows):
    return spark.createDataFrame(rows, "r_regionkey int, r_name string")


@pytest.fixture()
def region_engine(spark, tmp_path):
    _region_rows(spark, [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA")]) \
        .write.parquet(str(tmp_path / "region.parquet"))
    source = ParquetSource(str(tmp_path))
    registry = SourceRegistry({"warehouse": source,
                               "lake": ParquetSource(str(tmp_path))})
    engine = MultiDb(spark, testdata.METADATA, testdata.ROLES, registry,
                     strict_api_names=False)
    reads: list[str] = []
    df = source.df

    def counted(spark_, physical):
        reads.append(physical)
        return df(spark_, physical)

    source.df = counted
    yield engine, tmp_path, reads
    engine.close()


def _names(engine):
    return sorted(r["r_name"] for r in engine.query(
        {"from": "region", "columns": ["r_name"]})["data"])


def _key_sums(engine):
    return {r["r_name"]: r["keys"] for r in engine.query({
        "from": "region", "groupBy": [{"column": "r_name"}],
        "aggregations": [{"column": "r_regionkey", "fn": "sum",
                          "alias": "keys"}]})["data"]}


def _count(engine):
    return engine.query({"from": "region", "executeMode": "count"})["count"]


def test_parquet_rewrite_shows_in_next_query(spark, region_engine):
    """Also for a grouped query and a count: collecting one DataFrame a
    second time reuses its first run's shuffle files, so a plan reused
    across a rewrite would answer with the old sums."""
    engine, path, reads = region_engine
    for _ in range(2):
        assert _names(engine) == ["AFRICA", "AMERICA", "ASIA"]
        assert _key_sums(engine) == {"AFRICA": 0, "AMERICA": 1, "ASIA": 2}
        assert _count(engine) == 3
    _region_rows(spark, [(3, "EUROPE"), (4, "ASIA"), (5, "ASIA"),
                         (6, "OCEANIA")]) \
        .write.mode("overwrite").parquet(str(path / "region.parquet"))
    assert _names(engine) == ["ASIA", "ASIA", "EUROPE", "OCEANIA"]
    assert _key_sums(engine) == {"ASIA": 9, "EUROPE": 3, "OCEANIA": 6}
    assert _count(engine) == 4
    assert reads == ["region", "region"]  # one view, re-registered once


def test_noop_reload_registers_no_views(spark, region_engine):
    engine, _, reads = region_engine
    _names(engine)
    views = {t.name for t in spark.catalog.listTables()}
    engine.reload_metadata()
    engine.reload_roles()
    assert _names(engine) == ["AFRICA", "AMERICA", "ASIA"]
    assert engine.query({"from": "region", "executeMode": "count"})[
        "count"] == 3
    assert reads == ["region"]
    assert {t.name for t in spark.catalog.listTables()} == views


def test_view_names_are_private(spark, region_engine):
    engine, _, _ = region_engine
    # a caller's temp view under the physical name is not what the engine reads
    _region_rows(spark, [(9, "SHADOW")]).createOrReplaceTempView("region")
    try:
        assert _names(engine) == ["AFRICA", "AMERICA", "ASIA"]
        # a second engine over other data in the same session keeps its own
        other = testdata.build_engine(spark, SF_DIR)
        assert len(_names(other)) == 5
        assert _names(engine) == ["AFRICA", "AMERICA", "ASIA"]
    finally:
        spark.catalog.dropTempView("region")


def test_concurrent_queries_register_once_and_drop_per_query_views(
        spark, region_engine):
    import sys
    import threading

    engine, _, reads = region_engine
    events = spark.createDataFrame(
        [(1, None, 7, "click", 1.0, "{}"), (2, None, 7, "view", 2.0, "{}")],
        "event_id int, ts timestamp, user_id int, event_type string, "
        "value double, props string")
    # a factory has no version: every query registers and drops its own view
    engine.registry.register("lake", MemorySource({"events": lambda: events}))
    before = {t.name for t in spark.catalog.listTables()}
    errors: list[BaseException] = []

    def worker() -> None:
        try:
            for _ in range(3):
                assert _names(engine) == ["AFRICA", "AMERICA", "ASIA"]
                assert engine.query({"from": "events",
                                     "executeMode": "count"})["count"] == 2
        except BaseException as exc:  # noqa: BLE001 - re-raised below
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
    assert reads == ["region"]
    after = {t.name for t in spark.catalog.listTables()}
    added = after - before
    assert len(added) == 1 and next(iter(added)).endswith("_region")


RESTRICTED = {"roles": {"user": ["restricted"]}}


def test_grouped_query_masks_keys_and_orders_by_raw_values(spark):
    engine = testdata.build_engine(spark, SF_DIR)
    # no aggregations: the grouping keys are the output and stay masked
    keys = engine.query({
        "from": "customer", "columns": ["c_name"],
        "groupBy": [{"column": "c_name"}],
        "orderBy": [{"column": "c_name", "direction": "asc"}], "limit": 2,
    }, RESTRICTED)["data"]
    assert [r["c_name"] for r in keys] == ["C****************0",
                                           "C****************1"]
    # with aggregations: ordered by the raw balance, output masked to 0.0
    top = engine.query({
        "from": "customer", "columns": ["c_mktsegment", "c_acctbal"],
        "groupBy": [{"column": "c_mktsegment"}, {"column": "c_acctbal"}],
        "aggregations": [{"column": "c_custkey", "fn": "count",
                          "alias": "n"}],
        "orderBy": [{"column": "c_acctbal", "direction": "desc"}],
        "limit": 3,
    }, RESTRICTED)["data"]
    con = duckdb.connect()
    want = con.sql(
        f"SELECT c_mktsegment FROM read_parquet('{SF_DIR}/customer.parquet')"
        " ORDER BY c_acctbal DESC LIMIT 3").fetchall()
    assert [r["c_mktsegment"] for r in top] == [w[0] for w in want]
    assert {r["c_acctbal"] for r in top} == {0.0}
