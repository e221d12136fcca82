"""Planner strategies P0-P3 + freshness (C1200-C1254 analogs), execute modes
(sql-only / count / dataframe), debug log, lifecycle."""

from __future__ import annotations

import pytest



def run(engine, defn, context=None):
    return engine.query(defn, context)


class TestPlannerStrategies:
    def test_p1_direct_single_db(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id"]})
        assert res["meta"]["strategy"] == "direct"
        assert res["meta"]["targetDatabase"] == "pg-main"
        assert res["meta"]["dialect"] == "postgres"

    def test_p0_cache_by_ids(self, engine):
        res = run(engine, {"from": "users", "byIds": ["uuid-c1", "uuid-c2"]})
        assert res["meta"]["strategy"] == "cache"
        assert res["meta"]["targetDatabase"] == "redis-main"
        assert len(res["data"]) == 2
        assert res["data"][0]["id"] == "uuid-c1"

    def test_cache_partial_hit_merges_db_rows(self, engine):
        res = run(engine, {"from": "users", "byIds": ["uuid-c1", "uuid-missing"]})
        assert res["meta"]["strategy"] == "cache"
        assert [r["id"] for r in res["data"]] == ["uuid-c1"]

    @pytest.fixture()
    def partial_engine(self, spark):
        """Engine whose users cache holds ONLY uuid-c1, so uuid-c2 byIds
        lookups exercise the partial-hit DB merge path."""
        from concept_multi_db_query_engine_spark import MultiDb
        from concept_multi_db_query_engine_spark.cache import MemoryCache

        from tests import fixtures

        r = fixtures.USERS_ROWS[0]
        cache = MemoryCache({
            f"users:{r[0]}": {
                "id": r[0], "email": r[1], "phone": r[2], "firstName": r[3],
                "lastName": r[4], "role": r[5], "age": r[6],
                "managerId": r[7], "createdAt": r[8],
            }
        })
        return MultiDb(
            spark, fixtures.METADATA, fixtures.ROLES,
            fixtures.build_registry(spark), caches={"redis-main": cache},
        )

    def test_partial_hit_db_rows_acl_trimmed_and_masked(self, partial_engine):
        # restricted role + columns omitted: DB-fetched rows must be trimmed
        # and masked identically to cache-served rows (README.md:241)
        ctx = {"roles": {"user": ["tenant-user"]}}
        res = run(
            partial_engine,
            {"from": "users", "byIds": ["uuid-c1", "uuid-c2"]},
            ctx,
        )
        assert res["meta"]["strategy"] == "cache"
        assert [r["id"] for r in res["data"]] == ["uuid-c1", "uuid-c2"]
        allowed = {"id", "firstName", "lastName", "email"}
        for row in res["data"]:
            assert set(row) == allowed, row  # no phone/role/age/... leak
            assert "***@***." in row["email"]  # masked on both paths

    def test_partial_hit_merge_without_pk_in_columns(self, partial_engine):
        # explicit columns excluding the pk: missed rows must still merge
        # (the pk rides along internally for keying, then is dropped)
        res = run(
            partial_engine,
            {"from": "users", "byIds": ["uuid-c1", "uuid-c2"],
             "columns": ["firstName"]},
        )
        assert res["meta"]["strategy"] == "cache"
        assert sorted(r["firstName"] for r in res["data"]) == ["Alice", "Bob"]
        assert all(set(r) == {"firstName"} for r in res["data"])

    def test_cache_skipped_with_filters(self, engine):
        res = run(
            engine,
            {"from": "users", "byIds": ["uuid-c1"],
             "filters": [{"column": "role", "operator": "=", "value": "admin"}]},
        )
        assert res["meta"]["strategy"] == "direct"

    def test_cache_skipped_on_realtime(self, engine):
        res = run(
            engine,
            {"from": "users", "byIds": ["uuid-c1"], "freshness": "realtime"},
        )
        assert res["meta"]["strategy"] == "direct"

    def test_p2_materialized_replica(self, engine):
        # orders (pg-main) + events (ch-analytics): orders has a ch replica
        # with lag 'seconds' → co-locate in ch-analytics when freshness allows
        res = run(
            engine,
            {"from": "events", "columns": ["id"],
             "joins": [{"table": "orders", "type": "inner", "columns": ["id"]}],
             "freshness": "minutes"},
        )
        assert res["meta"]["strategy"] == "materialized"
        assert res["meta"]["targetDatabase"] == "ch-analytics"
        used = {t["tableId"]: t for t in res["meta"]["tablesUsed"]}
        assert used["orders"]["source"] == "replica"  # C1711 enum value
        assert used["orders"]["physicalName"] == "orders_replica"
        assert len(res["data"]) == 2  # events e1 (order 1), e3 (order 3)

    def test_p3_federation_on_realtime(self, engine):
        # realtime bans replicas → cross-db federation over originals
        res = run(
            engine,
            {"from": "events", "columns": ["id"],
             "joins": [{"table": "orders", "type": "inner", "columns": ["id"]}],
             "freshness": "realtime"},
        )
        assert res["meta"]["strategy"] == "trino-cross-db"
        used = {t["tableId"]: t for t in res["meta"]["tablesUsed"]}
        assert used["orders"]["source"] == "original"
        assert len(res["data"]) == 2

    def test_iceberg_engine_routes_through_trino_dialect(self, spark):
        """The reference has no standalone Iceberg executor — Iceberg
        tables are reached via Trino (README.md:246). A database declared
        engine 'iceberg' must render the Trino dialect for single-DB
        sql-only text, and pull any federation it participates in onto
        Trino as well."""
        import copy

        from concept_multi_db_query_engine_spark import MultiDb
        from concept_multi_db_query_engine_spark.sqlgen import named_args
        from tests.fixtures import METADATA, ROLES, build_registry

        meta = copy.deepcopy(METADATA)
        for db in meta["databases"]:
            if db["id"] == "ch-analytics":
                db["engine"] = "iceberg"
        eng = MultiDb(spark, meta, ROLES, build_registry(spark))
        ctx = {"roles": {"user": ["admin"]}}
        # single-DB query on the iceberg-engine database -> trino text
        res = eng.query({"from": "events", "columns": ["id"],
                         "executeMode": "sql-only"}, ctx)
        assert res["meta"]["dialect"] == "trino"
        assert "?" in res["sql"] or res["params"] == []
        # cross-db federation touching the iceberg database -> trino
        res = eng.query(
            {"from": "events", "columns": ["id"],
             "joins": [{"table": "orders", "type": "inner",
                        "columns": ["id"]}],
             "freshness": "realtime", "executeMode": "sql-only"}, ctx)
        assert res["meta"]["dialect"] == "trino"


class TestExecuteModes:
    def test_sql_only(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id", "name"],
             "filters": [{"column": "status", "operator": "=",
                          "value": "active"}],
             "orderBy": [{"column": "id", "direction": "asc"}],
             "limit": 10, "executeMode": "sql-only"},
        )
        assert res["kind"] == "sql"
        assert "data" not in res
        sql, params = res["sql"], res["params"]
        # samples lives in pg-main (engine 'postgres') -> postgres dialect:
        # double-quoted identifiers, $N placeholders (SQL_DIALECTS.md:7-8)
        assert "SELECT" in sql and 'FROM "samples" AS t0' in sql
        assert 'WHERE t0."status" = $1' in sql
        assert 'ORDER BY t0."id" ASC' in sql and "LIMIT 10" in sql
        assert params == ["active"]

    def test_sql_only_runs_on_spark(self, spark):
        """The SPARK dialect's rendered text is valid Spark SQL: execute it
        with its values bound by name and compare against the executed
        path. (The contract-fixture engine
        now renders pg/ch/trino per declared engine — tests/test_dialects.py
        — so this uses a spark-engine twin of the same metadata; the
        testdata engine's 31-query sweep in test_sqlonly_sweep.py is the
        broad version of this check.)"""
        import copy

        from concept_multi_db_query_engine_spark import MultiDb
        from concept_multi_db_query_engine_spark.sqlgen import named_args
        from tests.fixtures import METADATA, ROLES, build_registry

        meta = copy.deepcopy(METADATA)
        for db in meta["databases"]:
            db["engine"] = "spark"
        spark_engine = MultiDb(spark, meta, ROLES, build_registry(spark))
        defn = {
            "from": "samples", "columns": ["id", "category"],
            "filters": [{"column": "amount", "operator": ">", "value": 99}],
            "orderBy": [{"column": "id", "direction": "asc"}],
        }
        res = run(spark_engine, {**defn, "executeMode": "sql-only"})
        assert res["meta"]["dialect"] == "spark"
        reg = build_registry(spark)
        reg.df(spark, "pg-main", "samples").createOrReplaceTempView("samples")
        rows = [r.asDict() for r in spark.sql(
            res["sql"], args=named_args(res["params"])).collect()]
        direct = run(spark_engine, defn)["data"]
        assert rows == direct

    def test_sql_only_reports_masking_intent(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": ["id", "total"],
             "executeMode": "sql-only"},
            {"roles": {"user": ["tenant-user"]}},
        )
        cols = {c["apiName"]: c for c in res["meta"]["columns"]}
        assert cols["total"]["masked"] is True

    def test_dataframe_mode_is_lazy(self, engine):
        df = engine.dataframe(
            {"from": "samples", "columns": ["id", "name"],
             "filters": [{"column": "status", "operator": "=",
                          "value": "active"}]}
        )
        assert df.columns == ["id", "name"]
        assert df.count() == 2

    def test_debug_log_phases(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"], "debug": True},
        )
        phases = [e["phase"] for e in res["debugLog"]]
        for expected in ("access-control", "validation", "planning",
                         "name-resolution", "execution"):
            assert expected in phases

    def test_no_debug_log_by_default(self, engine):
        res = run(engine, {"from": "samples", "columns": ["id"]})
        assert "debugLog" not in res

    def test_timing_present(self, engine):
        res = run(engine, {"from": "samples", "columns": ["id"]})
        t = res["meta"]["timing"]
        assert t["planningMs"] >= 0
        assert t["executionMs"] >= 0


class TestValidateEndpoint:
    def test_validate_query_zero_io(self, engine):
        issues = engine.validate_query(
            {"from": "samples",
             "filters": [{"column": "nope", "operator": "=", "value": 1}]}
        )
        assert any(i["code"] == "UNKNOWN_COLUMN" for i in issues)

    def test_validate_query_ok(self, engine):
        assert engine.validate_query({"from": "samples"}) == []


class TestLifecycle:
    def test_health_check(self, engine):
        h = engine.health_check()
        assert h["healthy"] is True
        assert "pg-main" in h["executors"]

    def test_reload_and_close(self, spark):
        from tests import fixtures
        from concept_multi_db_query_engine_spark import MultiDb, ConfigError

        registry = fixtures.build_registry(spark)
        db = MultiDb(spark, fixtures.METADATA, fixtures.ROLES, registry)
        assert db.query({"from": "samples", "executeMode": "count"})["count"] == 5

        # invalid reload preserves the old snapshot (TESTS.md:382 #228)
        bad = {"databases": [], "tables": [{"apiName": "x", "database": "ghost",
                                            "columns": []}]}
        with pytest.raises(ConfigError):
            db.reload_metadata(bad)
        assert db.query({"from": "samples", "executeMode": "count"})["count"] == 5

        db.close()
        # C1313: post-close queries raise ExecutionError EXECUTOR_MISSING
        from concept_multi_db_query_engine_spark import ExecutionError
        with pytest.raises(ExecutionError) as err:
            db.query({"from": "samples"})
        assert "EXECUTOR_MISSING" in err.value.error_codes


def test_jdbc_source_option_plumbing():
    from concept_multi_db_query_engine_spark.sources import JdbcSource

    src = JdbcSource(
        "jdbc:postgresql://db:5432/app",
        properties={"user": "svc"},
        schema="public",
        partition_column="id",
        num_partitions=16,
        timeout_s=30,
    )
    opts = src.reader_options("orders", bounds=(1, 5000))
    assert opts["dbtable"] == "public.orders"
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "16"
    # Spark requires all four partition options together
    assert opts["lowerBound"] == "1"
    assert opts["upperBound"] == "5000"
    assert opts["queryTimeout"] == "30"
    assert src.ping() is True


def test_jdbc_source_explicit_bounds():
    from concept_multi_db_query_engine_spark.sources import JdbcSource

    src = JdbcSource(
        "jdbc:postgresql://db:5432/app",
        partition_column="id",
        lower_bound=10,
        upper_bound=99,
    )
    opts = src.reader_options("orders")
    assert (opts["lowerBound"], opts["upperBound"]) == ("10", "99")
