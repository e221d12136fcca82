"""Port of the reference's contract suite, sections 1-9 + 17-18
(CONTRACT_TESTS.md:386-658, 1128-1188) — exact row-set assertions against the
FIXTURES.md seed data, single 'spark' dialect (the ×3 pg/ch/trino
parameterization collapses: Spark is both executor and federation layer).

Every test name carries its contract ID (C001...C1716) for traceability.
Sections 10-13 (ACL/masking/validation-errors/meta) are covered by
tests/test_access_masking.py, test_validation_fuzz.py, and
test_planner_modes.py; sections 14-16 (HTTP transport, injection) by
test_http_server.py and test_sqlonly_sweep.py.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from concept_multi_db_query_engine_spark import (
    ConfigError,
    Metadata,
    RoleMeta,
    ValidationError,
)
from concept_multi_db_query_engine_spark.config_validation import validate_config

from tests import fixtures


def check_config(meta_dict, role_dicts):
    """POST /validate/config analog: dict payload → typed config validation."""
    validate_config(
        Metadata.from_dict(meta_dict),
        [RoleMeta.from_dict(r) for r in role_dicts],
    )


def run(engine, defn, context=None):
    return engine.query(defn, context)


def ids_of(result, key="id"):
    return sorted(r[key] for r in result["data"])


ADMIN = {"roles": {"user": ["admin"]}}


# ---------------------------------------------------------------------------
# 1. Execute Modes (C001-C027)
# ---------------------------------------------------------------------------


class TestDataMode:
    def test_c001_default_execute_returns_data(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id", "status"]}, ADMIN)
        assert res["kind"] == "data"
        assert isinstance(res["data"], list) and len(res["data"]) >= 1
        assert all({"id", "status"} <= set(r.keys()) for r in res["data"])

    def test_c002_meta_columns(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id", "status"]}, ADMIN)
        cols = res["meta"]["columns"]
        assert len(cols) == 2
        for c in cols:
            assert {"apiName", "type", "nullable", "fromTable", "masked"} <= set(c)
            assert c["masked"] is False

    def test_c003_meta_timing(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id"]}, ADMIN)
        t = res["meta"]["timing"]
        assert t["planningMs"] >= 0
        assert t["generationMs"] >= 0
        assert t["executionMs"] >= 0

    def test_c004_meta_strategy(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id"]}, ADMIN)
        assert res["meta"]["strategy"] in (
            "direct", "cache", "materialized", "trino-cross-db"
        )

    def test_c005_meta_tables_used(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id"]}, ADMIN)
        used = res["meta"]["tablesUsed"]
        assert isinstance(used, list) and len(used) >= 1
        for t in used:
            assert {"tableId", "source", "database", "physicalName"} <= set(t)

    def test_c006_omitting_columns_returns_all_allowed(self, engine):
        res = run(engine, {"from": "orders"}, ADMIN)
        api_names = {c["apiName"] for c in res["meta"]["columns"]}
        assert api_names == {
            "id", "customerId", "productId", "total", "discount", "status",
            "internalNote", "createdAt", "quantity", "isPaid", "priorities",
        }

    def test_c007_no_debug_log_by_default(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id"]}, ADMIN)
        assert "debugLog" not in res


class TestSqlOnlyMode:
    def test_c010_sql_only_returns_sql_result(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": ["id"], "executeMode": "sql-only"},
            ADMIN,
        )
        assert res["kind"] == "sql"
        assert "SELECT" in res["sql"]
        assert isinstance(res["params"], list)

    def test_c011_sql_only_has_no_data(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": ["id"], "executeMode": "sql-only"},
            ADMIN,
        )
        assert "data" not in res

    def test_c012_sql_only_meta_columns(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": ["id"], "executeMode": "sql-only"},
            ADMIN,
        )
        assert len(res["meta"]["columns"]) == 1
        assert res["meta"]["columns"][0]["apiName"] == "id"

    def test_c013_sql_only_no_execution_ms(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": ["id"], "executeMode": "sql-only"},
            ADMIN,
        )
        t = res["meta"]["timing"]
        assert "executionMs" not in t
        assert "planningMs" in t and "generationMs" in t

    def test_c014_sql_only_parameterized(self, engine):
        res = run(
            engine,
            {
                "from": "orders", "columns": ["id"],
                "filters": [{"column": "status", "operator": "=",
                             "value": "active"}],
                "executeMode": "sql-only",
            },
            ADMIN,
        )
        assert len(res["params"]) >= 1
        # placeholder style is dialect-specific: trino '?', spark ':p0',
        # pg '$1', clickhouse '{p1:Type}' (SQL_DIALECTS.md:8)
        assert any(x in res["sql"] for x in ("?", ":p0", "$1", "{p1"))

    def test_c015_sql_only_masking_reported(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": ["id", "total"],
             "executeMode": "sql-only"},
            {"roles": {"user": ["tenant-user"]}},
        )
        total = next(
            c for c in res["meta"]["columns"] if c["apiName"] == "total"
        )
        assert total["masked"] is True

    def test_c016_sql_only_with_join(self, engine):
        res = run(
            engine,
            {"from": "orders", "joins": [{"table": "products"}],
             "columns": ["id"], "executeMode": "sql-only"},
            ADMIN,
        )
        assert res["kind"] == "sql"
        assert "JOIN" in res["sql"]
        assert len(res["meta"]["tablesUsed"]) == 2


class TestCountMode:
    def test_c020_count_mode(self, engine):
        res = run(engine, {"from": "orders", "executeMode": "count"}, ADMIN)
        assert res["kind"] == "count"
        assert isinstance(res["count"], int) and res["count"] >= 5

    def test_c021_count_empty_meta_columns(self, engine):
        res = run(engine, {"from": "orders", "executeMode": "count"}, ADMIN)
        assert res["meta"]["columns"] == []

    def test_c022_count_with_filter(self, engine):
        res = run(
            engine,
            {"from": "orders", "executeMode": "count",
             "filters": [{"column": "status", "operator": "=",
                          "value": "active"}]},
            ADMIN,
        )
        assert res["count"] == 2  # orders 1, 4

    def test_c023_count_ignores_group_by_aggregations(self, engine):
        res = run(
            engine,
            {
                "from": "orders", "executeMode": "count",
                "groupBy": [{"column": "status"}],
                "aggregations": [{"column": "total", "fn": "sum",
                                  "alias": "totalSum"}],
            },
            ADMIN,
        )
        assert res["kind"] == "count"
        assert res["count"] == 5

    def test_c024_count_ignores_order_limit_offset(self, engine):
        res = run(
            engine,
            {"from": "orders", "executeMode": "count",
             "orderBy": [{"column": "id", "direction": "asc"}],
             "limit": 2, "offset": 1},
            ADMIN,
        )
        assert res["count"] >= 5

    def test_c025_count_with_join(self, engine):
        res = run(
            engine,
            {"from": "orders", "joins": [{"table": "products"}],
             "executeMode": "count"},
            ADMIN,
        )
        assert res["kind"] == "count"
        assert res["count"] == 5  # left join, orders 1-5 each match <=1 product

    def test_c026_count_restricted_role(self, engine):
        res = run(
            engine,
            {"from": "orders", "executeMode": "count"},
            {"roles": {"user": ["tenant-user"]}},
        )
        assert res["kind"] == "count"
        assert res["count"] == 5

    def test_c027_count_zero_rows(self, engine):
        res = run(
            engine,
            {"from": "orders", "executeMode": "count",
             "filters": [{"column": "status", "operator": "=",
                          "value": "nonexistent"}]},
            ADMIN,
        )
        assert res["count"] == 0


# ---------------------------------------------------------------------------
# 2. Debug Mode (C030-C034)
# ---------------------------------------------------------------------------


class TestDebugMode:
    def test_c030_debug_includes_log(self, engine):
        res = run(
            engine, {"from": "orders", "columns": ["id"], "debug": True}, ADMIN
        )
        assert isinstance(res["debugLog"], list) and len(res["debugLog"]) > 0

    def test_c031_debug_entry_fields(self, engine):
        res = run(
            engine, {"from": "orders", "columns": ["id"], "debug": True}, ADMIN
        )
        for e in res["debugLog"]:
            assert isinstance(e["timestamp"], (int, float))
            assert isinstance(e["phase"], str)
            assert isinstance(e["message"], str)

    def test_c032_debug_covers_phases(self, engine):
        res = run(
            engine, {"from": "orders", "columns": ["id"], "debug": True}, ADMIN
        )
        phases = {e["phase"] for e in res["debugLog"]}
        assert {"validation", "access-control", "planning",
                "name-resolution", "sql-generation"} <= phases

    def test_c033_debug_with_sql_only(self, engine):
        res = run(
            engine,
            {"from": "orders", "executeMode": "sql-only", "debug": True},
            ADMIN,
        )
        assert res["kind"] == "sql"
        assert isinstance(res["debugLog"], list)

    def test_c034_debug_with_count(self, engine):
        res = run(
            engine,
            {"from": "orders", "executeMode": "count", "debug": True},
            ADMIN,
        )
        assert res["kind"] == "count"
        assert isinstance(res["debugLog"], list)


# ---------------------------------------------------------------------------
# 3. Filtering (C100-C196) on the samples mirror table
# ---------------------------------------------------------------------------


def _filter(engine, column, operator, value=None, **extra):
    f = {"column": column, "operator": operator, **extra}
    if value is not None or operator in ("=", "!="):
        f["value"] = value
    return run(
        engine,
        {"from": "samples", "columns": ["id"], "filters": [f]},
        ADMIN,
    )


class TestComparisonOperators:
    @pytest.mark.parametrize(
        "cid,column,op,value,expected",
        [
            ("C100", "status", "=", "active", [1, 4]),
            ("C101", "status", "!=", "cancelled", [1, 2, 4, 5]),
            ("C102", "amount", ">", 100, [2, 4, 5]),
            ("C103", "amount", "<", 200, [1, 3, 5]),
            ("C104", "amount", ">=", 150, [2, 4, 5]),
            ("C105", "amount", "<=", 100, [1, 3]),
            ("C106", "isActive", "=", True, [1, 2, 5]),
            ("C107", "isActive", "!=", True, [3, 4]),
            ("C108", "externalId", "=", "uuid-s1", [1]),
        ],
    )
    def test_comparison(self, engine, cid, column, op, value, expected):
        assert ids_of(_filter(engine, column, op, value)) == expected


class TestPatternOperators:
    @pytest.mark.parametrize(
        "cid,column,op,value,expected",
        [
            ("C110", "email", "like", "%@test%", [1, 2, 3, 4, 5]),
            ("C111", "email", "notLike", "%alpha%", [2, 3, 4, 5]),
            ("C112", "email", "ilike", "%TEST%", [1, 2, 3, 4, 5]),
            ("C113", "email", "notIlike", "%ALPHA%", [2, 3, 4, 5]),
            ("C114", "email", "contains", "alpha", [1]),
            ("C115", "email", "icontains", "ALPHA", [1]),
            ("C116", "email", "notContains", "alpha", [2, 3, 4, 5]),
            ("C117", "email", "notIcontains", "ALPHA", [2, 3, 4, 5]),
            ("C118", "name", "startsWith", "Al", [1]),
            ("C119", "name", "istartsWith", "AL", [1]),
            ("C120", "email", "endsWith", "@test.com", [1, 2, 3, 4, 5]),
            ("C121", "email", "iendsWith", "@TEST.COM", [1, 2, 3, 4, 5]),
            # C122/C123: % and _ in contains are literal, not wildcards
            ("C122", "name", "contains", "Al%ha", []),
            ("C123", "name", "contains", "Al_ha", []),
        ],
    )
    def test_pattern(self, engine, cid, column, op, value, expected):
        assert ids_of(_filter(engine, column, op, value)) == expected


class TestRangeOperators:
    @pytest.mark.parametrize(
        "cid,column,op,value,expected",
        [
            ("C130", "amount", "between", {"from": 100, "to": 200}, [1, 2, 5]),
            ("C131", "amount", "notBetween", {"from": 100, "to": 200}, [3, 4]),
            ("C132", "id", "between", {"from": 2, "to": 4}, [2, 3, 4]),
            ("C133", "createdAt", "between",
             {"from": "2024-01-01T00:00:00Z", "to": "2024-03-31T23:59:59Z"},
             [1, 2, 3]),
            ("C134", "dueDate", "between",
             {"from": "2024-02-01", "to": "2024-05-01"}, [1, 2, 4]),
            ("C135", "id", "notBetween", {"from": 2, "to": 4}, [1, 5]),
        ],
    )
    def test_range(self, engine, cid, column, op, value, expected):
        assert ids_of(_filter(engine, column, op, value)) == expected


class TestSetOperators:
    @pytest.mark.parametrize(
        "cid,column,op,value,expected",
        [
            ("C140", "status", "in", ["active", "paid"], [1, 2, 4]),
            ("C141", "status", "notIn", ["cancelled"], [1, 2, 4, 5]),
            ("C142", "id", "in", [1, 3, 5], [1, 3, 5]),
            ("C143", "externalId", "in", ["uuid-s1", "uuid-s2"], [1, 2]),
            ("C144", "amount", "in", [100.00, 200.00], [1, 2]),
        ],
    )
    def test_set(self, engine, cid, column, op, value, expected):
        assert ids_of(_filter(engine, column, op, value)) == expected


class TestNullOperators:
    @pytest.mark.parametrize(
        "cid,column,op,expected",
        [
            ("C150", "discount", "isNull", [2, 4]),
            ("C151", "discount", "isNotNull", [1, 3, 5]),
            ("C152", "tags", "isNull", [4]),
            ("C153", "tags", "isNotNull", [1, 2, 3, 5]),
        ],
    )
    def test_null(self, engine, cid, column, op, expected):
        assert ids_of(_filter(engine, column, op)) == expected


class TestLevenshtein:
    def test_c160_levenshtein_lte(self, engine):
        res = _filter(
            engine, "name", "levenshteinLte",
            {"text": "Alphb", "maxDistance": 2},
        )
        assert ids_of(res) == [1]


class TestArrayOperators:
    @pytest.mark.parametrize(
        "cid,column,op,value,expected",
        [
            ("C170", "scores", "arrayContains", 1, [1, 5]),
            ("C171", "tags", "arrayContainsAll", ["fast", "new"], [1, 5]),
            ("C172", "tags", "arrayContainsAny", ["slow", "new"], [1, 2, 5]),
            ("C175", "tags", "arrayContainsAll", ["fast"], [1, 3, 5]),
            ("C176", "tags", "arrayContains", "fast", [1, 3, 5]),
        ],
    )
    def test_array_value_ops(self, engine, cid, column, op, value, expected):
        assert ids_of(_filter(engine, column, op, value)) == expected

    def test_c173_array_is_empty(self, engine):
        assert ids_of(_filter(engine, "scores", "arrayIsEmpty")) == [4]

    def test_c174_array_is_not_empty(self, engine):
        assert ids_of(_filter(engine, "scores", "arrayIsNotEmpty")) == [1, 2, 5]


class TestColumnFilters:
    def test_c180_same_table_column_filter(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{"column": "amount", "operator": ">",
                          "refColumn": "discount"}]},
            ADMIN,
        )
        assert ids_of(res) == [1, 3, 5]

    def test_c181_cross_table_column_filter(self, engine):
        res = run(
            engine,
            {
                "from": "samples", "columns": ["id"],
                "joins": [{"table": "sampleItems", "type": "inner",
                           "columns": ["amount"]}],
                "filters": [{"column": "amount", "table": "samples",
                             "operator": ">", "refColumn": "amount",
                             "refTable": "sampleItems"}],
            },
            ADMIN,
        )
        # items where the parent sample's amount exceeds the item's:
        # s1(100)>i1(25) yes, s1(100)>i2(120) no, s2(200)>i3(40) yes,
        # s3(50)>i4(60) no, s5(150)>i5(10) yes, s5(150)>i6(20) yes.
        # Selected keys don't collide (samples.id vs items.amount) so result
        # keys stay unqualified (README.md:522 qualifies collisions only).
        assert ids_of(res) == [1, 2, 5, 5]

    def test_c181_values_correct(self, engine):
        res = run(
            engine,
            {
                "from": "samples", "columns": ["id", "amount"],
                "joins": [{"table": "sampleItems", "type": "inner",
                           "columns": ["amount"]}],
                "filters": [{"column": "amount", "table": "samples",
                             "operator": ">", "refColumn": "amount",
                             "refTable": "sampleItems"}],
            },
            ADMIN,
        )
        for r in res["data"]:
            assert r["samples.amount"] > r["sampleItems.amount"]


class TestFilterGroups:
    def test_c190_or_group(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{
                 "logic": "or",
                 "conditions": [
                     {"column": "status", "operator": "=", "value": "active"},
                     {"column": "status", "operator": "=", "value": "paid"},
                 ]}]},
            ADMIN,
        )
        assert ids_of(res) == [1, 2, 4]

    def test_c191_and_group(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{
                 "logic": "and",
                 "conditions": [
                     {"column": "status", "operator": "=", "value": "active"},
                     {"column": "amount", "operator": ">", "value": 100},
                 ]}]},
            ADMIN,
        )
        assert ids_of(res) == [4]

    def test_c192_not_group(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{
                 "logic": "and", "not": True,
                 "conditions": [
                     {"column": "status", "operator": "=",
                      "value": "cancelled"},
                 ]}]},
            ADMIN,
        )
        assert ids_of(res) == [1, 2, 4, 5]

    def test_c193_nested_groups(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{
                 "logic": "or",
                 "conditions": [
                     {"column": "status", "operator": "=", "value": "active"},
                     {"logic": "and", "conditions": [
                         {"column": "amount", "operator": ">", "value": 100},
                         {"column": "isActive", "operator": "=",
                          "value": True},
                     ]},
                 ]}]},
            ADMIN,
        )
        assert ids_of(res) == [1, 2, 4, 5]

    def test_c194_deeply_nested_groups(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{
                 "logic": "or",
                 "conditions": [
                     {"logic": "and", "conditions": [
                         {"column": "status", "operator": "=",
                          "value": "active"},
                         {"column": "amount", "operator": ">", "value": 50},
                     ]},
                     {"logic": "and", "conditions": [
                         {"column": "status", "operator": "=", "value": "paid"},
                         {"logic": "and", "not": True, "conditions": [
                             {"column": "amount", "operator": "<",
                              "value": 100},
                         ]},
                     ]},
                 ]}]},
            ADMIN,
        )
        assert ids_of(res) == [1, 2, 4]


class TestFilterTableQualifier:
    def test_c195_top_level_filter_on_joined_column(self, engine):
        res = run(
            engine,
            {
                "from": "samples", "columns": ["id"],
                "joins": [{"table": "sampleItems", "type": "inner",
                           "columns": ["category"]}],
                "filters": [{"column": "category", "table": "sampleItems",
                             "operator": "=", "value": "electronics"}],
            },
            ADMIN,
        )
        # 'category' selected only from sampleItems → no collision, unqualified
        assert all(r["category"] == "electronics" for r in res["data"])
        assert len(res["data"]) == 3  # items 1, 4, 6

    def test_c196_explicit_from_table_reference(self, engine):
        explicit = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{"column": "status", "table": "samples",
                          "operator": "=", "value": "active"}]},
            ADMIN,
        )
        implicit = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{"column": "status", "operator": "=",
                          "value": "active"}]},
            ADMIN,
        )
        assert ids_of(explicit) == ids_of(implicit) == [1, 4]


# ---------------------------------------------------------------------------
# 4. Joins (C200-C207)
# ---------------------------------------------------------------------------


class TestJoinContract:
    def test_c200_left_join_default(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "joins": [{"table": "sampleItems", "columns": ["label"]}]},
            ADMIN,
        )
        assert len(res["data"]) == 7  # 6 items + sample 4 NULL-extended
        assert [r["label"] for r in res["data"] if r["id"] == 4] == [None]

    def test_c201_inner_join(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "joins": [{"table": "sampleItems", "type": "inner",
                        "columns": ["label"]}]},
            ADMIN,
        )
        assert 4 not in ids_of(res)
        assert len(res["data"]) == 6

    def test_c202_transitive_three_table_join(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "joins": [
                 {"table": "sampleItems", "type": "inner",
                  "columns": ["label"]},
                 {"table": "sampleDetails", "type": "inner",
                  "columns": ["info"]},
             ]},
            ADMIN,
        )
        assert len(res["data"]) == 4
        assert {r["label"] for r in res["data"]} == {
            "item-A", "item-B", "item-C", "item-E",
        }

    def test_c203_join_column_selection(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "joins": [{"table": "sampleItems", "columns": ["label"]}]},
            ADMIN,
        )
        assert set(res["data"][0].keys()) == {"id", "label"}

    def test_c204_join_with_empty_columns(self, engine):
        res = run(
            engine,
            {
                "from": "samples", "columns": [],
                "joins": [{"table": "sampleItems", "type": "inner",
                           "columns": []}],
                "groupBy": [{"column": "category", "table": "sampleItems"}],
                "aggregations": [{"column": "*", "fn": "count",
                                  "alias": "cnt"}],
            },
            ADMIN,
        )
        # explicit columns: [] = aggregation-only result (README.md:284) —
        # the grouping key is not selected, one row per item category
        assert set(res["data"][0].keys()) == {"cnt"}
        assert sorted(r["cnt"] for r in res["data"]) == [1, 2, 3]

    def test_c205_join_scoped_filter(self, engine):
        res = run(
            engine,
            {
                "from": "samples", "columns": ["id"],
                "joins": [{
                    "table": "sampleItems", "columns": ["label", "category"],
                    "filters": [{"column": "category", "operator": "=",
                                 "value": "electronics"}],
                }],
            },
            ADMIN,
        )
        # join filters land in WHERE → LEFT JOIN behaves as INNER (QUERY.md:57-60)
        assert all(r["category"] == "electronics" for r in res["data"])
        assert len(res["data"]) == 3

    def test_c206_column_collision_qualified(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id", "category"],
             "joins": [{"table": "sampleItems", "type": "inner",
                        "columns": ["id", "category"]}]},
            ADMIN,
        )
        keys = set(res["data"][0].keys())
        assert keys == {"samples.id", "samples.category",
                        "sampleItems.id", "sampleItems.category"}
        meta_names = {c["apiName"] for c in res["meta"]["columns"]}
        assert meta_names == keys

    def test_c207_top_level_vs_join_scoped_filter_equal(self, engine):
        top = run(
            engine,
            {
                "from": "samples", "columns": ["id"],
                "joins": [{"table": "sampleItems", "type": "inner",
                           "columns": ["id"]}],
                "filters": [{"column": "category", "table": "sampleItems",
                             "operator": "=", "value": "electronics"}],
            },
            ADMIN,
        )
        scoped = run(
            engine,
            {
                "from": "samples", "columns": ["id"],
                "joins": [{
                    "table": "sampleItems", "type": "inner",
                    "columns": ["id"],
                    "filters": [{"column": "category", "operator": "=",
                                 "value": "electronics"}],
                }],
            },
            ADMIN,
        )
        assert (ids_of(top, "sampleItems.id")
                == ids_of(scoped, "sampleItems.id") == [1, 4, 6])


# ---------------------------------------------------------------------------
# 5. Aggregations (C300-C310)
# ---------------------------------------------------------------------------


class TestAggregationContract:
    def test_c300_count_star(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": [],
             "aggregations": [{"column": "*", "fn": "count",
                               "alias": "total"}]},
            ADMIN,
        )
        assert res["kind"] == "data"
        assert len(res["data"]) == 1
        assert res["data"][0]["total"] == 5

    def test_c301_sum_grouped(self, engine):
        res = run(
            engine,
            {"from": "samples", "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "amount", "fn": "sum",
                               "alias": "totalAmt"}]},
            ADMIN,
        )
        by_status = {r["status"]: r["totalAmt"] for r in res["data"]}
        assert by_status == {
            "active": Decimal("400.00"), "paid": Decimal("200.00"),
            "cancelled": Decimal("50.00"), "shipped": Decimal("150.00"),
        }

    def test_c302_avg_returns_decimal(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": [],
             "aggregations": [{"column": "amount", "fn": "avg",
                               "alias": "avgAmt"}]},
            ADMIN,
        )
        assert isinstance(res["data"][0]["avgAmt"], Decimal)
        assert res["data"][0]["avgAmt"] == Decimal("160.00")
        col = next(c for c in res["meta"]["columns"]
                   if c["apiName"] == "avgAmt")
        assert col["type"] == "decimal"  # QUERY.md:173: avg → always decimal

    def test_c303_min_preserves_timestamp(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": [],
             "aggregations": [{"column": "createdAt", "fn": "min",
                               "alias": "earliest"}]},
            ADMIN,
        )
        assert res["data"][0]["earliest"] == dt.datetime(2024, 1, 15, 10, 0)
        col = next(c for c in res["meta"]["columns"]
                   if c["apiName"] == "earliest")
        assert col["type"] == "timestamp"

    def test_c304_max(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": [],
             "aggregations": [{"column": "amount", "fn": "max",
                               "alias": "maxAmt"}]},
            ADMIN,
        )
        assert res["data"][0]["maxAmt"] == Decimal("300.00")

    def test_c305_count_column_skips_nulls(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": [],
             "aggregations": [{"column": "discount", "fn": "count",
                               "alias": "discountCount"}]},
            ADMIN,
        )
        assert res["data"][0]["discountCount"] == 3  # ids 1, 3, 5

    def test_c306_multiple_aggregations(self, engine):
        res = run(
            engine,
            {"from": "samples", "groupBy": [{"column": "status"}],
             "aggregations": [
                 {"column": "amount", "fn": "sum", "alias": "totalAmt"},
                 {"column": "*", "fn": "count", "alias": "cnt"},
             ]},
            ADMIN,
        )
        active = next(r for r in res["data"] if r["status"] == "active")
        assert active["totalAmt"] == Decimal("400.00")
        assert active["cnt"] == 2

    def test_c307_aggregation_on_joined_column(self, engine):
        res = run(
            engine,
            {
                "from": "samples", "columns": [],
                "joins": [{"table": "sampleItems", "type": "inner",
                           "columns": []}],
                "aggregations": [{"column": "amount", "table": "sampleItems",
                                  "fn": "sum", "alias": "totalItemAmt"}],
            },
            ADMIN,
        )
        assert res["data"][0]["totalItemAmt"] == Decimal("275.00")

    def test_c308_aggregation_only(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": [],
             "aggregations": [{"column": "amount", "fn": "sum",
                               "alias": "totalAmt"}]},
            ADMIN,
        )
        assert set(res["data"][0].keys()) == {"totalAmt"}
        assert res["data"][0]["totalAmt"] == Decimal("800.00")

    def test_c309_columns_omitted_defers_to_group_by(self, engine):
        res = run(
            engine,
            {"from": "samples", "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "amount", "fn": "sum",
                               "alias": "totalAmt"}]},
            ADMIN,
        )
        assert set(res["data"][0].keys()) == {"status", "totalAmt"}

    def test_c310_sum_skips_nulls(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": [],
             "aggregations": [{"column": "discount", "fn": "sum",
                               "alias": "discountSum"}]},
            ADMIN,
        )
        assert res["data"][0]["discountSum"] == Decimal("15.00")


# ---------------------------------------------------------------------------
# 6. GROUP BY & HAVING (C320-C329)
# ---------------------------------------------------------------------------


class TestGroupByHaving:
    def test_c320_group_by_single(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["status"],
             "groupBy": [{"column": "status"}]},
            ADMIN,
        )
        assert sorted(r["status"] for r in res["data"]) == [
            "active", "cancelled", "paid", "shipped",
        ]

    def test_c321_group_by_multi(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["status", "isActive"],
             "groupBy": [{"column": "status"}, {"column": "isActive"}],
             "aggregations": [{"column": "*", "fn": "count",
                               "alias": "cnt"}]},
            ADMIN,
        )
        # (active,true) (active,null) (paid,true) (cancelled,false) (shipped,true)
        assert len(res["data"]) == 5
        assert all({"status", "isActive", "cnt"} == set(r) for r in res["data"])

    def test_c322_having_single(self, engine):
        res = run(
            engine,
            {"from": "samples", "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "amount", "fn": "sum",
                               "alias": "totalAmt"}],
             "having": [{"column": "totalAmt", "operator": ">",
                         "value": 100}]},
            ADMIN,
        )
        assert sorted(r["status"] for r in res["data"]) == [
            "active", "paid", "shipped",
        ]

    def test_c323_having_or_group(self, engine):
        res = run(
            engine,
            {"from": "samples", "groupBy": [{"column": "status"}],
             "aggregations": [
                 {"column": "amount", "fn": "sum", "alias": "sumAmt"},
                 {"column": "amount", "fn": "avg", "alias": "avgAmt"},
             ],
             "having": [{
                 "logic": "or",
                 "conditions": [
                     {"column": "sumAmt", "operator": ">", "value": 250},
                     {"column": "avgAmt", "operator": ">", "value": 150},
                 ]}]},
            ADMIN,
        )
        assert sorted(r["status"] for r in res["data"]) == ["active", "paid"]

    def test_c324_having_between(self, engine):
        res = run(
            engine,
            {"from": "samples", "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "amount", "fn": "sum",
                               "alias": "totalAmt"}],
             "having": [{"column": "totalAmt", "operator": "between",
                         "value": {"from": 100, "to": 300}}]},
            ADMIN,
        )
        assert sorted(r["status"] for r in res["data"]) == ["paid", "shipped"]

    def test_c325_having_not_between(self, engine):
        res = run(
            engine,
            {"from": "samples", "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "amount", "fn": "sum",
                               "alias": "totalAmt"}],
             "having": [{"column": "totalAmt", "operator": "notBetween",
                         "value": {"from": 100, "to": 300}}]},
            ADMIN,
        )
        assert sorted(r["status"] for r in res["data"]) == [
            "active", "cancelled",
        ]

    def test_c326_having_is_null(self, engine):
        res = run(
            engine,
            {"from": "samples", "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "discount", "fn": "sum",
                               "alias": "discountSum"}],
             "having": [{"column": "discountSum", "operator": "isNull"}]},
            ADMIN,
        )
        assert [r["status"] for r in res["data"]] == ["paid"]

    def test_c327_having_not_group(self, engine):
        res = run(
            engine,
            {"from": "samples", "groupBy": [{"column": "status"}],
             "aggregations": [
                 {"column": "amount", "fn": "sum", "alias": "sumAmt"},
                 {"column": "*", "fn": "count", "alias": "cnt"},
             ],
             "having": [{
                 "logic": "or", "not": True,
                 "conditions": [
                     {"column": "sumAmt", "operator": ">", "value": 100},
                     {"column": "cnt", "operator": ">", "value": 1},
                 ]}]},
            ADMIN,
        )
        assert [r["status"] for r in res["data"]] == ["cancelled"]

    def test_c328_order_by_aggregation_alias(self, engine):
        res = run(
            engine,
            {"from": "samples", "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "amount", "fn": "sum",
                               "alias": "totalAmt"}],
             "orderBy": [{"column": "totalAmt", "direction": "desc"}]},
            ADMIN,
        )
        amounts = [r["totalAmt"] for r in res["data"]]
        assert amounts == sorted(amounts, reverse=True)
        assert res["data"][0]["status"] == "active"

    def test_c329_group_by_joined_column(self, engine):
        res = run(
            engine,
            {
                "from": "samples", "columns": [],
                "joins": [{"table": "sampleItems", "type": "inner",
                           "columns": []}],
                "groupBy": [{"column": "category", "table": "sampleItems"}],
                "aggregations": [{"column": "*", "fn": "count",
                                  "alias": "cnt"}],
            },
            ADMIN,
        )
        # columns: [] → aggregation-only rows; one per item category
        assert sorted(r["cnt"] for r in res["data"]) == [1, 2, 3]


# ---------------------------------------------------------------------------
# 7. ORDER BY, LIMIT, OFFSET, DISTINCT (C400-C407)
# ---------------------------------------------------------------------------


class TestOrderLimitDistinct:
    def test_c400_order_asc(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id", "amount"],
             "orderBy": [{"column": "amount", "direction": "asc"}]},
            ADMIN,
        )
        assert [r["id"] for r in res["data"]] == [3, 1, 5, 2, 4]

    def test_c401_order_desc(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id", "amount"],
             "orderBy": [{"column": "amount", "direction": "desc"}]},
            ADMIN,
        )
        assert [r["id"] for r in res["data"]] == [4, 2, 5, 1, 3]

    def test_c402_order_multi_column(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id", "category", "amount"],
             "orderBy": [
                 {"column": "category", "direction": "asc"},
                 {"column": "amount", "direction": "desc"},
             ]},
            ADMIN,
        )
        assert [r["id"] for r in res["data"]] == [2, 5, 1, 3, 4]

    def test_c403_order_by_joined_column(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "joins": [{"table": "sampleItems", "type": "inner",
                        "columns": ["category", "id"]}],
             "orderBy": [
                 {"column": "category", "table": "sampleItems",
                  "direction": "asc"},
                 {"column": "id", "table": "sampleItems",
                  "direction": "asc"},
             ]},
            ADMIN,
        )
        # 'id' collides (qualified); 'category' doesn't (unqualified)
        cats = [r["category"] for r in res["data"]]
        assert cats == sorted(cats)

    def test_c404_limit(self, engine):
        res = run(engine, {"from": "samples", "limit": 2}, ADMIN)
        assert len(res["data"]) <= 2

    def test_c405_limit_offset(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "orderBy": [{"column": "id", "direction": "asc"}],
             "limit": 2, "offset": 2},
            ADMIN,
        )
        assert [r["id"] for r in res["data"]] == [3, 4]

    def test_c406_distinct(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["status"], "distinct": True},
            ADMIN,
        )
        assert sorted(r["status"] for r in res["data"]) == [
            "active", "cancelled", "paid", "shipped",
        ]

    def test_c407_distinct_with_group_by_noop(self, engine):
        res = run(
            engine,
            {"from": "samples", "distinct": True, "columns": ["status"],
             "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "amount", "fn": "sum",
                               "alias": "totalAmt"}]},
            ADMIN,
        )
        assert len(res["data"]) == 4  # DISTINCT is a no-op under GROUP BY


# ---------------------------------------------------------------------------
# 8. byIds (C500-C507)
# ---------------------------------------------------------------------------


class TestByIds:
    def test_c500_by_ids(self, engine):
        res = run(engine, {"from": "samples", "byIds": [1, 2]}, ADMIN)
        assert ids_of(res) == [1, 2]

    def test_c501_by_ids_nonexistent(self, engine):
        res = run(engine, {"from": "samples", "byIds": [1, 999]}, ADMIN)
        assert ids_of(res) == [1]

    def test_c502_by_ids_count(self, engine):
        res = run(
            engine,
            {"from": "samples", "byIds": [1, 2, 3], "executeMode": "count"},
            ADMIN,
        )
        assert res["kind"] == "count"
        assert res["count"] == 3

    def test_c503_by_ids_with_join(self, engine):
        res = run(
            engine,
            {"from": "samples", "byIds": [1, 2], "columns": ["id"],
             "joins": [{"table": "sampleItems", "columns": ["label"]}]},
            ADMIN,
        )
        assert sorted(r["label"] for r in res["data"]) == [
            "item-A", "item-B", "item-C",
        ]

    def test_c504_by_ids_column_selection(self, engine):
        res = run(
            engine,
            {"from": "samples", "byIds": [1], "columns": ["id", "status"]},
            ADMIN,
        )
        assert set(res["data"][0].keys()) == {"id", "status"}

    def test_c505_by_ids_composite_pk_rejected(self, engine):
        with pytest.raises(ValidationError) as err:
            run(engine, {"from": "orderItems", "byIds": [1, 2]}, ADMIN)
        assert any(e["code"] == "INVALID_BY_IDS"
                   for e in err.value.to_json()["errors"])

    def test_c506_by_ids_with_filter(self, engine):
        res = run(
            engine,
            {"from": "samples", "byIds": [1, 2, 3],
             "filters": [{"column": "status", "operator": "=",
                          "value": "active"}]},
            ADMIN,
        )
        assert ids_of(res) == [1]

    def test_c507_by_ids_sql_only(self, engine):
        res = run(
            engine,
            {"from": "samples", "byIds": [1, 2], "executeMode": "sql-only"},
            ADMIN,
        )
        assert res["kind"] == "sql"
        assert "WHERE" in res["sql"]
        # pg dialect binds the id list as ONE array parameter
        # (= ANY($1::integer[])); other dialects expand per-element —
        # either way both ids must ride as parameters, never inline
        flat = [x for p in res["params"]
                for x in (p if isinstance(p, list) else [p])]
        assert 1 in flat and 2 in flat
        assert "1" not in res["sql"].replace("$1", "")


# ---------------------------------------------------------------------------
# 9. EXISTS / NOT EXISTS (C600-C613)
# ---------------------------------------------------------------------------


class TestExistsContract:
    def test_c600_exists(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{"table": "sampleItems", "exists": True}]},
            ADMIN,
        )
        assert ids_of(res) == [1, 2, 3, 5]

    def test_c601_not_exists(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{"table": "sampleItems", "exists": False}]},
            ADMIN,
        )
        assert ids_of(res) == [4]

    def test_c602_exists_with_subfilter(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{
                 "table": "sampleItems", "exists": True,
                 "filters": [{"column": "status", "operator": "=",
                              "value": "paid"}],
             }]},
            ADMIN,
        )
        assert ids_of(res) == [2, 5]

    def test_c603_exists_inside_or_group(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{
                 "logic": "or",
                 "conditions": [
                     {"column": "status", "operator": "=",
                      "value": "cancelled"},
                     {"table": "sampleItems", "exists": True},
                 ]}]},
            ADMIN,
        )
        assert ids_of(res) == [1, 2, 3, 5]

    def test_c604_nested_exists(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{
                 "table": "sampleItems", "exists": True,
                 "filters": [{"table": "sampleDetails", "exists": True}],
             }]},
            ADMIN,
        )
        assert ids_of(res) == [1, 2, 5]

    @pytest.mark.parametrize(
        "cid,count,expected",
        [
            ("C605", {"operator": ">=", "value": 2}, [1, 5]),
            ("C606", {"operator": "=", "value": 1}, [2, 3]),
            ("C610", {"operator": ">", "value": 1}, [1, 5]),
            ("C611", {"operator": "<", "value": 2}, [2, 3, 4]),
            ("C612", {"operator": "!=", "value": 0}, [1, 2, 3, 5]),
            ("C613", {"operator": "<=", "value": 1}, [2, 3, 4]),
        ],
    )
    def test_counted_exists(self, engine, cid, count, expected):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{"table": "sampleItems", "count": count}]},
            ADMIN,
        )
        assert ids_of(res) == expected

    def test_c607_counted_exists_ignores_exists_field(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{"table": "sampleItems", "exists": False,
                          "count": {"operator": ">=", "value": 1}}]},
            ADMIN,
        )
        assert ids_of(res) == [1, 2, 3, 5]

    def test_c608_self_referencing_exists(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{"table": "samples", "exists": True}]},
            ADMIN,
        )
        assert ids_of(res) == [1, 2]  # samples 1, 2 manage others

    def test_c609_exists_with_join(self, engine):
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "joins": [{"table": "sampleItems", "type": "inner",
                        "columns": ["label"]}],
             "filters": [{"table": "samples", "exists": True}]},
            ADMIN,
        )
        # managers with items: 1 (2 items), 2 (1 item)
        assert ids_of(res) == [1, 1, 2]
        assert all("label" in r for r in res["data"])


# ---------------------------------------------------------------------------
# 17. Validation Endpoints (C1600-C1632) — zero I/O
# ---------------------------------------------------------------------------


class TestValidateQueryEndpoint:
    def test_c1600_valid_query_passes(self, engine):
        assert engine.validate_query(
            {"from": "orders", "columns": ["id"]}, ADMIN
        ) == []

    @pytest.mark.parametrize(
        "cid,defn,context,code",
        [
            ("C1601", {"from": "nonExistentTable"}, ADMIN, "UNKNOWN_TABLE"),
            ("C1602", {"from": "orders", "columns": ["nope"]}, ADMIN,
             "UNKNOWN_COLUMN"),
            ("C1603", {"from": "orders", "columns": ["internalNote"]},
             {"roles": {"user": ["tenant-user"]}}, "ACCESS_DENIED"),
            ("C1604", {"from": "orders",
                       "filters": [{"column": "customerId", "operator": ">",
                                    "value": "x"}]},
             ADMIN, "INVALID_FILTER"),
            ("C1605", {"from": "orders",
                       "filters": [{"column": "total", "operator": "between",
                                    "value": {"from": 1}}]},
             ADMIN, "INVALID_VALUE"),
            ("C1607", {"from": "orders"},
             {"roles": {"user": ["nonexistent"]}}, "UNKNOWN_ROLE"),
        ],
    )
    def test_invalid_query_rejected(self, engine, cid, defn, context, code):
        issues = engine.validate_query(defn, context)
        assert any(i["code"] == code for i in issues)

    def test_c1606_multiple_errors_collected(self, engine):
        issues = engine.validate_query(
            {"from": "orders", "columns": ["nope1", "nope2"],
             "filters": [{"column": "customerId", "operator": ">",
                          "value": "x"}]},
            ADMIN,
        )
        assert len(issues) >= 3

    def test_c1609_same_error_format_as_query(self, engine):
        defn = {"from": "orders", "columns": ["nope"]}
        endpoint_issues = engine.validate_query(defn, ADMIN)
        with pytest.raises(ValidationError) as err:
            run(engine, defn, ADMIN)
        query_issues = err.value.to_json()["errors"]
        assert endpoint_issues == query_issues


def _meta_with(**overrides):
    meta = {
        "databases": [{"id": "db1", "engine": "postgres"}],
        "tables": [{
            "id": "t1", "apiName": "widgets", "database": "db1",
            "physicalName": "widgets", "primaryKey": ["id"],
            "columns": [
                {"apiName": "id", "physicalName": "id", "type": "int"},
            ],
        }],
    }
    meta.update(overrides)
    return meta


class TestValidateConfigEndpoint:
    def test_c1620_valid_config_passes(self):
        check_config(_meta_with(), [{"id": "admin", "tables": "*"}])

    @pytest.mark.parametrize(
        "cid,api_name",
        [
            ("C1621", "Order_Items"),
            ("C1629", "Orders"),
            ("C1630", "order_items"),
        ],
    )
    def test_invalid_api_name(self, cid, api_name):
        meta = _meta_with()
        meta["tables"][0]["apiName"] = api_name
        with pytest.raises(ConfigError) as err:
            check_config(meta, [])
        assert any(e["code"] == "INVALID_API_NAME"
                   for e in err.value.to_json()["errors"])

    def test_c1622_duplicate_table_api_name(self):
        meta = _meta_with()
        meta["tables"].append({**meta["tables"][0], "id": "t2"})
        with pytest.raises(ConfigError) as err:
            check_config(meta, [])
        assert any(e["code"] == "DUPLICATE_API_NAME"
                   for e in err.value.to_json()["errors"])

    def test_c1623_invalid_db_reference(self):
        meta = _meta_with()
        meta["tables"][0]["database"] = "ghost-db"
        with pytest.raises(ConfigError) as err:
            check_config(meta, [])
        assert any(e["code"] == "INVALID_REFERENCE"
                   for e in err.value.to_json()["errors"])

    def test_c1624_invalid_relation_table(self):
        meta = _meta_with()
        meta["tables"][0]["relations"] = [
            {"column": "id", "references": {"table": "ghost", "column": "id"},
             "type": "many-to-one"},
        ]
        with pytest.raises(ConfigError) as err:
            check_config(meta, [])
        assert any(e["code"] == "INVALID_RELATION"
                   for e in err.value.to_json()["errors"])

    def test_c1625_invalid_sync_reference(self):
        meta = _meta_with(externalSyncs=[
            {"sourceTable": "ghost", "targetDatabase": "db1",
             "targetPhysicalName": "x", "estimatedLag": "seconds"},
        ])
        with pytest.raises(ConfigError) as err:
            check_config(meta, [])
        assert any(e["code"] == "INVALID_SYNC"
                   for e in err.value.to_json()["errors"])

    def test_c1626_invalid_cache_config(self):
        meta = _meta_with(caches=[
            {"id": "c1", "engine": "redis",
             "tables": [{"tableId": "ghost", "keyPattern": "g:{id}"}]},
        ])
        with pytest.raises(ConfigError) as err:
            check_config(meta, [])
        assert any(e["code"] == "INVALID_CACHE"
                   for e in err.value.to_json()["errors"])

    def test_c1627_multiple_config_errors(self):
        meta = _meta_with()
        meta["tables"][0]["apiName"] = "Bad_Name"
        meta["tables"][0]["database"] = "ghost-db"
        with pytest.raises(ConfigError) as err:
            check_config(meta, [])
        assert len(err.value.to_json()["errors"]) >= 2

    def test_c1628_duplicate_column_api_name(self):
        meta = _meta_with()
        meta["tables"][0]["columns"].append(
            {"apiName": "id", "physicalName": "id2", "type": "int"}
        )
        with pytest.raises(ConfigError) as err:
            check_config(meta, [])
        assert any(e["code"] == "DUPLICATE_API_NAME"
                   for e in err.value.to_json()["errors"])

    def test_c1631_relation_source_column_missing(self):
        meta = _meta_with()
        meta["tables"][0]["relations"] = [
            {"column": "ghostCol",
             "references": {"table": "widgets", "column": "id"},
             "type": "many-to-one"},
        ]
        with pytest.raises(ConfigError) as err:
            check_config(meta, [])
        assert any(e["code"] == "INVALID_RELATION"
                   for e in err.value.to_json()["errors"])

    def test_c1632_relation_target_column_missing(self):
        meta = _meta_with()
        meta["tables"][0]["relations"] = [
            {"column": "id",
             "references": {"table": "widgets", "column": "ghostCol"},
             "type": "many-to-one"},
        ]
        with pytest.raises(ConfigError) as err:
            check_config(meta, [])
        assert any(e["code"] == "INVALID_RELATION"
                   for e in err.value.to_json()["errors"])


# ---------------------------------------------------------------------------
# 18. Edge Cases (C1700-C1716)
# ---------------------------------------------------------------------------


class TestEdgeCases:
    def test_c1700_empty_result_set(self, engine):
        res = run(
            engine,
            {"from": "orders",
             "filters": [{"column": "status", "operator": "=",
                          "value": "nonexistent_status_xyz"}]},
            ADMIN,
        )
        assert res["kind"] == "data"
        assert res["data"] == []
        assert len(res["meta"]["columns"]) > 0

    def test_c1701_single_row(self, engine):
        res = run(engine, {"from": "orders", "byIds": [1]}, ADMIN)
        assert len(res["data"]) == 1

    def test_c1702_large_in_list(self, engine):
        values = [f"status-{i}" for i in range(50)] + ["active"]
        res = run(
            engine,
            {"from": "orders", "columns": ["id"],
             "filters": [{"column": "status", "operator": "in",
                          "value": values}]},
            ADMIN,
        )
        assert ids_of(res) == [1, 4]

    def test_c1703_nullable_column(self, engine):
        res = run(
            engine, {"from": "orders", "columns": ["id", "discount"]}, ADMIN
        )
        discounts = {r["id"]: r["discount"] for r in res["data"]}
        assert discounts[2] is None and discounts[4] is None

    def test_c1704_boolean_values(self, engine):
        res = run(
            engine, {"from": "orders", "columns": ["id", "isPaid"]}, ADMIN
        )
        paid = {r["id"]: r["isPaid"] for r in res["data"]}
        assert paid[1] is True and paid[3] is False and paid[4] is None

    def test_c1705_timestamp_type(self, engine):
        res = run(engine, {"from": "orders", "columns": ["createdAt"]}, ADMIN)
        assert all(isinstance(r["createdAt"], dt.datetime)
                   for r in res["data"])

    def test_c1706_date_type(self, engine):
        res = run(engine, {"from": "invoices", "columns": ["dueDate"]}, ADMIN)
        non_null = [r["dueDate"] for r in res["data"]
                    if r["dueDate"] is not None]
        assert non_null and all(
            isinstance(v, dt.date) and not isinstance(v, dt.datetime)
            for v in non_null
        )

    def test_c1707_array_column(self, engine):
        res = run(
            engine, {"from": "products", "columns": ["name", "labels"]}, ADMIN
        )
        by_name = {r["name"]: r["labels"] for r in res["data"]}
        assert by_name["Widget A"] == ["sale", "new"]
        assert by_name["Widget C"] is None

    def test_c1708_decimal_precision(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id", "total"]}, ADMIN)
        totals = {r["id"]: r["total"] for r in res["data"]}
        assert totals[1] == Decimal("100.00")

    def test_c1709_implicit_and(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": ["id"],
             "filters": [
                 {"column": "status", "operator": "=", "value": "active"},
                 {"column": "total", "operator": ">", "value": 150},
             ]},
            ADMIN,
        )
        assert ids_of(res) == [4]

    def test_c1710_cache_strategy(self, engine):
        res = run(engine, {"from": "users", "byIds": ["uuid-c1"]}, ADMIN)
        assert res["meta"]["strategy"] == "cache"

    def test_c1711_materialized_replica(self, engine):
        res = run(
            engine, {"from": "orders", "freshness": "seconds"}, ADMIN
        )
        assert res["meta"]["strategy"] == "materialized"
        assert res["meta"]["tablesUsed"][0]["source"] == "replica"

    def test_c1712_cross_db_join(self, engine):
        res = run(
            engine,
            {"from": "events", "columns": ["id"],
             "joins": [{"table": "users", "columns": ["firstName"]}]},
            ADMIN,
        )
        assert res["meta"]["strategy"] == "trino-cross-db"
        assert len(res["data"]) == 3

    def test_c1713_distinct_count_mode(self, engine):
        res = run(
            engine,
            {"from": "orders", "distinct": True, "columns": ["status"],
             "executeMode": "count"},
            ADMIN,
        )
        assert res["kind"] == "count"
        assert res["count"] == 4

    def test_c1714_group_by_zero_rows(self, engine):
        res = run(
            engine,
            {"from": "orders",
             "filters": [{"column": "status", "operator": "=",
                          "value": "nonexistent"}],
             "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "total", "fn": "sum",
                               "alias": "totalSum"}]},
            ADMIN,
        )
        assert res["kind"] == "data"
        assert res["data"] == []
        assert len(res["meta"]["columns"]) > 0

    def test_c1715_realtime_skips_materialized(self, engine):
        res = run(engine, {"from": "orders", "freshness": "realtime"}, ADMIN)
        assert res["meta"]["strategy"] != "materialized"

    def test_c1716_hours_allows_stale_replica(self, engine):
        res = run(engine, {"from": "orders", "freshness": "hours"}, ADMIN)
        assert res["meta"]["strategy"] == "materialized"


# ---------------------------------------------------------------------------
# 10. Access Control (C700-C725)
# ---------------------------------------------------------------------------


def ctx(**scopes):
    return {"roles": dict(scopes)}


class TestAccessControlContract:
    def test_c700_admin_sees_all(self, engine):
        res = run(engine, {"from": "orders"}, ADMIN)
        assert len(res["meta"]["columns"]) == 11

    def test_c701_restricted_subset(self, engine):
        res = run(
            engine, {"from": "orders", "columns": ["id", "total", "status"]},
            ctx(user=["tenant-user"]),
        )
        assert len(res["meta"]["columns"]) == 3

    def test_c702_omitted_columns_role_allowed(self, engine):
        res = run(engine, {"from": "orders"}, ctx(user=["tenant-user"]))
        assert {c["apiName"] for c in res["meta"]["columns"]} == {
            "id", "total", "status", "createdAt",
        }

    @pytest.mark.parametrize(
        "cid,defn,context",
        [
            ("C703", {"from": "events"}, {"roles": {"user": ["tenant-user"]}}),
            ("C704", {"from": "orders", "columns": ["id", "internalNote"]},
             {"roles": {"user": ["tenant-user"]}}),
            ("C705", {"from": "orders"}, {"roles": {"user": ["no-access"]}}),
            ("C706", {"from": "orders"}, {"roles": {"user": []}}),
            ("C707", {"from": "orders", "joins": [{"table": "users"}],
                      "columns": ["id"]},
             {"roles": {"user": ["viewer"], "service": ["reporting-service"]}}),
        ],
    )
    def test_access_denied(self, engine, cid, defn, context):
        with pytest.raises(ValidationError) as err:
            run(engine, defn, context)
        assert any(e["code"] == "ACCESS_DENIED"
                   for e in err.value.to_json()["errors"])

    def test_c710_union_admin_overrides(self, engine):
        res = run(engine, {"from": "orders"},
                  ctx(user=["tenant-user", "admin"]))
        assert len(res["meta"]["columns"]) == 11

    def test_c711_union_adds_permissions(self, engine):
        res = run(engine, {"from": "orders"},
                  ctx(user=["tenant-user", "viewer"]))
        assert {c["apiName"] for c in res["meta"]["columns"]} == {
            "id", "total", "status", "createdAt", "quantity",
        }

    def test_c720_cross_scope_intersection(self, engine):
        res = run(
            engine,
            {"from": "users"},
            ctx(user=["admin"], service=["orders-service"]),
        )
        assert {c["apiName"] for c in res["meta"]["columns"]} == {
            "id", "firstName", "lastName",
        }

    def test_c721_empty_scope_intersection_denied(self, engine):
        with pytest.raises(ValidationError) as err:
            run(engine, {"from": "events"},
                ctx(user=["tenant-user"], service=["orders-service"]))
        assert any(e["code"] == "ACCESS_DENIED"
                   for e in err.value.to_json()["errors"])

    def test_c722_omitted_scope_no_restriction(self, engine):
        res = run(engine, {"from": "orders"}, ctx(user=["admin"]))
        assert len(res["meta"]["columns"]) == 11

    def test_c723_zero_role_scope_denies(self, engine):
        with pytest.raises(ValidationError) as err:
            run(engine, {"from": "orders"},
                ctx(user=[], service=["orders-service"]))
        assert any(e["code"] == "ACCESS_DENIED"
                   for e in err.value.to_json()["errors"])

    def test_c725_wildcard_intersect_specific(self, engine):
        res = run(engine, {"from": "users"},
                  ctx(user=["admin"], service=["orders-service"]))
        assert {c["apiName"] for c in res["meta"]["columns"]} == {
            "id", "firstName", "lastName",
        }
        with pytest.raises(ValidationError):
            run(engine, {"from": "users", "columns": ["email"]},
                ctx(user=["admin"], service=["orders-service"]))


# ---------------------------------------------------------------------------
# 11. Column Masking (C800-C816)
# ---------------------------------------------------------------------------


class TestMaskingContract:
    def test_c800_masked_reported_in_meta(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id", "total"]},
                  ctx(user=["tenant-user"]))
        by = {c["apiName"]: c["masked"] for c in res["meta"]["columns"]}
        assert by == {"id": False, "total": True}

    def test_c801_admin_unmasked(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id", "total"]}, ADMIN)
        assert all(c["masked"] is False for c in res["meta"]["columns"])

    def test_c802_number_masking(self, engine):
        res = run(engine, {"from": "orders", "columns": ["total"]},
                  ctx(user=["tenant-user"]))
        assert all(r["total"] == 0 for r in res["data"])

    def test_c803_full_masking(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id", "internalNote"]},
                  ctx(user=["analyst"]))
        notes = {r["id"]: r["internalNote"] for r in res["data"]}
        assert notes[1] == "***"

    def test_c804_email_masking(self, engine):
        res = run(engine, {"from": "users", "columns": ["id", "email"]},
                  ctx(user=["tenant-user"]))
        emails = {r["id"]: r["email"] for r in res["data"]}
        assert emails["uuid-c1"] == "a***@***.com"

    def test_c805_aggregation_alias_never_masked(self, engine):
        res = run(
            engine,
            {"from": "orders", "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "total", "fn": "sum",
                               "alias": "totalSum"}]},
            ctx(user=["tenant-user"]),
        )
        col = next(c for c in res["meta"]["columns"]
                   if c["apiName"] == "totalSum")
        assert col["masked"] is False

    def test_c806_sql_only_masking_intent(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": ["id", "total"],
             "executeMode": "sql-only"},
            ctx(user=["tenant-user"]),
        )
        col = next(c for c in res["meta"]["columns"] if c["apiName"] == "total")
        assert col["masked"] is True

    def test_c807_union_unmasks(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id", "total"]},
                  ctx(user=["tenant-user", "admin"]))
        col = next(c for c in res["meta"]["columns"] if c["apiName"] == "total")
        assert col["masked"] is False

    def test_c808_cross_scope_masking_preserved(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id", "total"]},
                  ctx(user=["admin"], service=["reporting-service"]))
        col = next(c for c in res["meta"]["columns"] if c["apiName"] == "total")
        assert col["masked"] is True
        assert all(r["total"] == 0 for r in res["data"])

    def test_c809_phone_masking(self, engine):
        res = run(engine, {"from": "users", "columns": ["id", "phone"]},
                  ctx(user=["analyst"]))
        phones = {r["id"]: r["phone"] for r in res["data"]}
        assert phones["uuid-c1"] == "+1***890"
        assert phones["uuid-c2"] is None  # null passthrough

    def test_c810_name_masking(self, engine):
        res = run(
            engine,
            {"from": "users", "columns": ["id", "firstName", "lastName"]},
            ctx(user=["analyst"]),
        )
        by = {r["id"]: r for r in res["data"]}
        assert by["uuid-c1"]["firstName"] == "A***e"
        assert by["uuid-c1"]["lastName"] == "S***h"

    def test_c811_number_masking_price(self, engine):
        res = run(engine, {"from": "products", "columns": ["id", "price"]},
                  ctx(user=["analyst"]))
        assert all(r["price"] == 0 for r in res["data"])

    def test_c812_number_masking_amount(self, engine):
        res = run(engine, {"from": "invoices", "columns": ["id", "amount"]},
                  ctx(user=["analyst"]))
        assert all(r["amount"] == 0 for r in res["data"])

    def test_c813_multiple_masking_fns(self, engine):
        res = run(
            engine,
            {"from": "users",
             "columns": ["id", "email", "phone", "firstName"]},
            ctx(user=["analyst"]),
        )
        by = {c["apiName"]: c["masked"] for c in res["meta"]["columns"]}
        assert by == {"id": False, "email": False, "phone": True,
                      "firstName": True}

    def test_c814_date_masking(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id", "createdAt"]},
                  ctx(user=["analyst"]))
        by = {r["id"]: r["createdAt"] for r in res["data"]}
        assert by[1] == dt.datetime(2024, 1, 1, 0, 0)  # truncated to year

    def test_c815_masking_null_passthrough(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id", "internalNote"]},
                  ctx(user=["analyst"]))
        notes = {r["id"]: r["internalNote"] for r in res["data"]}
        assert notes[2] is None and notes[4] is None
        assert notes[1] == "***"

    def test_c816_uuid_masking(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id", "customerId"]},
                  ctx(user=["analyst"]))
        by = {r["id"]: r["customerId"] for r in res["data"]}
        assert by[1] == "uuid****"


# ---------------------------------------------------------------------------
# 12. Validation Errors (C900-C1030) — via the zero-I/O endpoint
# ---------------------------------------------------------------------------


def codes(engine, defn, context=ADMIN):
    return {i["code"] for i in engine.validate_query(defn, context)}


def f(column, operator, value=None, **extra):
    flt = {"column": column, "operator": operator, **extra}
    if value is not None:
        flt["value"] = value
    return flt


class TestValidationTableColumn:
    @pytest.mark.parametrize(
        "cid,defn,code",
        [
            ("C900", {"from": "nonExistentTable"}, "UNKNOWN_TABLE"),
            ("C901", {"from": "orders", "columns": ["nonexistent"]},
             "UNKNOWN_COLUMN"),
            ("C902", {"from": "orders",
                      "filters": [f("nonexistent", "=", "x")]},
             "UNKNOWN_COLUMN"),
            ("C903", {"from": "orders", "joins": [{"table": "products"}],
                      "filters": [f("nonexistent", "=", "x",
                                    table="products")]},
             "UNKNOWN_COLUMN"),
        ],
    )
    def test_codes(self, engine, cid, defn, code):
        assert code in codes(engine, defn)


class TestValidationFilters:
    @pytest.mark.parametrize(
        "cid,flt,code",
        [
            ("C910", f("customerId", ">", "x"), "INVALID_FILTER"),
            ("C911", f("isPaid", ">", True), "INVALID_FILTER"),
            ("C912", f("isPaid", "in", [True]), "INVALID_FILTER"),
            ("C913", {"column": "createdAt", "operator": "in",
                      "value": ["2024-01-01T00:00:00Z"]}, "INVALID_FILTER"),
            ("C915", {"column": "createdAt", "operator": "notIn",
                      "value": ["2024-01-01T00:00:00Z"]}, "INVALID_FILTER"),
            ("C916", f("isPaid", "notIn", [True]), "INVALID_FILTER"),
            ("C917", f("quantity", "like", "%1%"), "INVALID_FILTER"),
            ("C918", f("total", "contains", "1"), "INVALID_FILTER"),
            ("C919", f("total", "levenshteinLte",
                       {"text": "x", "maxDistance": 1}), "INVALID_FILTER"),
            ("C920", f("isPaid", "between", {"from": False, "to": True}),
             "INVALID_FILTER"),
            ("C921", f("customerId", "between",
                       {"from": "a", "to": "b"}), "INVALID_FILTER"),
            ("C922", f("isPaid", "notBetween", {"from": False, "to": True}),
             "INVALID_FILTER"),
            ("C923", f("customerId", "notBetween",
                       {"from": "a", "to": "b"}), "INVALID_FILTER"),
            ("C924", f("id", "isNull"), "INVALID_FILTER"),
            ("C925", f("status", "isNotNull"), "INVALID_FILTER"),
            ("C926", f("status", "arrayContains", "x"), "INVALID_FILTER"),
            ("C927", f("priorities", "=", "x"), "INVALID_FILTER"),
            # C930-C947: malformed compound values
            ("C930", f("total", "between", {"from": 1}), "INVALID_VALUE"),
            ("C931", f("total", "notBetween", {"from": 1}), "INVALID_VALUE"),
            ("C932", f("status", "levenshteinLte",
                       {"text": "x", "maxDistance": -1}), "INVALID_VALUE"),
            ("C933", f("status", "levenshteinLte",
                       {"text": "x", "maxDistance": 1.5}), "INVALID_VALUE"),
            ("C934", {"column": "status", "operator": "in", "value": []},
             "INVALID_VALUE"),
            ("C935", f("status", "in", ["a", 1]), "INVALID_VALUE"),
            ("C936", f("status", "in", ["a", None]), "INVALID_VALUE"),
            ("C937", f("total", "between", {"from": None, "to": 1}),
             "INVALID_VALUE"),
            ("C938", f("total", "between", {"from": 1, "to": None}),
             "INVALID_VALUE"),
            ("C939", f("total", "between", {"from": 1, "to": "x"}),
             "INVALID_VALUE"),
            ("C940", f("priorities", "arrayContains", "notAnInt"),
             "INVALID_VALUE"),
            ("C941", {"column": "priorities", "operator": "arrayContainsAll",
                      "value": []}, "INVALID_VALUE"),
            ("C942", f("priorities", "arrayContainsAny", ["x"]),
             "INVALID_VALUE"),
            ("C943", f("priorities", "arrayContainsAll", [1, None]),
             "INVALID_VALUE"),
            ("C944", {"column": "status", "operator": "notIn", "value": []},
             "INVALID_VALUE"),
            ("C945", f("status", "notIn", ["a", 1]), "INVALID_VALUE"),
            ("C946", f("total", "between", {"to": 1}), "INVALID_VALUE"),
            ("C947", f("status", "levenshteinLte", {"maxDistance": 1}),
             "INVALID_VALUE"),
        ],
    )
    def test_filter_codes(self, engine, cid, flt, code):
        assert code in codes(engine, {"from": "orders", "filters": [flt]})

    def test_c914_in_on_timestamp(self, engine):
        assert "INVALID_FILTER" in codes(
            engine,
            {"from": "orders",
             "filters": [{"column": "createdAt", "operator": "in",
                          "value": ["2024-01-01T00:00:00Z"]}]},
        )

    def test_c928_filter_table_not_joined(self, engine):
        assert "INVALID_FILTER" in codes(
            engine,
            {"from": "orders",
             "filters": [f("name", "=", "x", table="products")]},
        )

    def test_c929_filter_on_denied_column(self, engine):
        got = codes(
            engine,
            {"from": "orders", "columns": ["id"],
             "filters": [f("internalNote", "=", "x")]},
            {"roles": {"user": ["tenant-user"]}},
        )
        assert "ACCESS_DENIED" in got


class TestValidationColumnFilters:
    def test_c950_cross_family_mismatch(self, engine):
        assert "INVALID_FILTER" in codes(
            engine,
            {"from": "orders",
             "filters": [{"column": "total", "operator": ">",
                          "refColumn": "status"}]},
        )

    def test_c954_numeric_family_compatible(self, engine):
        assert codes(
            engine,
            {"from": "orders",
             "filters": [{"column": "quantity", "operator": ">",
                          "refColumn": "total"}]},
        ) == set()

    def test_c955_temporal_family_compatible(self, engine):
        assert codes(
            engine,
            {"from": "invoices",
             "filters": [{"column": "dueDate", "operator": "<",
                          "refColumn": "issuedAt"}]},
        ) == set()

    def test_c951_column_filter_denied_column(self, engine):
        got = codes(
            engine,
            {"from": "orders", "columns": ["id"],
             "filters": [{"column": "total", "operator": ">",
                          "refColumn": "discount"}]},
            {"roles": {"user": ["tenant-user"]}},
        )
        assert "ACCESS_DENIED" in got

    def test_c952_unknown_ref_column(self, engine):
        assert "UNKNOWN_COLUMN" in codes(
            engine,
            {"from": "orders",
             "filters": [{"column": "total", "operator": ">",
                          "refColumn": "ghost"}]},
        )

    def test_c953_column_filter_on_array(self, engine):
        assert "INVALID_FILTER" in codes(
            engine,
            {"from": "orders",
             "filters": [{"column": "priorities", "operator": "=",
                          "refColumn": "priorities"}]},
        )


class TestValidationJoinGroupHaving:
    def test_c960_join_without_relation(self, engine):
        assert "INVALID_JOIN" in codes(
            engine, {"from": "products", "joins": [{"table": "users"}]}
        )

    def test_c961_join_to_denied_table(self, engine):
        got = codes(
            engine,
            {"from": "orders", "joins": [{"table": "users"}]},
            {"roles": {"user": ["viewer"], "service": ["reporting-service"]}},
        )
        assert "ACCESS_DENIED" in got

    def test_c962_transitive_join_no_path(self, engine):
        # samples has no relation to orders or products
        assert "INVALID_JOIN" in codes(
            engine,
            {"from": "orders", "joins": [{"table": "products"},
                                         {"table": "samples"}]},
        )

    def test_c970_selected_not_grouped(self, engine):
        assert "INVALID_GROUP_BY" in codes(
            engine,
            {"from": "orders", "columns": ["id", "status"],
             "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "*", "fn": "count", "alias": "n"}]},
        )

    def test_c971_array_column_in_group_by(self, engine):
        assert "INVALID_GROUP_BY" in codes(
            engine,
            {"from": "orders", "columns": [],
             "groupBy": [{"column": "priorities"}],
             "aggregations": [{"column": "*", "fn": "count", "alias": "n"}]},
        )

    def test_c972_group_by_non_joined_table(self, engine):
        assert "INVALID_GROUP_BY" in codes(
            engine,
            {"from": "orders", "columns": [],
             "groupBy": [{"column": "category", "table": "products"}],
             "aggregations": [{"column": "*", "fn": "count", "alias": "n"}]},
        )

    @pytest.mark.parametrize(
        "cid,having",
        [
            ("C975", [f("ghostAlias", ">", 1)]),
            ("C976", [f("n", ">", 1, table="orders")]),
            ("C977", [{"logic": "and",
                       "conditions": [{"column": "n", "operator": ">",
                                       "refColumn": "n"}]}]),
            ("C978", [{"logic": "and",
                       "conditions": [{"table": "products",
                                       "exists": True}]}]),
            ("C979", [f("n", "contains", "1")]),
            ("C980", [f("n", "levenshteinLte",
                        {"text": "x", "maxDistance": 1})]),
            ("C981", [f("n", "arrayContains", 1)]),
            ("C982", [{"column": "n", "operator": ">", "refColumn": "n"}]),
            ("C983", [{"table": "products", "exists": True}]),
        ],
    )
    def test_having_codes(self, engine, cid, having):
        got = codes(
            engine,
            {"from": "orders", "columns": [],
             "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "*", "fn": "count", "alias": "n"}],
             "having": having},
        )
        assert "INVALID_HAVING" in got


class TestValidationOrderByIdsLimitAgg:
    @pytest.mark.parametrize(
        "cid,defn,code",
        [
            ("C985", {"from": "orders",
                      "orderBy": [{"column": "name", "table": "products",
                                   "direction": "asc"}]},
             "INVALID_ORDER_BY"),
            ("C986", {"from": "orders",
                      "orderBy": [{"column": "priorities",
                                   "direction": "asc"}]},
             "INVALID_ORDER_BY"),
            ("C990", {"from": "orders", "byIds": []}, "INVALID_BY_IDS"),
            ("C991", {"from": "orders", "byIds": [1], "columns": [],
                      "aggregations": [{"column": "*", "fn": "count",
                                        "alias": "n"}]},
             "INVALID_BY_IDS"),
            ("C992", {"from": "orderItems", "byIds": [1, 2]},
             "INVALID_BY_IDS"),
            ("C994", {"from": "orders", "byIds": [1],
                      "groupBy": [{"column": "status"}]},
             "INVALID_BY_IDS"),
            ("C995", {"from": "orders", "limit": -1}, "INVALID_LIMIT"),
            ("C996", {"from": "orders", "offset": 5}, "INVALID_LIMIT"),
            ("C997", {"from": "orders", "limit": 5, "offset": -2},
             "INVALID_LIMIT"),
            ("C998", {"from": "orders", "limit": 2.5}, "INVALID_LIMIT"),
            ("C1000", {"from": "orders", "columns": [],
                       "aggregations": [
                           {"column": "*", "fn": "count", "alias": "x"},
                           {"column": "total", "fn": "sum", "alias": "x"}]},
             "INVALID_AGGREGATION"),
            ("C1001", {"from": "orders", "columns": ["status"],
                       "groupBy": [{"column": "status"}],
                       "aggregations": [{"column": "total", "fn": "sum",
                                         "alias": "status"}]},
             "INVALID_AGGREGATION"),
            ("C1002", {"from": "orders", "columns": []},
             "INVALID_AGGREGATION"),
            ("C1003", {"from": "orders", "columns": [],
                       "aggregations": [{"column": "priorities", "fn": "sum",
                                         "alias": "s"}]},
             "INVALID_AGGREGATION"),
            ("C1004", {"from": "orders", "columns": [],
                       "aggregations": [{"column": "price", "fn": "sum",
                                         "alias": "s", "table": "products"}]},
             "INVALID_AGGREGATION"),
            ("C1005", {"from": "orders", "columns": [],
                       "aggregations": [{"column": "ghost", "fn": "sum",
                                         "alias": "s"}]},
             "UNKNOWN_COLUMN"),
        ],
    )
    def test_codes(self, engine, cid, defn, code):
        assert code in codes(engine, defn)

    def test_c987_order_by_table_not_joined(self, engine):
        assert "INVALID_ORDER_BY" in codes(
            engine,
            {"from": "orders",
             "orderBy": [{"column": "name", "table": "products",
                          "direction": "asc"}]},
        )


class TestValidationExistsRolesMulti:
    @pytest.mark.parametrize(
        "cid,flt",
        [
            ("C1010", {"table": "samples", "exists": True}),
            ("C1011", {"table": "invoices",
                       "count": {"operator": ">=", "value": -1}}),
            ("C1012", {"table": "invoices",
                       "count": {"operator": ">=", "value": 1.5}}),
            ("C1013", {"table": "invoices", "exists": True,
                       "filters": [{"table": "events", "exists": True}]}),
        ],
    )
    def test_exists_codes(self, engine, cid, flt):
        got = codes(engine, {"from": "orders", "filters": [flt]})
        assert "INVALID_EXISTS" in got

    def test_c1020_unknown_role(self, engine):
        assert "UNKNOWN_ROLE" in codes(
            engine, {"from": "orders"}, {"roles": {"user": ["ghost-role"]}}
        )

    def test_c1030_multi_error_collection(self, engine):
        issues = engine.validate_query(
            {"from": "orders", "columns": ["bad"],
             "filters": [f("missing", "=", "x")],
             "limit": -1},
            ADMIN,
        )
        assert len(issues) >= 3


# ---------------------------------------------------------------------------
# 13. Query Result Meta Verification (C1100-C1113)
# ---------------------------------------------------------------------------


class TestMetaVerification:
    def test_c1100_column_types(self, engine):
        res = run(engine,
                  {"from": "orders", "columns": ["id", "total", "status"]},
                  ADMIN)
        by = {c["apiName"]: c["type"] for c in res["meta"]["columns"]}
        assert by == {"id": "int", "total": "decimal", "status": "string"}

    def test_c1101_nullable(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id", "productId"]},
                  ADMIN)
        by = {c["apiName"]: c["nullable"] for c in res["meta"]["columns"]}
        assert by == {"id": False, "productId": True}

    def test_c1102_from_table(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": ["status"],
             "joins": [{"table": "products", "columns": ["category"]}]},
            ADMIN,
        )
        by = {c["apiName"]: c["fromTable"] for c in res["meta"]["columns"]}
        assert by == {"status": "orders", "category": "products"}

    def test_c1103_aggregation_meta(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": [],
             "aggregations": [
                 {"column": "total", "fn": "sum", "alias": "totalSum"},
                 {"column": "*", "fn": "count", "alias": "cnt"},
             ]},
            ADMIN,
        )
        by = {c["apiName"]: c for c in res["meta"]["columns"]}
        assert by["totalSum"]["type"] == "decimal"
        assert by["totalSum"]["fromTable"] == "orders"
        assert by["totalSum"]["masked"] is False
        assert by["cnt"]["type"] == "int"

    def test_c1104_avg_always_decimal(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": [],
             "aggregations": [{"column": "quantity", "fn": "avg",
                               "alias": "avgQty"}]},
            ADMIN,
        )
        col = next(c for c in res["meta"]["columns"]
                   if c["apiName"] == "avgQty")
        assert col["type"] == "decimal"

    def test_c1105_tables_used_single(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id"]}, ADMIN)
        used = res["meta"]["tablesUsed"]
        assert len(used) == 1
        assert used[0]["tableId"] == "orders"
        assert used[0]["source"] == "original"
        assert used[0]["database"] == "pg-main"

    def test_c1106_tables_used_join(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": ["id"],
             "joins": [{"table": "products", "columns": []}]},
            ADMIN,
        )
        assert len(res["meta"]["tablesUsed"]) == 2

    def test_c1107_count_mode_empty_columns(self, engine):
        res = run(engine, {"from": "orders", "executeMode": "count"}, ADMIN)
        assert res["meta"]["columns"] == []

    def test_c1108_dialect_data_mode(self, engine):
        # CONTRACT_TESTS.md:897: dialect is one of postgres/clickhouse/trino
        # — since round 4 the dialect mirrors the target database's declared
        # engine (orders lives in pg-main, engine 'postgres')
        res = run(engine, {"from": "orders", "columns": ["id"]}, ADMIN)
        assert res["meta"]["dialect"] == "postgres"

    def test_c1109_target_database_direct(self, engine):
        res = run(engine, {"from": "orders", "columns": ["id"]}, ADMIN)
        assert res["meta"]["targetDatabase"] == "pg-main"

    def test_c1110_target_database_cross_db(self, engine):
        res = run(
            engine,
            {"from": "events", "columns": ["id"],
             "joins": [{"table": "users", "columns": []}]},
            ADMIN,
        )
        # the federating executor (reference: Trino) is Spark itself
        assert res["meta"]["targetDatabase"] == "spark"

    def test_c1111_dialect_sql_only(self, engine):
        # C1111: same dialect as data mode
        res = run(engine,
                  {"from": "orders", "executeMode": "sql-only"}, ADMIN)
        assert res["meta"]["dialect"] == "postgres"

    def test_c1112_dialect_count_mode(self, engine):
        res = run(engine, {"from": "orders", "executeMode": "count"}, ADMIN)
        assert res["meta"]["dialect"] == "postgres"

    def test_c1113_aggregation_nullable_inference(self, engine):
        res = run(
            engine,
            {"from": "orders", "columns": [],
             "aggregations": [{"column": "discount", "fn": "sum",
                               "alias": "discountSum"}]},
            ADMIN,
        )
        col = next(c for c in res["meta"]["columns"]
                   if c["apiName"] == "discountSum")
        assert col["nullable"] is True


# ---------------------------------------------------------------------------
# 14b-14d. Planner / Execution / Provider errors (C1250-C1271)
# C1250/C1251 (Trino toggle / trinoCatalog) are inapplicable by design:
# Spark IS the federation layer, there is no Trino process to disable.
# ---------------------------------------------------------------------------


from concept_multi_db_query_engine_spark import (  # noqa: E402
    ExecutionError,
    MultiDb,
    PlannerError,
    SourceRegistry,
)
from concept_multi_db_query_engine_spark.sources import MemorySource  # noqa: E402


def _registry_without(spark, *drop_dbs):
    full = fixtures.build_registry(spark)
    return SourceRegistry(
        {db: src for db, src in full.sources.items() if db not in drop_dbs}
    )


class TestPlannerExecutionErrors:
    def test_c1252_cross_db_unreachable(self, spark):
        # ch-analytics source removed; events ⋈ users has no replica path
        eng = MultiDb(spark, fixtures.METADATA, fixtures.ROLES,
                      _registry_without(spark, "ch-analytics"))
        with pytest.raises(PlannerError) as err:
            eng.query({"from": "events", "columns": ["id"],
                       "joins": [{"table": "users", "columns": []}]})
        assert "NO_STRATEGY" in err.value.error_codes

    def test_c1253_freshness_unmet(self, spark):
        # pg-main source removed: only the ch replica could serve orders,
        # but freshness 'realtime' bans replicas → FRESHNESS_UNMET
        eng = MultiDb(spark, fixtures.METADATA, fixtures.ROLES,
                      _registry_without(spark, "pg-main"))
        with pytest.raises(PlannerError) as err:
            eng.query({"from": "orders", "columns": ["id"],
                       "freshness": "realtime"})
        assert "FRESHNESS_UNMET" in err.value.error_codes

    def test_c1254_freshness_seconds_accepts_seconds_lag(self, spark):
        eng = MultiDb(spark, fixtures.METADATA, fixtures.ROLES,
                      _registry_without(spark, "pg-main"))
        res = eng.query({"from": "orders", "columns": ["id"],
                         "freshness": "seconds"})
        assert res["meta"]["strategy"] == "materialized"
        assert len(res["data"]) == 5

    def test_c1260_missing_executor(self, spark):
        eng = MultiDb(spark, fixtures.METADATA, fixtures.ROLES,
                      _registry_without(spark, "pg-main"))
        with pytest.raises(ExecutionError) as err:
            eng.query({"from": "products", "columns": ["id"]})
        assert "EXECUTOR_MISSING" in err.value.error_codes

    def test_c1261_missing_cache_provider(self, spark):
        # metadata declares redis-main over users but no provider registered
        eng = MultiDb(spark, fixtures.METADATA, fixtures.ROLES,
                      fixtures.build_registry(spark), caches={})
        with pytest.raises(ExecutionError) as err:
            eng.query({"from": "users", "byIds": ["uuid-c1"]})
        assert "CACHE_PROVIDER_MISSING" in err.value.error_codes

    def test_c1262_query_failed(self, spark, tmp_path):
        # table backed by a parquet file deleted after registration: the
        # plan builds, execution fails → ExecutionError QUERY_FAILED
        import shutil

        pdir = str(tmp_path / "doomed.parquet")
        spark.createDataFrame([(1, "x")], "id bigint, name string") \
            .write.parquet(pdir)
        lazy = spark.read.parquet(pdir)
        meta = {
            "databases": [{"id": "db1", "engine": "postgres"}],
            "tables": [{
                "id": "doomed", "apiName": "doomed", "database": "db1",
                "physicalName": "doomed", "primaryKey": ["id"],
                "columns": [
                    {"apiName": "id", "physicalName": "id", "type": "int"},
                    {"apiName": "name", "physicalName": "name",
                     "type": "string"},
                ],
            }],
        }
        eng = MultiDb(spark, meta, [{"id": "admin", "tables": "*"}],
                      SourceRegistry({"db1": MemorySource({"doomed": lazy})}))
        shutil.rmtree(pdir)
        with pytest.raises(ExecutionError) as err:
            eng.query({"from": "doomed"})
        assert "QUERY_FAILED" in err.value.error_codes


# ---------------------------------------------------------------------------
# 15. Health Check (C1300-C1304)
# ---------------------------------------------------------------------------


class TestHealthContract:
    def test_c1300_c1301_c1302_healthy_shape(self, engine):
        h = engine.health_check()
        assert h["healthy"] is True
        assert set(h["executors"].keys()) == {"pg-main", "ch-analytics"}
        for e in h["executors"].values():
            assert isinstance(e["healthy"], bool)
            assert isinstance(e["latencyMs"], float)

    def test_c1304_cache_provider_in_health(self, engine):
        h = engine.health_check()
        assert "redis-main" in h["cacheProviders"]
        entry = h["cacheProviders"]["redis-main"]
        assert entry["healthy"] is True
        assert isinstance(entry["latencyMs"], float)

    def test_c1303_unhealthy_executor(self, spark):
        class DeadSource(MemorySource):
            def ping(self):
                raise RuntimeError("connection refused")

        full = fixtures.build_registry(spark)
        sources = dict(full.sources)
        sources["ch-analytics"] = DeadSource({})
        eng = MultiDb(spark, fixtures.METADATA, fixtures.ROLES,
                      SourceRegistry(sources))
        h = eng.health_check()
        assert h["healthy"] is False
        assert h["executors"]["ch-analytics"]["healthy"] is False
        assert "connection refused" in h["executors"]["ch-analytics"]["error"]
        assert h["executors"]["pg-main"]["healthy"] is True


# ---------------------------------------------------------------------------
# 15b. Lifecycle (C1310-C1313) — C1311/C1312 also in tests/test_providers.py
# ---------------------------------------------------------------------------


class TestLifecycleContract:
    def test_c1310_reload_makes_new_table_visible(self, spark):
        eng = MultiDb(spark, fixtures.METADATA, fixtures.ROLES,
                      fixtures.build_registry(spark))
        with pytest.raises(ValidationError):
            eng.query({"from": "widgets"})
        new_meta = {
            **fixtures.METADATA,
            "tables": fixtures.METADATA["tables"] + [{
                "id": "widgets", "apiName": "widgets", "database": "pg-main",
                "physicalName": "samples",  # reuse existing physical data
                "primaryKey": ["id"],
                "columns": [{"apiName": "id", "physicalName": "id",
                             "type": "int"}],
            }],
        }
        eng.reload_metadata(new_meta)
        assert len(eng.query({"from": "widgets"})["data"]) == 5

    def test_c1312_reload_roles_updates_permissions(self, spark):
        eng = MultiDb(spark, fixtures.METADATA, fixtures.ROLES,
                      fixtures.build_registry(spark))
        with pytest.raises(ValidationError):
            eng.query({"from": "samples"}, {"roles": {"user": ["newbie"]}})
        eng.reload_roles(fixtures.ROLES + [
            {"id": "newbie",
             "tables": [{"tableId": "samples", "allowedColumns": ["id"]}]},
        ])
        res = eng.query({"from": "samples"}, {"roles": {"user": ["newbie"]}})
        assert len(res["data"]) == 5

    def test_c1313_close_prevents_queries(self, spark):
        eng = MultiDb(spark, fixtures.METADATA, fixtures.ROLES,
                      fixtures.build_registry(spark))
        eng.close()
        with pytest.raises(ExecutionError) as err:
            eng.query({"from": "samples"})
        assert "EXECUTOR_MISSING" in err.value.error_codes


# ---------------------------------------------------------------------------
# 16. SQL Injection Resistance (C1404-C1473, C1412-C1419)
# Identifier/enum payloads are rejected by the zero-I/O validation layer
# before any plan or SQL text exists (SECURITY.md:7-23).
# ---------------------------------------------------------------------------


class TestInjectionContract:
    @pytest.mark.parametrize(
        "cid,defn,code",
        [
            ("C1404", {"from": "orders",
                       "columns": ['id"; DROP TABLE orders; --']},
             "UNKNOWN_COLUMN"),
            ("C1418", {"from": "events",
                       "columns": ["id`; DROP TABLE events; --"]},
             "UNKNOWN_COLUMN"),
            ("C1405", {"from": "orders; DROP TABLE orders"}, "UNKNOWN_TABLE"),
            ("C1411", {"from": "orders",
                       "filters": [{"table": "users; DROP TABLE users",
                                    "exists": True}]},
             "UNKNOWN_TABLE"),
            ("C1460", {"from": "orders",
                       "orderBy": [{"column": "id",
                                    "direction": "asc; DROP TABLE orders;--"}]},
             "INVALID_ORDER_BY"),
            ("C1461", {"from": "orders", "columns": [],
                       "aggregations": [{"column": "total",
                                         "fn": "sum); DROP TABLE orders;--",
                                         "alias": "x"}]},
             "INVALID_AGGREGATION"),
            ("C1462", {"from": "orders",
                       "filters": [{"column": "id",
                                    "operator": ") OR 1=1 --",
                                    "refColumn": "quantity"}]},
             "INVALID_FILTER"),
            ("C1463", {"from": "orders",
                       "filters": [{"logic": "and 1=1);--",
                                    "conditions": [{"column": "status",
                                                    "operator": "=",
                                                    "value": "active"}]}]},
             "INVALID_FILTER"),
            ("C1464", {"from": "orders",
                       "filters": [{"table": "users",
                                    "count": {"operator":
                                              ") UNION SELECT 1;--",
                                              "value": 1}}]},
             "INVALID_EXISTS"),
            ("C1466", {"from": "orders",
                       "joins": [{"table": "users; DROP TABLE users"}]},
             "UNKNOWN_TABLE"),
            ("C1467", {"from": "orders",
                       "orderBy": [{"column": 'id"; DROP TABLE orders;--',
                                    "direction": "asc"}]},
             "INVALID_ORDER_BY"),
            ("C1468", {"from": "orders", "columns": [],
                       "aggregations": [{"column": "total", "fn": "sum",
                                         "alias": "x"}],
                       "groupBy": [{"column":
                                    'status"; DROP TABLE orders;--'}]},
             "UNKNOWN_COLUMN"),
            ("C1469", {"from": "orders", "columns": [],
                       "aggregations": [{"column":
                                         'total"; DROP TABLE orders;--',
                                         "fn": "sum", "alias": "x"}]},
             "UNKNOWN_COLUMN"),
            ("C1472", {"from": "orders",
                       "filters": [{"column": "status",
                                    "operator": "= 1); DROP TABLE orders;--",
                                    "value": "active"}]},
             "INVALID_FILTER"),
            ("C1473", {"from": "orders",
                       "filters": [{"column":
                                    'status"; DROP TABLE orders;--',
                                    "operator": "=", "value": "active"}]},
             "UNKNOWN_COLUMN"),
        ],
    )
    def test_identifier_enum_injection(self, engine, cid, defn, code):
        assert code in codes(engine, defn)

    def test_c1465_having_logic_injection(self, engine):
        got = codes(
            engine,
            {"from": "orders", "columns": [],
             "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "total", "fn": "sum",
                               "alias": "x"}],
             "having": [{"logic": "or 1=1);--",
                         "conditions": [{"column": "x", "operator": ">",
                                         "value": 0}]}]},
        )
        assert "INVALID_HAVING" in got

    def test_c1470_having_non_alias_injection(self, engine):
        got = codes(
            engine,
            {"from": "orders", "columns": [],
             "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "total", "fn": "sum",
                               "alias": "x"}],
             "having": [{"column": 'x"; DROP TABLE orders;--',
                         "operator": ">", "value": 0}]},
        )
        assert "INVALID_HAVING" in got

    def test_c1471_having_operator_injection(self, engine):
        got = codes(
            engine,
            {"from": "orders", "columns": [],
             "groupBy": [{"column": "status"}],
             "aggregations": [{"column": "total", "fn": "sum",
                               "alias": "x"}],
             "having": [{"column": "x",
                         "operator": "> 0); DROP TABLE orders;--",
                         "value": 0}]},
        )
        assert "INVALID_HAVING" in got

    def test_c1412_alias_quote_payload_safe(self, engine):
        # alias with quoting metacharacters: either rejected at validation
        # or treated purely as data. In DataFrame mode there is no SQL text
        # at all — the alias becomes a column name verbatim.
        alias = 'x"; DROP TABLE orders;--'
        defn = {"from": "samples", "columns": [],
                "aggregations": [{"column": "amount", "fn": "sum",
                                  "alias": alias}]}
        issues = engine.validate_query(defn, ADMIN)
        if issues:
            assert any(i["code"] == "INVALID_AGGREGATION" for i in issues)
        else:
            res = run(engine, defn, ADMIN)
            assert list(res["data"][0].keys()) == [alias]

    def test_c1419_alias_quote_escaped_in_sql_text(self, engine):
        # sql-only identifier quoting must neutralize the ACTIVE dialect's
        # quote character (samples -> pg dialect, double quotes): an
        # embedded quote is doubled so the alias cannot break out of the
        # identifier (SECURITY.md:27-45)
        alias = 'x"; DROP TABLE events;--'
        defn = {"from": "samples", "columns": [],
                "aggregations": [{"column": "amount", "fn": "sum",
                                  "alias": alias}],
                "executeMode": "sql-only"}
        issues = engine.validate_query(defn, ADMIN)
        if issues:
            assert any(i["code"] == "INVALID_AGGREGATION" for i in issues)
        else:
            res = run(engine, defn, ADMIN)
            assert '"x""; DROP TABLE events;--"' in res["sql"]

    def test_c1419b_alias_backtick_escaped_in_spark_text(self, spark):
        # same property for the spark/clickhouse backtick quoting rules,
        # via the spark renderer directly
        from concept_multi_db_query_engine_spark.sqlgen import SqlRenderer

        assert SqlRenderer().quote("x`; DROP") == "`x``; DROP`"

    def test_value_injection_is_data(self, engine):
        # C1400-family value payloads: parameterized, never concatenated —
        # the malicious string simply matches nothing
        res = run(
            engine,
            {"from": "samples", "columns": ["id"],
             "filters": [{"column": "name", "operator": "=",
                          "value": "'; DROP TABLE samples; --"}]},
            ADMIN,
        )
        assert res["data"] == []
        assert len(run(engine, {"from": "samples"}, ADMIN)["data"]) == 5
