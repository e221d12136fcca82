"""Execution parity for the Postgres dialect: the rendered pg SQL + params
actually RUN on a Postgres-compatible engine (DuckDB speaks the relevant pg
surface: ``$N`` numbered parameters, ``= ANY($1::text[])`` / ``<> ALL``,
``ILIKE``, ``IS DISTINCT FROM``, ``@>``/``&&`` array operators,
``levenshtein``) and return exactly the rows the engine's executed path
returns over the same fixture data.

This is a stronger check than the golden-SQL shapes in test_dialects.py:
it proves the pg renderer's output is semantically correct SQL, parameter
numbering included, end to end through validation + ACL + planner +
resolver. (``arrayIsEmpty``/``arrayIsNotEmpty`` are excluded — DuckDB's
``cardinality()`` is map-only — and count-mode/EXISTS text is covered where
DuckDB's pg support reaches.)
"""

from __future__ import annotations

import datetime as dt
import decimal

import duckdb
import pytest

from concept_multi_db_query_engine_spark import MultiDb

from tests import fixtures

ADMIN = {"roles": {"user": ["admin"]}}

# physical names of the pg-main tables the battery touches
_PG_TABLES = {
    "samples": "samples",
    "sample_items": "sampleItems",
    "sample_details": "sampleDetails",
    "orders": "orders",
    "products": "products",
    "users": "users",
    "invoices": "invoices",
}


@pytest.fixture(scope="module")
def engine(spark):
    return MultiDb(
        spark, fixtures.METADATA, fixtures.ROLES,
        fixtures.build_registry(spark),
    )


@pytest.fixture(scope="module")
def duck(spark):
    con = duckdb.connect()
    reg = fixtures.build_registry(spark)
    for physical, api in _PG_TABLES.items():
        pdf = reg.df(spark, "pg-main", physical).toPandas()
        con.register(f"_pdf_{physical}", pdf)
        con.execute(
            f'CREATE VIEW "{physical}" AS SELECT * FROM _pdf_{physical}'
        )
    return con


def _canon_val(v):
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_val(x) for x in v)
    # numpy scalars from the DuckDB/pandas side
    if hasattr(v, "item"):
        return _canon_val(v.item())
    return v


def _assert_parity(engine, duck, defn, context=ADMIN):
    sql_res = engine.query({**defn, "executeMode": "sql-only"}, context)
    assert sql_res["meta"]["dialect"] == "postgres"
    cur = duck.execute(sql_res["sql"], sql_res["params"])
    cols = [d[0] for d in cur.description]
    via_pg = sorted(
        tuple(_canon_val(v) for v in row) for row in cur.fetchall()
    )
    data = engine.query(defn, context)["data"]
    via_builder = sorted(
        tuple(_canon_val(r[c]) for c in cols) for r in data
    )
    assert via_pg == via_builder, (
        f"pg-dialect execution diverges from the executed path\nSQL: {sql_res['sql']}"
        f"\nparams: {sql_res['params']}"
    )
    return via_pg


BATTERY = [
    # projection + eq filter + order/limit
    {"from": "samples", "columns": ["id", "name", "status"],
     "filters": [{"column": "status", "operator": "=", "value": "active"}],
     "orderBy": [{"column": "id", "direction": "asc"}], "limit": 10},
    # null-inclusive != on a nullable column (IS DISTINCT FROM)
    {"from": "samples", "columns": ["id", "note"],
     "filters": [{"column": "note", "operator": "!=", "value": "x"}]},
    # in / notIn via = ANY / <> ALL with array casts
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "status", "operator": "in",
                  "value": ["active", "pending"]}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "id", "operator": "notIn", "value": [1, 3]}]},
    # pattern operators incl. escaping and ILIKE
    {"from": "samples", "columns": ["id", "name"],
     "filters": [{"column": "name", "operator": "contains", "value": "a"}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "status", "operator": "ilike",
                  "value": "ACT%"}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "name", "operator": "istartsWith",
                  "value": "A"}]},
    # between / notBetween
    {"from": "samples", "columns": ["id", "amount"],
     "filters": [{"column": "amount", "operator": "between",
                  "value": {"from": 50, "to": 200}}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "amount", "operator": "notBetween",
                  "value": {"from": 50, "to": 200}}]},
    # levenshtein
    {"from": "samples", "columns": ["id", "status"],
     "filters": [{"column": "status", "operator": "levenshteinLte",
                  "value": {"text": "activ", "maxDistance": 2}}]},
    # array operators (tags is nullable string[])
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "tags", "operator": "arrayContains",
                  "value": "urgent"}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "tags", "operator": "arrayContainsAll",
                  "value": ["urgent", "new"]}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "tags", "operator": "arrayContainsAny",
                  "value": ["urgent", "new"]}]},
    # recursive OR/NOT groups
    {"from": "samples", "columns": ["id"],
     "filters": [{"logic": "or", "conditions": [
         {"column": "status", "operator": "=", "value": "active"},
         {"logic": "and", "not": True, "conditions": [
             {"column": "amount", "operator": ">", "value": 100},
         ]},
     ]}]},
    # column-vs-column filter
    {"from": "sampleItems", "columns": ["id"],
     "filters": [{"column": "quantity", "operator": "<=",
                  "refColumn": "id"}]},
    # join + join-scoped filter (WHERE placement)
    {"from": "orders", "columns": ["id", "status"],
     "joins": [{"table": "products", "columns": ["name"],
                "filters": [{"column": "price", "operator": ">",
                             "value": 10}]}]},
    # transitive join
    {"from": "sampleDetails", "columns": ["id"],
     "joins": [{"table": "sampleItems", "columns": []},
               {"table": "samples", "columns": ["name"]}]},
    # aggregation + groupBy + having
    {"from": "orders", "columns": [],
     "groupBy": [{"column": "status"}],
     "aggregations": [
         {"fn": "count", "column": "*", "alias": "n"},
         {"fn": "sum", "column": "total", "alias": "totalSum"},
         {"fn": "avg", "column": "quantity", "alias": "avgQty"},
     ],
     "having": [{"column": "n", "operator": ">=", "value": 1}]},
    # distinct + offset pagination
    {"from": "orders", "columns": ["status"], "distinct": True,
     "orderBy": [{"column": "status", "direction": "asc"}],
     "limit": 2, "offset": 1},
    # EXISTS / NOT EXISTS / counted variants (pg: correlated + LIMIT
    # short-circuit for >=)
    {"from": "samples", "columns": ["id"],
     "filters": [{"table": "sampleItems", "exists": True}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"table": "sampleItems", "exists": False}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"table": "sampleItems",
                  "count": {"operator": ">=", "value": 2}}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"table": "sampleItems",
                  "count": {"operator": "<", "value": 2}}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"table": "sampleItems",
                  "count": {"operator": "=", "value": 2}}]},
    # byIds
    {"from": "samples", "byIds": [1, 2, 3], "columns": ["id", "name"],
     "freshness": "realtime"},
]


@pytest.mark.parametrize("idx", range(len(BATTERY)))
def test_pg_dialect_executes_on_duckdb(engine, duck, idx):
    _assert_parity(engine, duck, BATTERY[idx])


def test_battery_is_not_vacuous(engine, duck):
    """At least half the battery definitions must return rows — guards
    against a filter set that silently matches nothing."""
    nonempty = sum(
        1 for d in BATTERY if _assert_parity(engine, duck, d)
    )
    assert nonempty >= len(BATTERY) // 2


# ---------------------------------------------------------------------------
# Full engine-DSL sweep through the Postgres renderer, executed on DuckDB
# against the real testdata — every gate DSL query's pg SQL must return the
# executed path's rows.
# ---------------------------------------------------------------------------

import copy

import __spark_entry__ as entry_mod

from concept_multi_db_query_engine_spark import testdata as td

SF_DIR = "/root/testdata/sf0.001"

# excluded from the pg sweep, each for a structural reason:
# - masking_role: masking is applied post-query, not in SQL text
# - federated_join / replica_routing: cross-database -> trino dialect
# - array emptiness ops: DuckDB's cardinality() is map-only (pg-ism it
#   does not implement); covered by the spark sql-only sweep instead
_PG_SWEEP_SKIP = {
    "masking_role", "federated_join", "replica_routing",
    "filter_array_all_empty", "filter_array_notempty",
}
PG_SWEEP = sorted(n for n in entry_mod._DSL if n not in _PG_SWEEP_SKIP)


@pytest.fixture(scope="module")
def pg_testdata_engine(spark):
    """The driver-testdata engine with every database declared as engine
    'postgres', so all single-DB DSL queries render the pg dialect."""
    from concept_multi_db_query_engine_spark import MultiDb
    from concept_multi_db_query_engine_spark.sources import (
        ParquetSource,
        SourceRegistry,
    )

    meta = copy.deepcopy(td.METADATA)
    for db in meta["databases"]:
        db["engine"] = "postgres"
    registry = SourceRegistry(
        {
            "warehouse": ParquetSource(SF_DIR),
            "lake": ParquetSource(
                SF_DIR,
                aliases={
                    "orders_replica": "orders",
                    "customer_replica": "customer",
                    "doc_terms": "documents",
                },
                post=td.normalize_table,
            ),
        }
    )
    return MultiDb(spark, meta, td.ROLES, registry, strict_api_names=False)


@pytest.fixture(scope="module")
def duck_testdata(spark):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f'CREATE VIEW "{t}" AS '
            f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    # doc_terms: the derived array/NULL view (mirrors testdata.normalize_table)
    con.execute("""
        CREATE VIEW "doc_terms" AS
        SELECT doc_id, nullif(lang, 'en') AS lang_alt,
               string_split(text, ' ') AS terms,
               list_filter(string_split(text, ' '), x -> len(x) > 7)
                 AS rare_terms
        FROM documents
    """)
    return con


@pytest.mark.parametrize("name", PG_SWEEP)
def test_dsl_pg_sql_executes_on_duckdb(pg_testdata_engine, duck_testdata,
                                       name):
    defn = entry_mod._DSL[name]
    sql_res = pg_testdata_engine.query(
        {**defn, "executeMode": "sql-only"})
    assert sql_res["meta"]["dialect"] == "postgres"
    cur = duck_testdata.execute(sql_res["sql"], sql_res["params"])
    cols = [d[0] for d in cur.description]
    via_pg = sorted(
        tuple(_canon_val(v) for v in row) for row in cur.fetchall()
    )
    data = pg_testdata_engine.query(defn)["data"]
    via_builder = sorted(
        tuple(_canon_val(r[c]) for c in cols) for r in data
    )
    assert via_pg == via_builder, (
        f"{name}: pg-dialect execution diverges\nSQL: {sql_res['sql']}"
    )


# ---------------------------------------------------------------------------
# Property-based EXECUTED parity: random valid definitions must return the
# same rows through the executed path and through the rendered pg SQL
# executed on DuckDB. Stronger than the fixed battery — hypothesis explores
# operator/group/join/agg combinations nobody hand-picked.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, assume, given, settings

from tests.test_builder_fuzz import _any_defn


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(defn=_any_defn)
def test_random_dsl_pg_execution_parity(pg_testdata_engine, duck_testdata,
                                        defn):
    eng = pg_testdata_engine
    if eng.validate_query(defn):
        return  # validation-rejected shapes are covered by the compile fuzz
    sql_res = eng.query({**defn, "executeMode": "sql-only"})
    assert sql_res["meta"]["dialect"] == "postgres"
    try:
        cur = duck_testdata.execute(sql_res["sql"], sql_res["params"])
    except duckdb.InvalidInputException as exc:
        # DuckDB 1.0's LIKE-prefix range pushdown increments the
        # pattern prefix's last BYTE; invalid-UTF-8 landings error in
        # the ORACLE on patterns the engine executes fine — harness
        # limitation, not engine behavior under test.
        assume("Invalid unicode" not in str(exc))
        raise
    cols = [d[0] for d in cur.description]
    via_pg = sorted(
        tuple(_canon_val(v) for v in row) for row in cur.fetchall()
    )
    data = eng.query(defn)["data"]
    via_builder = sorted(
        tuple(_canon_val(r[c]) for c in cols) for r in data
    )
    assert via_pg == via_builder, (
        f"random-DSL divergence\ndefn: {defn}\nSQL: {sql_res['sql']}"
        f"\nparams: {sql_res['params']}"
    )
