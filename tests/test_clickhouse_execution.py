"""Execution parity for the ClickHouse dialect: the rendered CH SQL +
params RUN on DuckDB — after a *mechanical* syntax translation — and
return exactly the rows the engine's executed path returns.

DuckDB obviously isn't ClickHouse, so two purely-syntactic rewrites bridge
the wire format without touching semantics: ``{pN:Type}`` named params
become DuckDB's ``$N`` numbered params (same positions — the renderer
registers them in order), and backtick identifier quoting becomes double
quotes. ClickHouse's function-style operators are polyfilled with
semantics-preserving macros (``ilike`` → ``ILIKE``, ``has``/``hasAll``/
``hasAny`` → ``list_contains``/``list_has_all``/``list_has_any``,
``empty``/``notEmpty`` → ``len()``, ``editDistance`` → ``levenshtein``,
``parseDateTimeBestEffort`` → timestamp cast, ``tuple(...)`` IN-lists →
plain ``IN (...)``). What this proves: argument order, parameter
numbering, the decorrelated counted-subquery shapes with the round-5
fk-NOT-NULL guard, the null-inclusive ``!=`` expansion, and the C133
timestamp wrapping all produce semantically correct SQL end to end. What
it can't prove: CH-server-specific behavior (type coercion quirks, its
aggregate combinators) — that part stays bounded by the sandbox having no
ClickHouse, as SQL_DIALECTS.md:250-258 acknowledges.
"""

from __future__ import annotations

import copy
import datetime as dt
import decimal
import re

import duckdb
import pytest

from concept_multi_db_query_engine_spark import MultiDb

from tests import fixtures

ADMIN = {"roles": {"user": ["admin"]}}

_TABLES = ["samples", "sample_items", "sample_details", "orders",
           "products", "users", "invoices"]

_CH_MACROS = [
    # ILIKE is a reserved word, so the macro NAME needs quoting; call
    # sites (`ilike(...)`) resolve to it case-insensitively
    'CREATE MACRO "ilike"(a, b) AS a ILIKE b',
    "CREATE MACRO has(l, x) AS list_contains(l, x)",
    "CREATE MACRO hasAll(a, b) AS list_has_all(a, b)",
    "CREATE MACRO hasAny(a, b) AS list_has_any(a, b)",
    "CREATE MACRO empty(l) AS len(l) = 0",
    "CREATE MACRO notEmpty(l) AS len(l) > 0",
    "CREATE MACRO startsWith(a, b) AS starts_with(a, b)",
    "CREATE MACRO endsWith(a, b) AS ends_with(a, b)",
    "CREATE MACRO editDistance(a, b) AS levenshtein(a, b)",
    "CREATE MACRO parseDateTimeBestEffort(s) AS CAST(s AS TIMESTAMP)",
]


def ch_to_duckdb(sql: str) -> str:
    """Syntax-only translation of ClickHouse wire format to DuckDB:
    named typed params -> numbered params, backticks -> double quotes,
    tuple() IN-lists -> plain parenthesized lists."""
    sql = re.sub(r"\{p(\d+):[A-Za-z0-9(),]*\}", r"$\1", sql)
    sql = sql.replace("`", '"')
    sql = sql.replace("IN tuple(", "IN (")
    return sql


@pytest.fixture(scope="module")
def ch_engine(spark):
    meta = copy.deepcopy(fixtures.METADATA)
    for db in meta["databases"]:
        db["engine"] = "clickhouse"
    return MultiDb(
        spark, meta, fixtures.ROLES, fixtures.build_registry(spark),
    )


@pytest.fixture(scope="module")
def duck(spark):
    con = duckdb.connect()
    for m in _CH_MACROS:
        con.execute(m)
    reg = fixtures.build_registry(spark)
    for physical in _TABLES:
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
    if hasattr(v, "item"):
        return _canon_val(v.item())
    return v


def _assert_parity(engine, duck, defn, context=ADMIN):
    sql_res = engine.query({**defn, "executeMode": "sql-only"}, context)
    assert sql_res["meta"]["dialect"] == "clickhouse"
    translated = ch_to_duckdb(sql_res["sql"])
    cur = duck.execute(translated, sql_res["params"])
    cols = [d[0] for d in cur.description]
    via_ch = sorted(
        tuple(_canon_val(v) for v in row) for row in cur.fetchall()
    )
    data = engine.query(defn, context)["data"]
    via_builder = sorted(
        tuple(_canon_val(r[c]) for c in cols) for r in data
    )
    assert via_ch == via_builder, (
        f"ch-dialect execution diverges from the executed path\n"
        f"CH SQL: {sql_res['sql']}\ntranslated: {translated}\n"
        f"params: {sql_res['params']}"
    )
    return via_ch


BATTERY = [
    # projection + eq + order/limit/offset ({pN:String} params)
    {"from": "samples", "columns": ["id", "name", "status"],
     "filters": [{"column": "status", "operator": "=", "value": "active"}],
     "orderBy": [{"column": "id", "direction": "asc"}],
     "limit": 5, "offset": 1},
    # the CH null-inclusive != expansion: (<> OR IS NULL)
    {"from": "samples", "columns": ["id", "note"],
     "filters": [{"column": "note", "operator": "!=", "value": "x"}]},
    # in/notIn via IN tuple(...) with per-value typed params
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "status", "operator": "in",
                  "value": ["active", "pending"]}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "id", "operator": "notIn", "value": [1, 3]}]},
    # function-style string ops: ilike / native startsWith / endsWith /
    # case-insensitive variants through escaped ilike patterns
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "status", "operator": "ilike",
                  "value": "ACT%"}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "name", "operator": "startsWith",
                  "value": "Al"}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "name", "operator": "endsWith", "value": "a"}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "name", "operator": "istartsWith",
                  "value": "A"}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "name", "operator": "notIcontains",
                  "value": "PRO"}]},
    # between on numbers and the C133 timestamp wrapping
    {"from": "samples", "columns": ["id", "amount"],
     "filters": [{"column": "amount", "operator": "between",
                  "value": {"from": 50, "to": 200}}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "createdAt", "operator": "between",
                  "value": {"from": "2024-01-01T00:00:00Z",
                            "to": "2024-12-31T23:59:59Z"}}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "createdAt", "operator": ">=",
                  "value": "2024-03-01T00:00:00Z"}]},
    # null checks
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "note", "operator": "isNull"}]},
    # editDistance with the UInt32 threshold param
    {"from": "samples", "columns": ["id", "status"],
     "filters": [{"column": "status", "operator": "levenshteinLte",
                  "value": {"text": "activ", "maxDistance": 2}}]},
    # array ops: has / hasAll / hasAny / empty / notEmpty
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "tags", "operator": "arrayContains",
                  "value": "fast"}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "tags", "operator": "arrayContainsAll",
                  "value": ["fast", "new"]}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "tags", "operator": "arrayContainsAny",
                  "value": ["fast", "missing"]}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"column": "tags", "operator": "arrayIsNotEmpty"}]},
    # column-vs-column + recursive OR/NOT groups
    {"from": "sampleItems", "columns": ["id"],
     "filters": [{"column": "quantity", "operator": "<=",
                  "refColumn": "id"}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"logic": "or", "conditions": [
         {"column": "status", "operator": "=", "value": "active"},
         {"logic": "and", "not": True, "conditions": [
             {"column": "amount", "operator": ">", "value": 100},
         ]},
     ]}]},
    # joins + transitive
    {"from": "orders", "columns": ["id", "status"],
     "joins": [{"table": "products", "columns": ["name"],
                "filters": [{"column": "price", "operator": ">",
                             "value": 10}]}]},
    {"from": "sampleDetails", "columns": ["id"],
     "joins": [{"table": "sampleItems", "columns": []},
               {"table": "samples", "columns": ["name"]}]},
    # aggregation + having, distinct
    {"from": "orders", "columns": [],
     "groupBy": [{"column": "status"}],
     "aggregations": [
         {"fn": "count", "column": "*", "alias": "n"},
         {"fn": "sum", "column": "total", "alias": "totalSum"},
         {"fn": "avg", "column": "quantity", "alias": "avgQty"},
     ],
     "having": [{"column": "n", "operator": ">=", "value": 1}]},
    {"from": "orders", "columns": ["status"], "distinct": True},
    # EXISTS / NOT EXISTS / all counted forms (decorrelated with the
    # UInt64 thresholds and the fk-NOT-NULL guard)
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
    {"from": "samples", "columns": ["id"],
     "filters": [{"table": "sampleItems",
                  "count": {"operator": ">", "value": 0},
                  "filters": [{"column": "status", "operator": "=",
                               "value": "shipped"}]}]},
    # EXISTS inside an OR group (C603): the SQL form renders a correlated
    # EXISTS branch inside the OR tree, which Spark decorrelates into an
    # existence join — executed parity proves the two agree in this
    # dialect too (round-6; previously proven only for the pg renderer)
    {"from": "samples", "columns": ["id"],
     "filters": [{"logic": "or", "conditions": [
         {"table": "sampleItems", "exists": True,
          "filters": [{"column": "status", "operator": "=",
                       "value": "shipped"}]},
         {"column": "amount", "operator": "<", "value": 60},
     ]}]},
    {"from": "samples", "columns": ["id"],
     "filters": [{"logic": "or", "conditions": [
         {"table": "sampleItems", "exists": False},
         {"column": "status", "operator": "=", "value": "active"},
     ]}]},
    # byIds
    {"from": "samples", "byIds": [1, 2, 3], "columns": ["id", "name"],
     "freshness": "realtime"},
]


@pytest.mark.parametrize("idx", range(len(BATTERY)))
def test_ch_dialect_executes_on_duckdb(ch_engine, duck, idx):
    _assert_parity(ch_engine, duck, BATTERY[idx])


def test_battery_is_not_vacuous(ch_engine, duck):
    nonempty = sum(
        1 for d in BATTERY if _assert_parity(ch_engine, duck, d)
    )
    assert nonempty >= len(BATTERY) // 2


def test_masked_sql_only_intent_reproduces_builder_masking(ch_engine, duck):
    """sql-only masking contract, executed in the CH dialect (round-6):
    masking is never rendered into foreign-dialect SQL text (the reference masks
    post-query); instead the meta reports per-column masking intent, and a
    consumer applying ``mask_value`` to the executed rows must land on
    EXACTLY what the executed path returns with the same context."""
    from concept_multi_db_query_engine_spark.masking import mask_value

    ctx = {"roles": {"user": ["tenant-user"]}}
    defn = {"from": "orders",
            "columns": ["id", "total", "createdAt"],
            "orderBy": [{"column": "id", "direction": "asc"}]}
    sql_res = ch_engine.query({**defn, "executeMode": "sql-only"}, ctx)
    meta_cols = {c["apiName"]: c for c in sql_res["meta"]["columns"]}
    assert meta_cols["total"]["masked"] is True
    assert meta_cols["createdAt"]["masked"] is False  # unmasked passthrough
    # the masking fn comes from table metadata (the consumer owns it)
    ometa = next(t for t in fixtures.METADATA["tables"]
                 if t["id"] == "orders")
    fns = {c["apiName"]: c.get("maskingFn", "full")
           for c in ometa["columns"]}
    cur = duck.execute(ch_to_duckdb(sql_res["sql"]), sql_res["params"])
    cols = [d[0] for d in cur.description]
    via_sql = []
    for row in cur.fetchall():
        out = dict(zip(cols, row))
        for c in cols:
            if meta_cols[c]["masked"]:
                out[c] = mask_value(
                    out[c], fns[c], meta_cols[c]["type"])
        via_sql.append(tuple(_canon_val(out[c]) for c in cols))
    data = ch_engine.query(defn, ctx)["data"]
    via_builder = [
        tuple(_canon_val(r[c]) for c in cols) for r in data
    ]
    assert sorted(via_sql) == sorted(via_builder)
    # non-vacuous: at least one value actually changed under masking
    raw = [tuple(_canon_val(v) for v in row)
           for row in duck.execute(ch_to_duckdb(sql_res["sql"]),
                                   sql_res["params"]).fetchall()]
    assert sorted(raw) != sorted(via_sql)


# ---------------------------------------------------------------------------
# Property-based EXECUTED parity over the driver testdata: random valid
# definitions through the executed path vs the translated ClickHouse
# SQL on DuckDB — the CH twin of the pg/trino random-DSL fuzzes.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, assume, given, settings

from concept_multi_db_query_engine_spark import testdata as td
from concept_multi_db_query_engine_spark.sources import (
    ParquetSource,
    SourceRegistry,
)

from tests.test_builder_fuzz import _any_defn

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ch_testdata_engine(spark):
    meta = copy.deepcopy(td.METADATA)
    for db in meta["databases"]:
        db["engine"] = "clickhouse"
    registry = SourceRegistry({
        "warehouse": ParquetSource(SF_DIR),
        "lake": ParquetSource(
            SF_DIR,
            aliases={"orders_replica": "orders",
                     "customer_replica": "customer",
                     "doc_terms": "documents"},
            post=td.normalize_table,
        ),
    })
    return MultiDb(spark, meta, td.ROLES, registry,
                   strict_api_names=False)


@pytest.fixture(scope="module")
def duck_testdata():
    con = duckdb.connect()
    for m in _CH_MACROS:
        con.execute(m)
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"]:
        con.execute(
            f'CREATE VIEW "{t}" AS '
            f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(defn=_any_defn)
def test_random_dsl_ch_execution_parity(ch_testdata_engine, duck_testdata,
                                        defn):
    eng = ch_testdata_engine
    if eng.validate_query(defn):
        return
    sql_res = eng.query({**defn, "executeMode": "sql-only"})
    assert sql_res["meta"]["dialect"] == "clickhouse"
    translated = ch_to_duckdb(sql_res["sql"])
    try:
        cur = duck_testdata.execute(translated, sql_res["params"])
    except duckdb.InvalidInputException as exc:
        # DuckDB 1.0's LIKE-prefix range pushdown increments the
        # pattern prefix's last BYTE; invalid-UTF-8 landings error in
        # the ORACLE on patterns the engine executes fine — harness
        # limitation, not engine behavior under test.
        assume("Invalid unicode" not in str(exc))
        raise
    cols = [d[0] for d in cur.description]
    via_ch = sorted(
        tuple(_canon_val(v) for v in row) for row in cur.fetchall()
    )
    data = eng.query(defn)["data"]
    via_builder = sorted(
        tuple(_canon_val(r[c]) for c in cols) for r in data
    )
    assert via_ch == via_builder, (
        f"random-DSL ch divergence\ndefn: {defn}\nCH SQL: {sql_res['sql']}"
        f"\ntranslated: {translated}\nparams: {sql_res['params']}"
    )
