"""sql-only renderer sweep: for EVERY engine-DSL definition in the driver
entry file, the rendered Spark SQL text, run by ``spark.sql`` with its values
bound by name over temp views of the physical tables, must return exactly the
rows the executed path returns. The executed path renders the same plan over
the engine's private views, so this proves the text a caller receives is the
query the engine runs — masking included. (The test name is kept from the
DataFrame builder the text was first checked against.)"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from concept_multi_db_query_engine_spark import testdata
from concept_multi_db_query_engine_spark.sqlgen import named_args

SF_DIR = "/root/testdata/sf0.001"

SWEEP = sorted(entry_mod._DSL)


@pytest.fixture(scope="module")
def env(spark):
    engine = testdata.build_engine(spark, SF_DIR)
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        testdata.load_table(spark, SF_DIR, t).createOrReplaceTempView(t)
    # replica physical names resolve to the same data in the fixture world
    testdata.load_table(spark, SF_DIR, "orders") \
        .createOrReplaceTempView("orders_replica")
    testdata.load_table(spark, SF_DIR, "customer") \
        .createOrReplaceTempView("customer_replica")
    # doc_terms is the derived view over documents (testdata.normalize_table)
    testdata.normalize_table(
        "doc_terms", testdata.load_table(spark, SF_DIR, "documents")
    ).createOrReplaceTempView("doc_terms")
    return engine


@pytest.mark.parametrize("name", SWEEP)
def test_rendered_sql_matches_builder(name, spark, env):
    engine = env
    defn = entry_mod._DSL[name]
    context = entry_mod._DSL_CONTEXT.get(name)
    import decimal

    def canon(v):
        # the row API surfaces avg as Decimal (QUERY.md:173) while raw SQL
        # returns double; collapse both to float for the drift comparison
        return float(v) if isinstance(v, decimal.Decimal) else v

    res = engine.query({**defn, "executeMode": "sql-only"}, context)
    sql = res["sql"]
    via_sql = [tuple(canon(v) for v in r)
               for r in spark.sql(sql, args=named_args(res["params"])).collect()]
    via_engine = [
        tuple(canon(v) for v in r.values()) for r in engine.query(defn, context)["data"]
    ]
    assert sorted(map(repr, via_sql)) == sorted(map(repr, via_engine)), (
        f"{name}: sql-only text diverges from the executed path\nSQL: {sql}"
    )
