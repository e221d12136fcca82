"""Engine registry for the driver's TPC-H-ish parquet testdata
(/root/testdata/sf*/ — see TESTDATA.md).

Two logical databases give the planner a real topology:
- ``warehouse``: region nation customer supplier part orders lineitem
- ``lake``: events documents embeddings + a CDC replica of orders
  (``orders_replica``, lag 'seconds') so P2/P3 strategies are exercised.

apiNames equal the physical snake_case column names (relaxed naming mode) so
engine results line up 1:1 with DuckDB oracle SQL over the same files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import MultiDb
from .sources import ParquetSource, SourceRegistry, read_parquet

# events.ts is parquet TIMESTAMP(NANOS); Spark reads it as long (with the
# legacy conf) and we convert to micros — integer `div` so no double rounding
NANO_TS_COLUMNS = {"events": ["ts"]}


def normalize_table(name: str, df: DataFrame) -> DataFrame:
    for c in NANO_TS_COLUMNS.get(name, []):
        if dict(df.dtypes).get(c) == "bigint":
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"{c} div 1000"))
            )
    if name == "doc_terms":
        # derived view over documents giving the gate real array + NULL
        # semantics (the raw testdata has neither): terms = whitespace
        # tokens, rare_terms = tokens longer than 7 chars (empty array for
        # ~20% of docs), lang_alt = NULL for 'en' docs. DuckDB twin:
        # string_split / list_filter / nullif.
        df = df.select(
            "doc_id",
            F.expr("nullif(lang, 'en')").alias("lang_alt"),
            F.split("text", " ").alias("terms"),
            F.filter(F.split("text", " "),
                     lambda x: F.length(x) > 7).alias("rare_terms"),
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with schema normalization applied."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_table(
        name, read_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")
    )


def _cols(*specs: tuple[str, str] | tuple[str, str, str]) -> list[dict]:
    out = []
    for spec in specs:
        name, typ = spec[0], spec[1]
        col: dict = {"apiName": name, "physicalName": name, "type": typ}
        if len(spec) > 2:
            col["maskingFn"] = spec[2]
        out.append(col)
    return out


def _rel(column: str, table: str, ref: str, rtype: str = "many-to-one") -> dict:
    return {"column": column, "references": {"table": table, "column": ref},
            "type": rtype}


METADATA = {
    "databases": [
        {"id": "warehouse", "engine": "spark"},
        {"id": "lake", "engine": "spark"},
    ],
    "tables": [
        {
            "id": "region", "apiName": "region", "database": "warehouse",
            "physicalName": "region", "primaryKey": ["r_regionkey"],
            "columns": _cols(("r_regionkey", "int"), ("r_name", "string")),
        },
        {
            "id": "nation", "apiName": "nation", "database": "warehouse",
            "physicalName": "nation", "primaryKey": ["n_nationkey"],
            "columns": _cols(("n_nationkey", "int"), ("n_name", "string"),
                             ("n_regionkey", "int")),
            "relations": [_rel("n_regionkey", "region", "r_regionkey")],
        },
        {
            "id": "customer", "apiName": "customer", "database": "warehouse",
            "physicalName": "customer", "primaryKey": ["c_custkey"],
            "columns": _cols(
                ("c_custkey", "int"), ("c_name", "string", "name"),
                ("c_nationkey", "int"), ("c_acctbal", "float", "number"),
                ("c_mktsegment", "string"),
            ),
            "relations": [_rel("c_nationkey", "nation", "n_nationkey")],
        },
        {
            "id": "supplier", "apiName": "supplier", "database": "warehouse",
            "physicalName": "supplier", "primaryKey": ["s_suppkey"],
            "columns": _cols(("s_suppkey", "int"), ("s_name", "string"),
                             ("s_nationkey", "int"), ("s_acctbal", "float")),
            "relations": [_rel("s_nationkey", "nation", "n_nationkey")],
        },
        {
            "id": "part", "apiName": "part", "database": "warehouse",
            "physicalName": "part", "primaryKey": ["p_partkey"],
            "columns": _cols(
                ("p_partkey", "int"), ("p_name", "string"),
                ("p_brand", "string"), ("p_type", "string"),
                ("p_size", "int"), ("p_retailprice", "float"),
            ),
        },
        {
            "id": "orders", "apiName": "orders", "database": "warehouse",
            "physicalName": "orders", "primaryKey": ["o_orderkey"],
            "columns": _cols(
                ("o_orderkey", "int"), ("o_custkey", "int"),
                ("o_orderstatus", "string"), ("o_totalprice", "float"),
                ("o_orderdate", "timestamp"), ("o_orderpriority", "string"),
            ),
            "relations": [_rel("o_custkey", "customer", "c_custkey")],
        },
        {
            "id": "lineitem", "apiName": "lineitem", "database": "warehouse",
            "physicalName": "lineitem", "primaryKey": ["l_orderkey"],
            "columns": _cols(
                ("l_orderkey", "int"), ("l_partkey", "int"),
                ("l_suppkey", "int"), ("l_linenumber", "int"),
                ("l_quantity", "float"), ("l_extendedprice", "float"),
                ("l_discount", "float"), ("l_tax", "float"),
                ("l_returnflag", "string"), ("l_linestatus", "string"),
                ("l_shipdate", "timestamp"),
            ),
            "relations": [
                _rel("l_orderkey", "orders", "o_orderkey"),
                _rel("l_partkey", "part", "p_partkey"),
                _rel("l_suppkey", "supplier", "s_suppkey"),
            ],
        },
        {
            "id": "events", "apiName": "events", "database": "lake",
            "physicalName": "events", "primaryKey": ["event_id"],
            "columns": _cols(
                ("event_id", "int"), ("ts", "timestamp"), ("user_id", "int"),
                ("event_type", "string"), ("value", "float"),
                ("props", "string"),
            ),
            "relations": [_rel("user_id", "customer", "c_custkey")],
        },
        {
            "id": "documents", "apiName": "documents", "database": "lake",
            "physicalName": "documents", "primaryKey": ["doc_id"],
            "columns": _cols(
                ("doc_id", "int"), ("text", "string"), ("lang", "string"),
                ("source", "string"), ("n_chars", "int"),
            ),
        },
        {
            "id": "doc_terms", "apiName": "doc_terms", "database": "lake",
            "physicalName": "doc_terms", "primaryKey": ["doc_id"],
            "columns": [
                {"apiName": "doc_id", "physicalName": "doc_id",
                 "type": "int"},
                {"apiName": "lang_alt", "physicalName": "lang_alt",
                 "type": "string", "nullable": True},
                {"apiName": "terms", "physicalName": "terms",
                 "type": "string[]"},
                {"apiName": "rare_terms", "physicalName": "rare_terms",
                 "type": "string[]"},
            ],
        },
        {
            "id": "embeddings", "apiName": "embeddings", "database": "lake",
            "physicalName": "embeddings", "primaryKey": ["vec_id"],
            "columns": _cols(
                ("vec_id", "int"), ("embedding", "float[]"), ("label", "int"),
            ),
            "relations": [
                _rel("vec_id", "documents", "doc_id", "one-to-one"),
            ],
        },
    ],
    "externalSyncs": [
        # at this snapshot the replica reads the same parquet — an exactly
        # caught-up CDC copy; at scale this is a Structured-Streaming-written
        # Delta/parquet dir and only this mapping changes
        {"sourceTable": "orders", "targetDatabase": "lake",
         "targetPhysicalName": "orders_replica", "estimatedLag": "seconds"},
        {"sourceTable": "customer", "targetDatabase": "lake",
         "targetPhysicalName": "customer_replica", "estimatedLag": "minutes"},
    ],
}

ROLES = [
    {"id": "admin", "tables": "*"},
    {
        # masks customer name + balance; used by the masking parity query
        "id": "restricted",
        "tables": [
            {"tableId": "customer",
             "allowedColumns": ["c_custkey", "c_name", "c_acctbal",
                                "c_mktsegment"],
             "maskedColumns": ["c_name", "c_acctbal"]},
            {"tableId": "orders", "allowedColumns": "*"},
        ],
    },
]


def build_engine(
    spark: SparkSession, sf_dir: str, timeout_ms: int | None = None
) -> MultiDb:
    """The two-database engine over ``sf_dir``; ``timeout_ms`` is the
    per-query deadline (``MultiDb``'s ``timeout_ms``)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    registry = SourceRegistry(
        {
            "warehouse": ParquetSource(sf_dir),
            "lake": ParquetSource(
                sf_dir,
                aliases={
                    "orders_replica": "orders",
                    "customer_replica": "customer",
                    "doc_terms": "documents",
                },
                post=normalize_table,
            ),
        }
    )
    return MultiDb(
        spark, METADATA, ROLES, registry, strict_api_names=False,
        timeout_ms=timeout_ms,
    )
