"""SparkSession factory with scale-conscious defaults.

Local mode here, but the configs are the ones that matter on a 1000-executor
cluster too: AQE for runtime re-planning (skew joins, partition coalescing),
UTC session time, Arrow for any pandas exchange, a generated-code cache
that holds the library's working set, a driver JIT policy that keeps C2
for code that gets hot, and a Python worker daemon whose tasks
skip a per-task re-read of ``pyspark.zip``. ``local_frame`` turns driver-side
rows into a frame without starting Python tasks at all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Spark keeps at most this many compiled generated classes (default 100).
# One sf0.001 pass over the driver entry's queries() generates 5,650 distinct
# classes; the 35 engine-DSL definitions alone need 124 and the benchmark's
# ten operator rows 182-184. Below the working set the LRU cache evicts each
# class before its next use, so every repeated query pays Janino and then
# the JIT again (3-5.5 ms a class on a 4-vCPU VM): at the default, two
# sf0.001 passes over queries() compiled 9,149 + 9,154 classes and metaspace
# ended at 269 MB; with this cap, 5,639 + 225 and 237 MB.
# Static conf: it takes effect only when the session is first created.
CODEGEN_CACHE_ENTRIES = 8192

# The driver JVM's C2 (tier-4) thresholds, 3x the HotSpot defaults. The JIT
# held more than half of a warm operation's driver CPU (255-274 of about
# 460 ms per benchmark operator row on a 4-vCPU VM), 82% of it in C2
# compiling planner, closure-cleaning, serialization and py4j code that runs
# a few thousand times per process and never pays the compile back. C1 keeps
# its default schedule, and per-row generated code and scan loops still
# reach the tripled counts within the first queries. Lukewarm code stays in
# C1 longer, so a serial loop over the benchmark's rows at sf0.1 ran about
# 7% slower over its first 75 passes (about 3 minutes) and at the same
# speed from about pass 100.
# The option is ``spark.driver.defaultJavaOptions``, which Spark puts before
# the user's ``spark.driver.extraJavaOptions`` and ``--driver-java-options``:
# a user's own flag wins. Driver only: on a cluster the executors keep the
# defaults, since their CPU is per-row code that C2 pays back (in local mode
# they share the driver's JVM). Applies when the driver JVM is started.
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
    "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
)

# Python workers fork from this daemon (see its docstring); they find the
# package through PACKAGE_ROOT whatever the driver's working directory is.
PYTHON_DAEMON_MODULE = "concept_multi_db_query_engine_spark.pyworker"
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "concept-multi-db-query-engine-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# The column types of the operators' driver-built frames; Arrow holds every
# Python value the list path accepts for them exactly. Not here: float (a
# Python float narrows), timestamps (localised to the session zone), and
# types no caller needs.
_EXACT_ARROW_TYPES = (
    T.IntegerType, T.LongType, T.DoubleType, T.DecimalType, T.StringType,
    T.BinaryType,
)


def local_frame(spark: SparkSession, rows, schema: str | T.StructType
                ) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for driver-side rows, built
    as an Arrow-backed local relation. The list path parallelises pickled
    rows and runs one Python task per core to convert them; this one runs
    none (64 rows on a 4-vCPU VM: about 250 ms against 50 ms, warm).

    Rows pass the list path's own per-value check (``verifySchema``), and
    Arrow converts every accepted value exactly or raises (an int out of a
    column's range, a decimal with too many digits). A column type outside
    ``_EXACT_ARROW_TYPES`` raises ``TypeError``.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    for f in schema.fields:
        if not isinstance(f.dataType, _EXACT_ARROW_TYPES):
            raise TypeError(
                f"local_frame: column {f.name!r} has type "
                f"{f.dataType.simpleString()}, which has no exact Arrow form")
    rows = [tuple(r) for r in rows]
    verify = T._make_type_verifier(schema)
    for r in rows:
        verify(r)
    arrow = to_arrow_schema(schema)
    cols = zip(*rows) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow)
    return spark.createDataFrame(table, schema)
