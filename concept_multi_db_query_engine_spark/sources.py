"""Sources: where each logical database's tables physically live.

The reference delegates execution to Postgres/ClickHouse/Trino executors
(METADATA.md:222-228); here every "database" is a Spark-readable source and
Spark is both executor and federation layer. Sources return *lazy* DataFrames
— Catalyst sees the full plan (scan + filters + joins) and pushes
predicates/column pruning into the file scan.

Queries read tables through engine-private temp views
(``SourceRegistry.views``): a view is registered once per (database,
physical table, source version) and read by every later query's SQL text,
so a query no longer rebuilds and re-analyses each table's DataFrame. A
source that reports no version gets a fresh view for each query.
"""

from __future__ import annotations

import itertools
import re
import threading
import uuid
from contextlib import contextmanager
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from .errors import EXECUTOR_MISSING, ConnectionError, ErrorItem

# process-level memo of inferred parquet schemas, keyed by (path,
# mtime/size fingerprint). The first read of a path infers the schema from
# file footers (a 1-task Spark job + footer I/O); every later read passes
# the cached StructType explicitly — zero jobs, zero footer reads. At
# cluster scale this removes a per-read fixed cost on hot tables (directory
# listing is already amortized by Spark's shared FileStatusCache); it also
# keeps bench.py's construction-job eagerness detection exact. The
# fingerprint in the key makes in-process overwrites / schema evolution
# invalidate the memo instead of null-filling through a stale StructType.
_PARQUET_SCHEMA_CACHE: dict[tuple, Any] = {}


# past this many stat calls the fingerprint walk costs more than the
# footer job it saves; huge trees simply skip the memo (safe: every
# read re-infers, nothing stale can replay)
_FP_MAX_ENTRIES = 4096


def _path_fingerprint(path: str) -> tuple:
    """Cheap local-FS change detector for the schema memo: the path's
    own (mtime_ns, size) plus, for a directory, the (relative path,
    name, mtime_ns, size) of every entry found by a FULL recursive
    walk — a parquet dir overwrite replaces part files under new UUID
    names at ANY depth (multi-level partitioned layouts rewrite only
    a=1/b=2/part-*.parquet, leaving the top-level mtimes untouched),
    so any rewrite or schema evolution changes the tuple and the stale
    StructType is never replayed (silently null-filling renamed
    columns). The walk is bounded: past _FP_MAX_ENTRIES stats the memo
    is disabled for that path (correct, just unmemoized) rather than
    keyed on a truncated — and therefore stale-replayable — view.
    Non-local paths (s3://, hdfs://) stat-fail and return the same
    no-memo marker."""
    import os

    try:
        st = os.stat(path)
        fp: tuple = (st.st_mtime_ns, st.st_size)
        if os.path.isdir(path):
            entries = []
            for root, dirs, files in os.walk(path):
                dirs.sort()
                files.sort()
                rel = os.path.relpath(root, path)
                for name in dirs + files:
                    if len(entries) >= _FP_MAX_ENTRIES:
                        return ("no-memo",)
                    est = os.stat(os.path.join(root, name))
                    entries.append((rel, name, est.st_mtime_ns,
                                    est.st_size))
            fp = fp + (hash(tuple(entries)),)
        return fp
    except OSError:
        return ("no-memo",)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with the process-level inferred-schema memo, keyed
    by (path, mtime/size fingerprint) so in-process overwrites or
    schema evolution invalidate the memo instead of silently reading
    through a stale StructType."""
    fp = _path_fingerprint(path)
    if fp == ("no-memo",):
        return spark.read.parquet(path)
    key = (path, fp)
    schema = _PARQUET_SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        # one live generation per path: drop fingerprints of prior
        # generations so the memo stays O(paths), not O(overwrites)
        for k in [k for k in _PARQUET_SCHEMA_CACHE if k[0] == path]:
            del _PARQUET_SCHEMA_CACHE[k]
        _PARQUET_SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def invalidate_schema_cache(path: str | None = None) -> None:
    """Drop the parquet schema memo for ``path`` (or everything)."""
    if path is None:
        _PARQUET_SCHEMA_CACHE.clear()
        return
    for k in [k for k in _PARQUET_SCHEMA_CACHE if k[0] == path]:
        del _PARQUET_SCHEMA_CACHE[k]


class Source:
    """One logical database. Subclasses map physical table names to lazy
    DataFrames (analog of the reference's executor interface:
    execute/ping/close — METADATA.md:222-228)."""

    def df(self, spark: SparkSession, physical_name: str) -> DataFrame:
        raise NotImplementedError

    def version(self, physical_name: str) -> Any:
        """A value that changes whenever ``df(physical_name)`` would read
        different data or schema, or None when the source cannot tell. A
        view over the table is reused while the version compares equal."""
        return None

    def ping(self) -> bool:
        return True

    def close(self) -> None:
        pass


class ParquetSource(Source):
    """Directory of ``<physical_name>.parquet`` files/dirs — the fixture-world
    stand-in for a database. Scans support predicate pushdown + column
    pruning natively."""

    def __init__(
        self,
        directory: str,
        aliases: dict[str, str] | None = None,
        post: Callable[[str, DataFrame], DataFrame] | None = None,
    ):
        self.directory = directory.rstrip("/")
        # physical name → actual file stem (e.g. a CDC replica registered as
        # 'orders_replica' reading the synced copy)
        self.aliases = aliases or {}
        # optional per-table normalization (e.g. nano-timestamp conversion)
        self.post = post

    def _path(self, physical_name: str) -> str:
        stem = self.aliases.get(physical_name, physical_name)
        return f"{self.directory}/{stem}.parquet"

    def df(self, spark: SparkSession, physical_name: str) -> DataFrame:
        df = read_parquet(spark, self._path(physical_name))
        # post sees the REQUESTED name (not the aliased stem) so derived
        # views (e.g. doc_terms over documents) can attach their projection
        return self.post(physical_name, df) if self.post else df

    def version(self, physical_name: str) -> Any:
        # the file listing a view captured is stale once the files change;
        # the fingerprint changes with any rewrite, anywhere in the tree
        fp = _path_fingerprint(self._path(physical_name))
        return None if fp == ("no-memo",) else fp

    def ping(self) -> bool:
        import os

        return os.path.isdir(self.directory)


class JdbcSource(Source):
    """A real external database behind Spark's JDBC reader — the production
    slot for the reference's Postgres/ClickHouse executors
    (METADATA.md:222-228). Spark pushes filters and column pruning through
    JDBC (and with ``pushDownAggregate`` enabled, aggregates too), so the
    remote engine keeps doing the work it did under the reference; Spark
    adds the federation layer (cross-source joins) that Trino provided.

    ``partition_column``/``num_partitions`` split the read into parallel
    range queries — without them a JDBC scan is a single connection and
    becomes the bottleneck at any real scale. ``timeout_s`` maps to the
    driver's queryTimeout (the reference's statement_timeout analog).

    E2E-tested against the embedded Derby engine bundled with Spark
    (tests/test_jdbc_derby.py): write via Spark's JDBC writer, read back
    through this source with probed bounds and 4-way parallel range
    partitioning, full pipeline on top.
    """

    def __init__(
        self,
        url: str,
        *,
        properties: dict[str, str] | None = None,
        schema: str | None = None,
        partition_column: str | None = None,
        num_partitions: int = 8,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
        timeout_s: int | None = None,
        fetchsize: int = 10_000,
    ):
        self.url = url
        self.properties = dict(properties or {})
        self.properties.setdefault("fetchsize", str(fetchsize))
        self.schema = schema
        self.partition_column = partition_column
        self.num_partitions = num_partitions
        self.lower_bound = lower_bound
        self.upper_bound = upper_bound
        if timeout_s is not None:
            self.properties.setdefault("queryTimeout", str(timeout_s))
        self._bounds_cache: dict[str, tuple[int, int]] = {}

    def _bounds(self, spark: SparkSession, dbtable: str) -> tuple[int, int]:
        """Spark's JDBC reader requires partitionColumn, lowerBound,
        upperBound and numPartitions TOGETHER; when the caller gave no
        bounds, probe min/max with a one-row remote query (cheap — the
        remote engine answers from the index/zone map). Probed bounds are
        memoized per dbtable so repeated reads of a hot table don't re-issue
        the remote MIN/MAX scan every call."""
        if self.lower_bound is not None and self.upper_bound is not None:
            return self.lower_bound, self.upper_bound
        cached = self._bounds_cache.get(dbtable)
        if cached is not None:
            return cached
        probe = (
            f"(SELECT MIN({self.partition_column}) AS lo, "
            f"MAX({self.partition_column}) AS hi FROM {dbtable}) bounds"
        )
        reader = spark.read.format("jdbc").option("url", self.url).option(
            "dbtable", probe
        )
        for k, v in self.properties.items():
            reader = reader.option(k, v)
        # positional access: engines disagree on label casing (Derby/Oracle
        # uppercase unquoted aliases, Postgres lowercases them)
        row = reader.load().collect()[0]
        lo = row[0] if row[0] is not None else 0
        hi = row[1] if row[1] is not None else lo + 1
        self._bounds_cache[dbtable] = (int(lo), int(hi))
        return self._bounds_cache[dbtable]

    def reader_options(
        self, physical_name: str,
        bounds: tuple[int, int] | None = None,
    ) -> dict[str, str]:
        dbtable = (
            f"{self.schema}.{physical_name}" if self.schema else physical_name
        )
        opts = {"url": self.url, "dbtable": dbtable, **self.properties}
        if self.partition_column:
            if bounds is None:
                bounds = (self.lower_bound or 0, self.upper_bound or 1)
            opts.update(
                partitionColumn=self.partition_column,
                numPartitions=str(self.num_partitions),
                lowerBound=str(bounds[0]),
                upperBound=str(bounds[1]),
            )
        return opts

    def df(self, spark: SparkSession, physical_name: str) -> DataFrame:
        bounds = None
        if self.partition_column:
            dbtable = (
                f"{self.schema}.{physical_name}" if self.schema
                else physical_name
            )
            bounds = self._bounds(spark, dbtable)
        reader = spark.read.format("jdbc")
        for k, v in self.reader_options(physical_name, bounds).items():
            reader = reader.option(k, v)
        return reader.load()

    def ping(self) -> bool:
        # a real implementation issues SELECT 1 through the driver; without
        # a reachable database the registry's validateConnections=False path
        # applies (README.md:149-161 step 5 is skippable)
        return True


class CatalogSource(Source):
    """Tables resolved through a Spark catalog — the Iceberg slot.

    The reference has no standalone Iceberg executor: Iceberg tables are
    reached through Trino (README.md:246), so its planner treats them as
    a P1 exception routed to the federation engine. On Spark the natural
    equivalent is a catalog read: with an Iceberg catalog configured
    (``spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog``)
    ``spark.read.table("<catalog>.<namespace>.<table>")`` gives Catalyst
    the table's metadata — partition pruning over Iceberg's partition
    transforms, min/max file skipping from manifest stats, and snapshot
    isolation all come from the DataSourceV2 scan, which is why this is a
    thin mapping and not a custom reader.

    The sandbox ships no Iceberg runtime jar, so tests back this with a
    plain Spark temp view / warehouse table (same ``read.table`` code
    path); against a real cluster the catalog name is all that changes.
    """

    def __init__(self, catalog: str | None = None,
                 namespace: str | None = None,
                 aliases: dict[str, str] | None = None):
        self.catalog = catalog
        self.namespace = namespace
        self.aliases = aliases or {}

    def _qualified(self, physical_name: str) -> str:
        stem = self.aliases.get(physical_name, physical_name)
        parts = [p for p in (self.catalog, self.namespace, stem) if p]
        return ".".join(parts)

    def df(self, spark: SparkSession, physical_name: str) -> DataFrame:
        return spark.read.table(self._qualified(physical_name))

    def ping(self) -> bool:
        return True


class FormatSource(Source):
    """Directory of ``<physical_name>.<ext>`` files in a non-parquet file
    format — csv, json, orc, avro, text — behind the same lazy-DataFrame
    contract as :class:`ParquetSource`, so a "database" can be a landing
    zone of raw exports without a conversion step.

    ``schemas`` (physical name → DDL string) is REQUIRED for text formats
    (csv/json): without it Spark would run schema inference, which reads
    the data once before planning — at 100 TB that is a full extra scan,
    and inferred types can drift between runs. With an explicit schema the
    scan stays single-pass and the plan is stable.

    Pushdown posture by format: column pruning works for all of them
    (csv/json parse only requested fields with the default
    ``columnPruning`` on); predicate pushdown reaches the scan for
    orc (row-group statistics) and csv (row-level PushedFilters); json
    filters evaluate post-parse. Prefer columnar formats for anything
    queried repeatedly — this source exists for the ingest edge, not the
    hot path.
    """

    def __init__(
        self,
        directory: str,
        fmt: str = "csv",
        schemas: dict[str, str] | None = None,
        options: dict[str, str] | None = None,
        aliases: dict[str, str] | None = None,
        ext: str | None = None,
    ):
        self.directory = directory.rstrip("/")
        self.fmt = fmt
        self.schemas = schemas or {}
        self.options = options or {}
        self.aliases = aliases or {}
        self.ext = ext or fmt

    def df(self, spark: SparkSession, physical_name: str) -> DataFrame:
        stem = self.aliases.get(physical_name, physical_name)
        reader = spark.read.format(self.fmt).options(**self.options)
        schema = self.schemas.get(physical_name)
        if schema is not None:
            reader = reader.schema(schema)
        elif self.fmt in ("csv", "json"):
            raise ValueError(
                f"FormatSource({self.fmt}) requires an explicit schema for "
                f"'{physical_name}': inference would scan the data before "
                "planning"
            )
        return reader.load(f"{self.directory}/{stem}.{self.ext}")

    def ping(self) -> bool:
        import os

        return os.path.isdir(self.directory)


class MemorySource(Source):
    """In-memory tables for tests/fixtures: physical name → DataFrame or a
    zero-arg factory returning one."""

    def __init__(self, tables: dict[str, DataFrame | Callable[[], DataFrame]]):
        self.tables = tables

    def df(self, spark: SparkSession, physical_name: str) -> DataFrame:
        t = self.tables[physical_name]
        return t() if callable(t) else t

    def version(self, physical_name: str) -> Any:
        # a held DataFrame is its own version (it compares by identity); a
        # factory may build something new on every call
        t = self.tables.get(physical_name)
        return None if t is None or callable(t) else t


class SourceRegistry:
    """database id → Source. The planner routes tables here; queries read
    them through the registry's views."""

    def __init__(self, sources: dict[str, Source] | None = None):
        self.sources: dict[str, Source] = dict(sources or {})
        self._closed = False
        # view names are private to this registry: several engines can share
        # one session, and callers register their own temp views
        self._prefix = f"_mdb_{uuid.uuid4().hex[:12]}"
        self._names = itertools.count()
        self._lock = threading.Lock()
        # (database id, physical name) -> (source, version, view name)
        self._views: dict[tuple[str, str], tuple[Source, Any, str]] = {}

    def register(self, database_id: str, source: Source) -> None:
        self.sources[database_id] = source

    def has(self, database_id: str) -> bool:
        return database_id in self.sources

    def _source(self, database_id: str) -> Source:
        if self._closed:
            raise ConnectionError(
                "registry closed",
                [ErrorItem(EXECUTOR_MISSING, f"executor for '{database_id}' closed")],
            )
        src = self.sources.get(database_id)
        if src is None:
            raise ConnectionError(
                f"no source registered for database '{database_id}'",
                [ErrorItem(EXECUTOR_MISSING, f"database '{database_id}' has no source")],
            )
        return src

    def df(self, spark: SparkSession, database_id: str, physical_name: str) -> DataFrame:
        return self._source(database_id).df(spark, physical_name)

    def _view_name(self, database_id: str, physical_name: str) -> str:
        safe = re.sub(r"[^A-Za-z0-9_]", "_", f"{database_id}_{physical_name}")
        return f"{self._prefix}_{next(self._names)}_{safe}"

    @contextmanager
    def views(self, spark: SparkSession) -> Iterator[Callable[[str, str], str]]:
        """Yield ``relation(database_id, physical_name) -> view name`` for one
        query's SQL text. A table whose source reports a version keeps one
        view, replaced when the version changes; other tables get a view for
        this query only, dropped on exit (run ``spark.sql`` inside the
        block: it analyses the text, and the plan then holds the view's
        relation)."""
        transient: list[str] = []

        def relation(database_id: str, physical_name: str) -> str:
            src = self._source(database_id)
            version = src.version(physical_name)
            if version is None:
                name = self._view_name(database_id, physical_name)
                src.df(spark, physical_name).createOrReplaceTempView(name)
                transient.append(name)
                return name
            key = (database_id, physical_name)
            with self._lock:
                held = self._views.get(key)
                if held is not None and held[0] is src and held[1] == version:
                    return held[2]
                name = held[2] if held else self._view_name(*key)
                src.df(spark, physical_name).createOrReplaceTempView(name)
                self._views[key] = (src, version, name)
                return name

        try:
            yield relation
        finally:
            for name in transient:
                spark.catalog.dropTempView(name)

    def drop_views(self, spark: SparkSession) -> None:
        with self._lock:
            for _, _, name in self._views.values():
                spark.catalog.dropTempView(name)
            self._views.clear()

    def ping_all(self) -> dict[str, bool]:
        return {db: s.ping() for db, s in self.sources.items()}

    def close(self) -> None:
        errors: list[ErrorItem] = []
        for db, s in self.sources.items():
            try:
                s.close()
            except Exception as exc:  # attempt-all, aggregate (METADATA.md:196)
                errors.append(ErrorItem(EXECUTOR_MISSING, f"{db}: {exc}"))
        self._closed = True
        if errors:
            raise ConnectionError("errors while closing sources", errors)
