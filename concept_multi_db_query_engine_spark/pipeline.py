"""Pipeline orchestration — the engine's only query entry point.

Stage order mirrors the reference (README.md:36-82): snapshot → validation →
access control → planning → name resolution → SQL generation (one Spark SQL
statement over the registry's views, values bound by name) → execution →
result mapping. Each stage appends a DebugLogEntry when
``debug: true`` (QUERY.md:185-191); meta carries strategy/tables/columns/
timing (QUERY.md:161-183).

Lifecycle mirrors METADATA.md:174-199: ``reload_metadata``/``reload_roles``
validate first and swap atomically (old config preserved on failure),
``health_check`` pings every source, ``close`` makes subsequent queries fail
with EXECUTOR_MISSING.
"""

from __future__ import annotations

import time
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .access import EffectiveAccess, resolve_access
from .cache import CacheProvider, build_key
from .config_validation import validate_config
from .errors import (
    CACHE_PROVIDER_MISSING,
    EXECUTOR_MISSING,
    QUERY_FAILED,
    QUERY_TIMEOUT,
    ConnectionError,
    ErrorItem,
    ExecutionError,
    ValidationError,
)
from .masking import mask_value
from .metadata import Metadata, MetadataIndex, RoleMeta
from .planner import PlanDecision, cache_eligible, collect_tables, plan_query
from .plans import ResolvedPlan, TableUsed
from .providers import (
    MetadataProvider,
    RoleProvider,
    load_via,
    static_metadata,
    static_roles,
)
from .query_validation import QueryValidator
from .resolver import Resolver
from .sources import Source, SourceRegistry
from .dialects import renderer_for
from .sqlgen import SqlRenderer, named_args


class MultiDb:
    def __init__(
        self,
        spark: SparkSession,
        metadata: Metadata | dict[str, Any],
        roles: list[RoleMeta] | list[dict[str, Any]],
        sources: dict[str, Source] | SourceRegistry,
        caches: dict[str, CacheProvider] | None = None,
        *,
        strict_api_names: bool = True,
        timeout_ms: int | None = None,
        metadata_provider: "MetadataProvider | None" = None,
        role_provider: "RoleProvider | None" = None,
    ):
        if isinstance(metadata, dict):
            metadata = Metadata.from_dict(metadata)
        roles = [
            r if isinstance(r, RoleMeta) else RoleMeta.from_dict(r) for r in roles
        ]
        validate_config(metadata, roles, strict_api_names=strict_api_names)
        self.spark = spark
        self._strict = strict_api_names
        # providers back the no-arg reload path (METADATA.md:150-161);
        # passing explicit config is equivalent to a static provider
        self._metadata_provider = metadata_provider or static_metadata(metadata)
        self._role_provider = role_provider or static_roles(roles)
        self._index = MetadataIndex(metadata, roles)
        self.registry = (
            sources if isinstance(sources, SourceRegistry) else SourceRegistry(sources)
        )
        self.caches = caches or {}
        self._timeout_ms = timeout_ms
        self._closed = False

    def _run_with_timeout(self, fn):
        """Executor-timeout analog (reference: per-executor timeoutMs driving
        statement_timeout / max_execution_time, METADATA.md:222-228,
        README.md:523). Spark form: run the action under a job group and
        cancel the group when the deadline passes — tasks stop cluster-wide,
        not just driver-side."""
        if not self._timeout_ms:
            return fn()
        import threading
        import uuid

        tag = f"mdb-timeout-{uuid.uuid4().hex[:12]}"
        sc = self.spark.sparkContext
        done = threading.Event()
        expired = threading.Event()

        def reaper() -> None:
            if done.wait(self._timeout_ms / 1000.0):
                return
            expired.set()
            # cancel REPEATEDLY until the action returns: a single cancel
            # fired before the job is submitted (plan compile, codegen) is
            # a no-op, and the late-submitted job would run to completion
            while not done.wait(0.25):
                sc.cancelJobsWithTag(tag)

        sc.addJobTag(tag)
        t = threading.Thread(target=reaper, daemon=True)
        t.start()
        try:
            return fn()
        except Exception as exc:
            if expired.is_set():
                raise ExecutionError(
                    f"query exceeded timeoutMs={self._timeout_ms}",
                    [ErrorItem(QUERY_TIMEOUT,
                               f"timeoutMs={self._timeout_ms} exceeded",
                               {"timeoutMs": self._timeout_ms})],
                ) from exc
            raise
        finally:
            done.set()
            sc.removeJobTag(tag)

    # -- lifecycle (METADATA.md:174-199) ---------------------------------------

    def reload_metadata(
        self, metadata: Metadata | dict[str, Any] | None = None
    ) -> None:
        """Re-call ``MetadataProvider.load()`` (no-arg form, METADATA.md:176)
        or install an explicit config. Provider/validation failure raises and
        preserves the old snapshot (TESTS.md:382 #228); success swaps the
        index atomically — in-flight queries keep their snapshot."""
        explicit = metadata is not None
        if metadata is None:
            metadata = load_via(self._metadata_provider, "metadata")
        if isinstance(metadata, dict):
            metadata = Metadata.from_dict(metadata)
        validate_config(
            metadata, self._index.roles, strict_api_names=self._strict
        )  # raises → old snapshot AND old provider preserved
        if explicit:
            # only a VALID explicit config replaces the provider — a failed
            # reload must not poison subsequent no-arg provider reloads
            self._metadata_provider = static_metadata(metadata)
        self._index = MetadataIndex(metadata, self._index.roles)

    def reload_roles(
        self, roles: list[RoleMeta] | list[dict[str, Any]] | None = None
    ) -> None:
        """Re-call ``RoleProvider.load()`` (no-arg form) or install an
        explicit role list; same old-snapshot-on-failure semantics."""
        explicit = roles is not None
        if roles is None:
            roles = load_via(self._role_provider, "roles")
        roles = [
            r if isinstance(r, RoleMeta) else RoleMeta.from_dict(r) for r in roles
        ]
        validate_config(self._index.metadata, roles, strict_api_names=self._strict)
        if explicit:  # only a valid explicit list replaces the provider
            self._role_provider = static_roles(roles)
        self._index = MetadataIndex(self._index.metadata, roles)

    def health_check(self) -> dict[str, Any]:
        """HealthCheckResult (METADATA.md:195-199, contract C1300-C1304):
        ``executors`` keyed by database id, ``cacheProviders`` by cache id,
        each with ``healthy``/``latencyMs`` (+ ``error`` string on failure);
        top-level ``healthy`` true only if ALL checks pass. Each ping is
        timed individually and issued exactly once per check."""
        out: dict[str, Any] = {
            "healthy": True, "executors": {}, "cacheProviders": {},
        }

        def probe(target) -> dict[str, Any]:
            start = time.perf_counter()
            try:
                ok = bool(target.ping())
                err = None
            except Exception as exc:
                ok, err = False, str(exc)
            entry: dict[str, Any] = {
                "healthy": ok,
                "latencyMs": (time.perf_counter() - start) * 1000,
            }
            if err is not None:
                entry["error"] = err
            elif not ok:
                entry["error"] = "ping returned false"
            out["healthy"] &= ok
            return entry

        for db, src in self.registry.sources.items():
            out["executors"][db] = probe(src)
        for cid, cache in self.caches.items():
            out["cacheProviders"][cid] = probe(cache)
        return out

    def close(self) -> None:
        self._closed = True
        for cache in self.caches.values():
            cache.close()
        self.registry.drop_views(self.spark)
        self.registry.close()

    # -- queries -----------------------------------------------------------------

    def query(
        self,
        definition: dict[str, Any],
        context: dict[str, Any] | None = None,
        *,
        _skip_cache: bool = False,
    ) -> dict[str, Any]:
        """Run one typed query. Returns the discriminated-union result dicts of
        QUERY.md:128-159 (kind: 'data' | 'sql' | 'count')."""
        if self._closed:
            # contract C1313: queries after close() fail with ExecutionError
            # EXECUTOR_MISSING (CONTRACT_TESTS.md:981)
            raise ExecutionError(
                "engine closed",
                [ErrorItem(EXECUTOR_MISSING, "close() was called")],
            )
        debug = bool(isinstance(definition, dict) and definition.get("debug"))
        log: list[dict[str, Any]] = []

        def entry(phase: str, message: str, details: Any = None) -> None:
            if debug:
                e: dict[str, Any] = {
                    "timestamp": time.time(), "phase": phase, "message": message,
                }
                if details is not None:
                    e["details"] = details
                log.append(e)

        index = self._index  # snapshot: reloads swap atomically (README.md:524)

        t_plan_start = time.perf_counter()
        access, validated = self._validate(index, definition, context, entry)
        mode = definition.get("executeMode", "execute")

        # P0 cache fast-path (execute mode only)
        if mode == "execute" and not _skip_cache:
            cached = self._try_cache(index, definition, access, entry, t_plan_start)
            if cached is not None:
                if debug:
                    cached["debugLog"] = log
                return cached

        decision = plan_query(index, self.registry, definition)
        entry(
            "planning",
            f"strategy={decision.strategy} target={decision.target_database}",
        )
        plan = Resolver(index, access, decision.routes).resolve(definition)
        planning_ms = (time.perf_counter() - t_plan_start) * 1000
        entry("name-resolution", "resolved plan built")

        t_gen = time.perf_counter()
        meta = self._meta(index, decision, plan, definition)
        if mode == "sql-only":
            # catalog qualification map for the Trino dialect
            # (SQL_DIALECTS.md:203-207): declared trinoCatalog, else the
            # database id
            catalogs = {
                db.id: (db.trino_catalog or db.id)
                for db in index.databases_by_id.values()
            } if decision.dialect == "trino" else None
            sql, params = renderer_for(decision.dialect, catalogs).render(plan)
            meta["timing"] = {
                "planningMs": planning_ms,
                "generationMs": (time.perf_counter() - t_gen) * 1000,
            }
            entry("sql-generation",
                  f"rendered {decision.dialect or 'spark'} sql text")
            result: dict[str, Any] = {
                "kind": "sql", "sql": sql, "params": params, "meta": meta,
            }
            if debug:
                result["debugLog"] = log
            return result

        if mode == "count":
            try:
                counted = self._compile(plan)
                gen_ms = (time.perf_counter() - t_gen) * 1000
                t_exec = time.perf_counter()
                count = self._run_with_timeout(
                    lambda: counted.collect()[0][0]
                )
            except ExecutionError:
                raise
            except Exception as exc:
                raise ExecutionError(
                    f"execution failed: {exc}",
                    [ErrorItem(QUERY_FAILED, str(exc))],
                ) from exc
            meta["columns"] = []  # QUERY.md:193
            meta["timing"] = {
                "planningMs": planning_ms,
                "generationMs": gen_ms,
                "executionMs": (time.perf_counter() - t_exec) * 1000,
            }
            entry("execution", f"count={count}")
            result = {"kind": "count", "count": count, "meta": meta}
            if debug:
                result["debugLog"] = log
            return result

        # execute / dataframe
        df = self._compile(plan)
        gen_ms = (time.perf_counter() - t_gen) * 1000
        entry("sql-generation", "spark sql statement analysed")
        if mode == "dataframe":
            meta["timing"] = {"planningMs": planning_ms, "generationMs": gen_ms}
            return {"kind": "dataframe", "dataframe": df, "meta": meta}
        t_exec = time.perf_counter()
        try:
            rows = self._run_with_timeout(
                lambda: [r.asDict() for r in df.collect()]
            )
        except ExecutionError:
            raise
        except Exception as exc:
            raise ExecutionError(
                    f"execution failed: {exc}",
                    [ErrorItem(QUERY_FAILED, str(exc))],
                ) from exc
        # avg results are typed 'decimal' (QUERY.md:173, contract C302/C1104).
        # The SQL computes them as double (exact decimal partial sums,
        # one double division — deterministic across partitionings); surface
        # them as Decimal in the row API to honor the declared type.
        avg_aliases = [a.alias for a in plan.aggregations if a.fn == "avg"]
        if avg_aliases:
            for r in rows:
                for alias in avg_aliases:
                    v = r.get(alias)
                    if isinstance(v, float):
                        r[alias] = Decimal(str(v))
        meta["timing"] = {
            "planningMs": planning_ms,
            "generationMs": gen_ms,
            "executionMs": (time.perf_counter() - t_exec) * 1000,
        }
        entry("execution", f"{len(rows)} row(s)")
        result = {"kind": "data", "data": rows, "meta": meta}
        if debug:
            result["debugLog"] = log
        return result

    def _compile(self, plan: ResolvedPlan) -> DataFrame:
        """The plan as one Spark SQL statement over the registry's views,
        with every value bound by name."""
        with self.registry.views(self.spark) as relation:
            sql, params = SqlRenderer(relations=relation).render(plan)
            return self.spark.sql(sql, args=named_args(params))

    def dataframe(
        self, definition: dict[str, Any], context: dict[str, Any] | None = None
    ) -> DataFrame:
        """Engine extension: the validated/planned/masked result as a LAZY
        DataFrame — the scalable entry point (no collect)."""
        definition = dict(definition)
        definition["executeMode"] = "dataframe"
        return self.query(definition, context)["dataframe"]

    def validate_query(
        self, definition: dict[str, Any], context: dict[str, Any] | None = None
    ) -> list[dict[str, Any]]:
        """Zero-I/O validation endpoint (HTTP_CLIENT.md:9-14): returns the
        collected issues without executing."""
        index = self._index
        access, errors = resolve_access(index, context)
        errors = list(errors)
        errors.extend(QueryValidator(index, access).validate(definition))
        return [e.to_json() for e in errors]

    # -- internals -----------------------------------------------------------------

    def _validate(
        self,
        index: MetadataIndex,
        definition: dict[str, Any],
        context: dict[str, Any] | None,
        entry: Any,
    ) -> tuple[EffectiveAccess, None]:
        access, errors = resolve_access(index, context)
        entry("access-control", "scopes resolved")
        errors = list(errors)
        errors.extend(QueryValidator(index, access).validate(definition))
        if errors:
            raise ValidationError(
                f"query invalid: {len(errors)} issue(s)", errors=errors
            )
        entry("validation", "14 rules passed")
        return access, None

    def _requested_columns(
        self, index: MetadataIndex, definition: dict[str, Any],
        access: EffectiveAccess,
    ) -> list[str]:
        table = index.table(definition["from"])
        assert table is not None
        cols = definition.get("columns")
        if cols is None:
            return access.allowed_columns(
                table.id, [c.api_name for c in table.columns]
            )
        return list(cols)

    def _try_cache(
        self,
        index: MetadataIndex,
        definition: dict[str, Any],
        access: EffectiveAccess,
        entry: Any,
        t_start: float,
    ) -> dict[str, Any] | None:
        requested = self._requested_columns(index, definition, access)
        eligible = cache_eligible(index, definition, requested)
        if eligible is None:
            return None
        cache_id, cached_table = eligible
        provider = self.caches.get(cache_id)
        if provider is None:
            # metadata declares this cache but no provider is registered —
            # the reference raises rather than silently bypassing (C1261,
            # CONTRACT_TESTS.md:943)
            raise ExecutionError(
                f"cache provider '{cache_id}' not configured",
                [ErrorItem(CACHE_PROVIDER_MISSING,
                           f"cache '{cache_id}' has no provider",
                           {"cacheId": cache_id})],
            )
        table = index.table(definition["from"])
        assert table is not None
        pk = table.primary_key[0]
        ids = definition["byIds"]
        keys = [build_key(cached_table.key_pattern, {pk: i}) for i in ids]
        hits = provider.get_many(keys)
        entry("cache", f"{sum(1 for v in hits.values() if v)} / {len(keys)} hit")

        rows_by_id: dict[Any, dict[str, Any]] = {}
        missing: list[Any] = []
        for i, key in zip(ids, keys):
            row = hits.get(key)
            if row is None:
                missing.append(i)
            else:
                rows_by_id[i] = {c: row.get(c) for c in requested}

        sources = [
            TableUsed(table.id, "cache", cache_id, cached_table.key_pattern)
        ]
        if missing:
            # partial hit: fetch the misses through the normal path and merge
            # (README.md:241)
            sub = dict(definition)
            sub["byIds"] = missing
            sub["executeMode"] = "execute"
            sub.pop("debug", None)
            # The sub-query runs unmasked (masking is applied uniformly to
            # cache + DB rows below), so it MUST be limited to the columns
            # the caller may see: `requested` is already ACL-trimmed. The pk
            # rides along for merge keying and is projected back out unless
            # requested (README.md:241 — trim/mask DB rows identically).
            sub["columns"] = list(dict.fromkeys([*requested, pk]))
            sub_result = self.query(sub, None, _skip_cache=True)
            for row in sub_result["data"]:
                rid = row.get(pk)
                rows_by_id[rid] = {c: row.get(c) for c in requested}
            sources.append(
                TableUsed(table.id, "original", table.database, table.physical_name)
            )

        # masking applied identically to cache rows (README.md:241)
        masked_cols: dict[str, str] = {}
        for c in requested:
            if access.is_masked(table.id, c):
                col = index.column(table.id, c)
                masked_cols[c] = (col.masking_fn if col else None) or "full"
        data = []
        for i in ids:
            row = rows_by_id.get(i)
            if row is None:
                continue
            out = dict(row)
            for c, fn in masked_cols.items():
                col = index.column(table.id, c)
                out[c] = mask_value(out[c], fn, col.type if col else "string")
            data.append(out)

        meta = {
            "strategy": "cache",
            "targetDatabase": cache_id,
            "tablesUsed": [s.__dict__ for s in sources],
            "columns": [
                {
                    "apiName": c,
                    "type": (index.column(table.id, c).type
                             if index.column(table.id, c) else "string"),
                    "nullable": bool(
                        index.column(table.id, c)
                        and index.column(table.id, c).nullable
                    ),
                    "fromTable": table.api_name,
                    "masked": c in masked_cols,
                }
                for c in requested
            ],
            "timing": {
                "planningMs": (time.perf_counter() - t_start) * 1000,
                "generationMs": 0.0,
                "executionMs": 0.0,
            },
        }
        return {"kind": "data", "data": data, "meta": meta}

    def _meta(
        self,
        index: MetadataIndex,
        decision: PlanDecision,
        plan: ResolvedPlan,
        definition: dict[str, Any],
    ) -> dict[str, Any]:
        tables_used = []
        for t in collect_tables(index, definition):
            route = decision.routes.get(t.id)
            tables_used.append(
                {
                    "tableId": t.id,
                    "source": route.source if route else "original",
                    "database": route.database if route else t.database,
                    "physicalName": route.physical_name if route else t.physical_name,
                }
            )
        columns = []
        for s in plan.select_items:
            columns.append(
                {
                    "apiName": s.out_name,
                    "type": s.col_type,
                    "nullable": s.nullable,
                    "fromTable": s.from_table_api,
                    "masked": s.masked,
                }
            )
        for a in plan.aggregations:
            columns.append(
                {
                    "apiName": a.alias,
                    "type": a.result_type,
                    "nullable": a.nullable,
                    "fromTable": a.from_table_api,
                    "masked": False,  # aliases never masked (QUERY.md:197)
                }
            )
        return {
            "strategy": decision.strategy,
            "targetDatabase": decision.target_database,
            "dialect": decision.dialect,
            "tablesUsed": tables_used,
            "columns": columns,
        }


def create_multi_db(
    spark: SparkSession,
    metadata: Metadata | dict[str, Any] | None = None,
    roles: list[RoleMeta] | list[dict[str, Any]] | None = None,
    sources: dict[str, Source] | SourceRegistry | None = None,
    caches: dict[str, CacheProvider] | None = None,
    *,
    validate_connections: bool = True,
    strict_api_names: bool = True,
    metadata_provider: MetadataProvider | None = None,
    role_provider: RoleProvider | None = None,
) -> MultiDb:
    """Ordered init (README.md:149-161): ① provider load (→ ProviderError)
    ② validate config (→ ConfigError, all issues collected) ③ build indexes
    ④ ping all sources (→ ConnectionError; skippable via
    validate_connections=False). Config comes either from explicit
    ``metadata``/``roles`` or from ``metadata_provider``/``role_provider``
    (METADATA.md:150-161)."""
    if metadata is None:
        if metadata_provider is None:
            raise ValueError("metadata or metadata_provider is required")
        metadata = load_via(metadata_provider, "metadata")
    if roles is None:
        if role_provider is None:
            raise ValueError("roles or role_provider is required")
        roles = load_via(role_provider, "roles")
    if sources is None:
        raise ValueError("sources is required")
    db = MultiDb(
        spark, metadata, roles, sources, caches,
        strict_api_names=strict_api_names,
        metadata_provider=metadata_provider,
        role_provider=role_provider,
    )
    if validate_connections:
        bad = [name for name, ok in db.registry.ping_all().items() if not ok]
        if bad:
            raise ConnectionError(
                "unreachable sources",
                [ErrorItem(EXECUTOR_MISSING, f"source '{b}' unreachable")
                 for b in bad],
            )
    return db
