"""Layer spans and Spark job statistics for the traced run.

Spans are taken from outside the program: ``Tracer.install`` replaces the
layer entry points named in ``SPANS`` with timing wrappers. A name that no
longer exists (a module deleted, a method renamed) is skipped, so the trace
keeps running across refactors. Wrappers record only inside a ``scope`` (one
request or one operator row) and only while ``Tracer.on`` is set; a scope
tags its Spark jobs so that their statistics can be read back from the
status store.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import threading
import time
from contextlib import contextmanager

from metrics import SPARK_STATS

PKG = "concept_multi_db_query_engine_spark"

# (metric, module, attribute path) of each layer entry point
SPANS = [
    ("pipeline.query_ms", f"{PKG}.pipeline", "MultiDb.query"),
    ("access.resolve_ms", f"{PKG}.pipeline", "resolve_access"),
    ("query_validation.validate_ms", f"{PKG}.query_validation",
     "QueryValidator.validate"),
    ("planner.plan_ms", f"{PKG}.pipeline", "plan_query"),
    ("resolver.resolve_ms", f"{PKG}.resolver", "Resolver.resolve"),
    ("builder.build_ms", f"{PKG}.builder", "DataFrameBuilder.build"),
    ("builder.build_ms", f"{PKG}.builder", "DataFrameBuilder.build_count"),
    ("pipeline.collect_ms", "pyspark.sql.classic.dataframe",
     "DataFrame.collect"),
]
# spans inside pipeline.query_ms; the rest of it is the pipeline's own time
CHILD_SPANS = sorted({m for m, _, _ in SPANS} - {"pipeline.query_ms"})


def _resolve(module: str, path: str):
    """(owner, attribute name, current value), or None when gone."""
    try:
        owner = importlib.import_module(module)
        *outer, name = path.split(".")
        for part in outer:
            owner = getattr(owner, part)
        return owner, name, getattr(owner, name)
    except (ImportError, AttributeError):
        return None


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.on = False
        self.skipped: list[str] = []
        self.records: list[dict] = []
        self._tls = threading.local()
        self._ids = itertools.count()
        self._lock = threading.Lock()

    def install(self) -> None:
        for metric, module, path in SPANS:
            found = _resolve(module, path)
            if found is None:
                self.skipped.append(f"{module}:{path}")
                continue
            owner, name, fn = found
            setattr(owner, name, self._span(metric, fn))

    def install_scope(self, module: str, path: str, fields) -> None:
        """Make every call of ``module:path`` one traced scope; ``fields``
        maps the call's arguments to the scope's identifying fields."""
        found = _resolve(module, path)
        if found is None:
            self.skipped.append(f"{module}:{path}")
            return
        owner, name, fn = found
        tracer = self

        @functools.wraps(fn)
        def scoped(*args, **kwargs):
            with tracer.scope(**fields(*args, **kwargs)):
                return fn(*args, **kwargs)

        setattr(owner, name, scoped)

    def _span(self, metric: str, fn):
        tls = self._tls

        @functools.wraps(fn)
        def span(*args, **kwargs):
            rec = getattr(tls, "rec", None)
            if rec is None or metric in rec["open"]:
                return fn(*args, **kwargs)  # untraced, or a nested call
            rec["open"].add(metric)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                ms = (time.perf_counter() - t0) * 1000
                rec["spans"][metric] = rec["spans"].get(metric, 0.0) + ms
                rec["open"].discard(metric)

        return span

    @contextmanager
    def scope(self, **fields):
        """One traced unit of work. Its spans share an id and its Spark
        jobs carry the job tag ``perfbench-<id>``."""
        if not self.on:
            yield None
            return
        n = next(self._ids)
        rec = {"id": n, "tag": f"perfbench-{n}", "spans": {}, "open": set(),
               **fields}
        self._tls.rec = rec
        self.sc.addJobTag(rec["tag"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["scope_ms"] = (time.perf_counter() - t0) * 1000
            self.sc.removeJobTag(rec["tag"])
            self._tls.rec = None
            del rec["open"]
            with self._lock:
                self.records.append(rec)


class SparkStats:
    """Per-tag job statistics from the driver's status store."""

    def __init__(self, sc) -> None:
        self.sc = sc
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._tracker = jsc.statusTracker()
        self._store = jsc.statusStore()
        gw = sc._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def read(self, tag: str) -> dict:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(SPARK_STATS, 0)
        seen: set[int] = set()
        for jid in self._tracker.getJobIdsForTag(tag):
            out["jobs"] += 1
            info = self._tracker.getJobInfo(jid)
            if info.isEmpty():
                continue
            for sid in info.get().stageIds():
                if sid in seen:
                    continue  # stages shared between jobs count once
                seen.add(sid)
                attempts = self._store.stageData(
                    sid, False, self._no_tasks, False, self._no_quantiles)
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    if str(s.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks()
                    out["executor_cpu_ms"] += s.executorCpuTime() / 1e6
                    out["input_bytes"] += s.inputBytes()
                    out["shuffle_bytes"] += (s.shuffleReadBytes()
                                             + s.shuffleWriteBytes())
                    out["spill_bytes"] += (s.memoryBytesSpilled()
                                           + s.diskBytesSpilled())
        return out

    def pinned_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()
