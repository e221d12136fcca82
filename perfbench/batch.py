"""Operator rows in one driver thread.

One operation builds a row's DataFrame from ``__spark_entry__.queries()``
and materialises it with the noop sink. Construction is billed, eager
lineage-cut jobs and driver-side fits included. Nothing cached or pinned is
cleared between rows. The timed window is made of whole cycles of
``walks`` passes over the rows, always in the same order: with a seeded
order the JVM's JIT warm-up fell on different rows in each run, and the
CPU per operation spread by up to a quarter between runs.
"""

from __future__ import annotations

import os
import sys
import time

import metrics
import procstat
from layers import SparkStats, Tracer
from oracle import Oracle


def run(cfg: dict, data_dir: str, seed: int, seconds: float,
        trace: bool) -> dict:
    t0 = time.perf_counter()
    import __spark_entry__ as entry
    from concept_multi_db_query_engine_spark.session import get_spark

    spark = get_spark(cpus=procstat.nproc())
    queries = entry.queries()
    family = {r: f for f, rows in cfg["rows"].items() for r in rows}
    order = list(family)  # fixed, so that JIT warm-up falls alike in every run

    # the cold pass collects each row once; its rows are checked below
    results = {}
    for r in order:
        try:
            df = queries[r](spark, data_dir)
            results[r] = (df.columns, df.collect())
        except Exception as exc:  # noqa: BLE001 - a failed operation
            results[r] = exc
    setup_s = time.perf_counter() - t0

    sql = entry.oracle_sql()
    oracle = Oracle(data_dir)
    bad: dict[str, str] = {}
    wrong = 0  # answered, but not the oracle's answer
    for r, res in results.items():
        if isinstance(res, Exception):
            bad[r] = f"{type(res).__name__}: {res}"[:300]
        elif why := oracle.answer(sql[r]).mismatch(*res):
            bad[r] = why
            wrong += 1
    nrows = {r: len(res[1]) for r, res in results.items()
             if not isinstance(res, Exception)}
    del results

    tracer = Tracer(spark.sparkContext)
    stats = SparkStats(spark.sparkContext)

    def one_pass() -> tuple[list, dict]:
        done, fam = [], {}
        pinned0 = stats.pinned_rdds()
        for r in order:
            with tracer.scope(row=r) as rec:
                ok = r not in bad
                c0 = time.perf_counter()
                try:
                    df = queries[r](spark, data_dir)
                    c1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                except Exception as exc:  # noqa: BLE001
                    bad.setdefault(r, f"{type(exc).__name__}: {exc}"[:300])
                    ok, c1 = False, time.perf_counter()
                c2 = time.perf_counter()
            done.append((r, ok, (c2 - c0) * 1000, tracer.on))
            if tracer.on:
                f = fam.setdefault(family[r], dict.fromkeys(
                    metrics.FAMILY_STATS, 0.0))
                f["construct_ms"] += (c1 - c0) * 1000
                f["action_ms"] += (c2 - c1) * 1000
                rec["spark"] = stats.read(rec["tag"])
                for k, v in rec["spark"].items():
                    if k in f:
                        f[k] += v
        fam["pinned"] = stats.pinned_rdds() - pinned0
        return done, fam

    def timed_pass() -> None:
        nonlocal n
        tracer.on = trace and n % 2 == 1
        d, fam = one_pass()
        done.extend(d)
        if tracer.on:
            fams.append(fam)
        n += 1

    # whole cycles of ``walks`` passes until --seconds have passed. A traced
    # run traces every second pass and ends on an untraced one, so each
    # traced pass lies between two untraced ones and the JVM's warm-up
    # drifts out of the overhead
    done, fams, n = [], [], 0
    win = procstat.Window(os.getpid())
    while n % cfg["walks"] or time.perf_counter() - win.wall0 < seconds:
        timed_pass()
    if trace and n % 2 == 0:
        timed_pass()
    tracer.on = False
    win = win.close()

    layers = {}
    if trace:
        for f in metrics.FAMILIES:
            for s in metrics.FAMILY_STATS:
                layers[f"operators.{f}.{s}"] = metrics.median(
                    p[f][s] for p in fams if f in p)
        layers["operators.pinned_rdds_left"] = metrics.median(
            p["pinned"] for p in fams)
        layers["trace.overhead_ms"] = (
            metrics.latency([d for d in done if d[3]])
            - metrics.latency([d for d in done if not d[3]]))
    master = spark.sparkContext.master
    procstat.stop_spark(spark)

    for r, why in sorted(bad.items()):
        print(f"FAILED {r}: {why}", file=sys.stderr)
    ok = [d for d in done if d[1]]
    lat = [d[2] for d in done]
    return {
        "attempted": len(done),
        "failed": len(done) - len(ok),
        "wrong": wrong,
        "master": master,
        "window": win,
        "end_to_end": {
            "setup_s": setup_s,
            "latency_ms": metrics.latency(done),
            "ops_per_s": len(ok) / win["wall_s"],
            "rows_per_s": sum(nrows[d[0]] for d in ok) / win["wall_s"],
            "cpu_ms_per_op": win["cpu_s"] * 1000 / max(len(ok), 1),
        },
        "layers": layers,
        "record": {"samples": len(lat), "p50_ms": metrics.median(lat),
                   "p90_ms": metrics.p90(lat), "passes": n},
        "spans": tracer.records,
    }
