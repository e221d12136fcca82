#!/usr/bin/env python
"""Per-row profiler for bench rows: construction/action walls, Spark
job/stage/task counts, JIT compile time, and the formatted plan, per query
name.

Usage: python tools/profile_row.py q1 q2 ...   (env SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS as bench.py; PLANDIR=dir to also dump
<q>_before.txt explain("formatted") files).

Methodology matches bench.py: construction under its own job group
(eagerness = that group ran jobs), action = noop sink, min-of-2 for
short rows. Prints one JSON line per row with:
  cons_wall, cons_jobs, cons_stages, cons_tasks, cons_compile_ms,
  act_wall (min of 2), act_jobs (per sample), act_stages, act_tasks,
  act1_compile_ms (and act2_compile_ms with a second sample)

Compile ms are deltas of the driver JVM's
``CompilationMXBean.getTotalCompilationTime()``, the time its JIT compiler
threads spent compiling (C1 and C2) while the phase ran. A CPU readout of
the JVM's threads under ``/proc/<jvm>/task`` undercounts the JIT: HotSpot
starts C2 compiler threads on demand and lets idle ones exit, and an
exited thread's CPU leaves the task list. In a served window (HotSpot's
default thresholds, 4-vCPU VM) the live C2 threads showed 21 ms of CPU per
request, and threads that had exited before the readout another 20 ms.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from concept_multi_db_query_engine_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    plandir = os.environ.get("PLANDIR")
    suffix = os.environ.get("PLAN_SUFFIX", "_before")
    spark = get_spark(app_name="cmdbqe-profile", cpus=cpus)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    queries = entry_mod.queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from concept_multi_db_query_engine_spark import testdata as _td

    for _t in ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"):
        _td.load_table(spark, sf_dir, _t)

    n = [0]
    jit = sc._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def measure(fn):
        n[0] += 1
        group = f"prof-{n[0]}"
        sc.setJobGroup(group, group)
        j0 = jit.getTotalCompilationTime()
        w0 = time.perf_counter()
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        wall = time.perf_counter() - w0
        compile_ms = jit.getTotalCompilationTime() - j0
        jids = tracker.getJobIdsForGroup(group)
        stages, tasks = 0, 0
        seen = set()
        for jid in jids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                si = tracker.getStageInfo(sid)
                if si is not None:
                    stages += 1
                    tasks += si.numTasks
        return wall, len(jids), stages, tasks, compile_ms, out

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    for name in sys.argv[1:]:
        if name not in queries:
            print(json.dumps({"query": name, "err": "unknown"}), flush=True)
            continue
        cw, cj, cs, ct, cc, df = measure(
            lambda: queries[name](spark, sf_dir))
        aw1, aj1, as1, at1, ac1, _ = measure(lambda: noop(df))
        rec = {"query": name, "cons_wall": round(cw, 3), "cons_jobs": cj,
               "cons_stages": cs, "cons_tasks": ct, "cons_compile_ms": cc,
               "act1_wall": round(aw1, 3), "act_jobs": aj1,
               "act_stages": as1, "act_tasks": at1, "act1_compile_ms": ac1}
        if aw1 <= 5.0:
            aw2, _, _, _, ac2, _ = measure(lambda: noop(df))
            rec["act2_wall"] = round(aw2, 3)
            rec["act2_compile_ms"] = ac2
            rec["act_wall"] = round(min(aw1, aw2), 3)
        else:
            rec["act_wall"] = round(aw1, 3)
        if plandir:
            os.makedirs(plandir, exist_ok=True)
            mode = sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted")
            with open(os.path.join(plandir, f"{name}{suffix}.txt"), "w") as f:
                f.write(df._jdf.queryExecution().explainString(mode))
        print(json.dumps(rec), flush=True)
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
