"""Metric names, units and the percentile helpers every workload shares.

Every workload reports every metric: an end-to-end metric is defined for
both workloads, and a per-layer metric of a layer that a workload never
enters reads 0 there (the operator families in the serving workload, the
compiler layers and the HTTP server in the batch one).
"""

from __future__ import annotations

import math
import statistics

END_TO_END = {
    "setup_s": "s",
    "latency_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "cpu_ms_per_op": "ms",
}

FAMILIES = ["tpch", "iterative", "similarity", "scaleout", "stats_text"]
FAMILY_STATS = ["construct_ms", "action_ms", "jobs", "tasks",
                "executor_cpu_ms", "shuffle_bytes", "spill_bytes"]
SPARK_STATS = ["jobs", "stages", "tasks", "executor_cpu_ms", "input_bytes",
               "shuffle_bytes", "spill_bytes"]
SERVE_LAYERS = (
    ["access.resolve_ms", "query_validation.validate_ms", "planner.plan_ms",
     "resolver.resolve_ms", "builder.build_ms", "pipeline.collect_ms",
     "pipeline.self_ms", "http_server.overhead_ms", "pipeline.result_rows",
     "http_server.response_bytes"]
    + [f"spark.{s}" for s in SPARK_STATS]
    + ["metadata.reload_ms"])
OPERATOR_LAYERS = (
    [f"operators.{f}.{s}" for f in FAMILIES for s in FAMILY_STATS]
    + ["operators.pinned_rdds_left"])
PER_LAYER = SERVE_LAYERS + OPERATOR_LAYERS + ["trace.overhead_ms"]


def unit(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def latency(done: list[tuple]) -> float:
    """The run's typical operation latency: each input's median latency,
    then the geometric mean over inputs. ``done`` holds (input name, ok,
    ms, ...) tuples. Unlike the median over all operations, it cannot jump
    between the latency classes of a few very different inputs."""
    per_input: dict[str, list[float]] = {}
    for d in done:
        per_input.setdefault(d[0], []).append(d[2])
    logs = [math.log(median(v)) for v in per_input.values()]
    return math.exp(sum(logs) / len(logs)) if logs else 0.0


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def p90(values) -> float | None:
    """The 90th percentile, or None while fewer than ten samples lie
    beyond it (then it would be no tail)."""
    values = list(values)
    if len(values) < 100:
        return None
    return float(statistics.quantiles(values, n=10)[8])
