"""Benchmark of the served query path and the operator library.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Workloads: ``serve_small`` (closed-loop HTTP ``POST /query`` over every
engine-DSL definition) and ``batch_operators`` (operator rows materialised
one after another). Inputs
are generated from ``--seed`` into ``.perfbench_data/`` at the root of the
checkout. Every output is checked against its DuckDB oracle. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). The line before it records the run
(latency sample count and median; the 90th percentile once ten samples lie
beyond it; for the serving workload, whether queries took the timeout path
and which traced layer entry points no longer exist) and the machine (steal
and other-process CPU shares over the timed window, nproc, Spark master,
versions). A traced run writes its span records to
``.perfbench_data/spans-<workload>.json``. ``--smoke`` runs both
workloads, untraced and traced, at sf0.001 for one second each and exits
non-zero if any operation fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
import metrics  # noqa: E402
import procstat  # noqa: E402

OPERATOR_ROWS = {
    "tpch": ["tpch_q1", "tpch_q3", "tpch_q6", "tpch_q18"],
    "iterative": ["embeddings_kmeans", "docs_bpe_train"],
    "similarity": ["sim_knn_graph"],
    "scaleout": ["customers_fd_check", "multimodal_png_decode"],
    "stats_text": ["text_tfidf_top_terms"],
}
WORKLOADS = {
    # all definitions, each client in its own seeded order; metadata and
    # roles reloaded every 2 s in the server. ``walks``: passes over the
    # inputs per cycle, sized so one cycle (210 requests here) outlasts
    # --seconds and averages over the machine's noise
    "serve_small": {"kind": "serve", "sf": 0.01, "walks": 3,
                    "reload_every": 2.0},
    "batch_operators": {"kind": "batch", "sf": 0.01, "rows": OPERATOR_ROWS,
                        "walks": 3},
}
DATA = os.path.join(ROOT, ".perfbench_data")


def _confine_scratch() -> None:
    """Keep Spark's and the JVM's scratch files inside the checkout."""
    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


def _data(sf: float, seed: int) -> str:
    """The tables for ``(sf, seed)``; one seed is kept per scale."""
    path = os.path.join(DATA, f"sf{sf}")
    marker = os.path.join(path, "SEED")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == str(seed):
                return path
        os.remove(marker)
    datagen.generate(path, sf, seed)
    with open(marker, "w") as f:
        f.write(str(seed))
    return path


def run(workload: str, seed: int, seconds: float, trace: bool,
        sf: float | None = None) -> dict:
    cfg = WORKLOADS[workload]
    data_dir = _data(sf or cfg["sf"], seed)
    if cfg["kind"] == "serve":
        import serve as impl
    else:
        import batch as impl
    res = impl.run(cfg, data_dir, seed, seconds, trace)
    if trace:
        values = {m: res["layers"].get(m, 0.0) for m in metrics.PER_LAYER}
        with open(os.path.join(DATA, f"spans-{workload}.json"), "w") as f:
            json.dump(res["spans"], f)
    else:
        values = res["end_to_end"]
    print(json.dumps({
        "run": {"workload": workload, "seed": seed, "trace": trace,
                "window_s": res["window"]["wall_s"], **res["record"]},
        "machine": procstat.machine_record(res["master"], res["window"]),
    }))
    return {
        "correct": res["wrong"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m: {"value": v, "unit": metrics.unit(m)}
                    for m, v in values.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    _confine_scratch()
    if a.smoke:
        bad = 0
        for w in WORKLOADS:
            for trace in (False, True):
                out = run(w, a.seed, 1, trace, sf=0.001)
                print(json.dumps({"workload": w, **out}))
                bad += out["failed"] > 0
        return 1 if bad else 0
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run(a.workload, a.seed, a.seconds, bool(a.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
