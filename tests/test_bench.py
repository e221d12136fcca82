"""``bench.py`` bills every row by one rule: each emitted row is a
``queries()`` entry, built by its declared query, with its construction
leg billed and emitted next to the total."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import __spark_entry__ as entry_mod

PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"
# rows that once had bench-only builds (a shared minhash signature row,
# a shared pair set, a smaller BPE training run), and one generic row
ROWS = ["dedup_minhash_lsh", "graph_k_core", "docs_bpe_train", "tpch_q1"]


def test_bench_emits_exactly_its_declared_rows():
    script = f"import bench; bench.HEADLINE = {ROWS!r}; bench.main()"
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=PACKAGE_ROOT, env=env,
        capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])

    declared = entry_mod.queries()
    assert list(out["queries"]) == ROWS
    assert set(ROWS) <= set(declared)
    assert out["n_queries"] == len(ROWS) and "partial" not in out
    assert list(out["queries_cpu"]) == ROWS
    for name in ROWS:
        assert out["queries"][name] >= out["queries_construction"][name] > 0
        assert out["queries_cpu"][name] >= out["queries_construction_cpu"][name]
    assert set(out["construction_eager"]) <= set(ROWS)
    assert set(out["first_sample"]) <= set(ROWS)
