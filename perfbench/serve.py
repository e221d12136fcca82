"""Closed-loop HTTP load against the serving process.

The server runs in its own process (``server.py``); this process is the
load generator. ``CLIENTS`` client threads each walk an order of the
engine-DSL definitions, one ``POST /query`` at a time on a fresh
connection, and wait for each reply. A cycle ends when every client has
walked its whole order, so every run is made of whole cycles and has the
same make-up.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import random
import subprocess
import sys
import threading
import time

import metrics
import procstat
from layers import CHILD_SPANS
from oracle import Oracle

CLIENTS = 2
HERE = os.path.dirname(os.path.abspath(__file__))


class Checker:
    """Decides whether a response is correct. A response's data part is
    compared with the DuckDB answer once; a later response whose data
    bytes hash the same is known correct without decoding it again."""

    def __init__(self, answers: dict) -> None:
        self.answers = answers
        self.known: dict[tuple, tuple[bool, int]] = {}
        self.reasons: dict[str, str] = {}
        self.wrong: set[str] = set()  # answered, but not the oracle's answer

    def check(self, name: str, status: int, body: bytes) -> tuple[bool, int]:
        if status != 200:
            self.reasons.setdefault(name, f"HTTP {status}: {body[:200]!r}")
            return False, 0
        cut = body.rfind(b', "meta": ')  # meta (timings) is the last key
        key = (name, hashlib.sha1(body[:cut]).digest())
        if cut > 0 and key in self.known:
            return self.known[key]
        payload = json.loads(body)
        rows = payload.get("data")
        why = ("no data" if payload.get("kind") != "data" or rows is None
               else self.answers[name].mismatch_dicts(rows))
        if why:
            self.reasons.setdefault(name, why)
            self.wrong.add(name)
        result = (why is None, len(rows or []))
        if cut > 0:
            self.known[key] = result
        return result


def _post(port: int, body: bytes) -> tuple[int, bytes, float, int]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    t0 = time.perf_counter()
    try:
        conn.request("POST", "/query", body,
                     {"Content-Type": "application/json"})
        local_port = conn.sock.getsockname()[1]
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, data, (time.perf_counter() - t0) * 1000, local_port
    finally:
        conn.close()


class Server:
    def __init__(self, data_dir: str, reload_every: float, trace: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"),
             "--data", data_dir, "--reload-every", str(reload_every),
             "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        line = self._line()
        if not line.startswith("READY "):
            raise RuntimeError(f"server did not start: {line!r}")
        _, port, self.master, timeout_path = line.split()
        self.port = int(port)
        self.timeout_path = timeout_path == "1"

    def _line(self) -> str:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"server exited ({self.proc.wait()})")
        return line.strip()

    def command(self, cmd: str) -> str:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self._line()

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.close()
                self.proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


def run(cfg: dict, data_dir: str, seed: int, seconds: float,
        trace: bool) -> dict:
    import __spark_entry__ as entry

    names = sorted(entry._DSL)
    sql = entry.oracle_sql()
    oracle = Oracle(data_dir)
    checker = Checker({n: oracle.answer(sql[n]) for n in names})
    bodies = {n: json.dumps({"definition": entry._DSL[n],
                             "context": entry._DSL_CONTEXT.get(n)}).encode()
              for n in names}
    rng = random.Random(seed)
    perms = [sum((rng.sample(names, len(names)) for _ in range(cfg["walks"])),
                 [])
             for _ in range(CLIENTS)]
    # the cold pass sends every definition once, split between the clients
    cold_split = [perms[0][i:len(names):CLIENTS] for i in range(CLIENTS)]

    def send(lists: list[list[str]], record) -> None:
        """Each client sends its list of requests, waiting for each reply;
        ``record(name, status, body, ms, client port)`` takes the replies."""

        def client(requests: list[str]) -> None:
            for n in requests:
                sent = time.perf_counter()
                try:
                    status, body, ms, port = _post(server.port, bodies[n])
                except (OSError, http.client.HTTPException) as exc:
                    status, body, port = 0, repr(exc).encode(), None
                    ms = (time.perf_counter() - sent) * 1000
                record(n, status, body, ms, port)

        threads = [threading.Thread(target=client, args=(r,)) for r in lists]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    t0 = time.perf_counter()
    server = Server(data_dir, cfg["reload_every"], int(trace))
    try:
        cold: list[tuple] = []
        send(cold_split, lambda *reply: cold.append(reply))
        setup_s = time.perf_counter() - t0
        for n, status, body, _, _ in cold:
            checker.check(n, status, body)

        def window(min_s: float) -> tuple[list, dict]:
            done: list[tuple] = []
            lock = threading.Lock()

            def record(n, status, body, ms, port) -> None:
                ok, nrows = checker.check(n, status, body)
                with lock:
                    done.append((n, ok, ms, nrows, len(body), port))

            win = procstat.Window(server.proc.pid)
            while True:
                send(perms, record)
                if time.perf_counter() - win.wall0 >= min_s:
                    return done, win.close()

        if not trace:
            done, win = window(seconds)
            layers, spans, skipped = {}, [], []
        else:
            plain, _ = window(seconds / 2)
            server.command("trace on")
            done, win = window(seconds / 2)
            dump = json.loads(server.command("dump")[len("TRACE "):])
            layers, spans = _layers(done, dump), dump["records"]
            skipped = dump["skipped"]
            layers["trace.overhead_ms"] = (
                metrics.median(d[2] for d in done)
                - metrics.median(d[2] for d in plain))
    finally:
        server.close()

    for name, why in sorted(checker.reasons.items()):
        print(f"FAILED {name}: {why}", file=sys.stderr)
    ok = [d for d in done if d[1]]
    lat = [d[2] for d in done]
    return {
        "attempted": len(done),
        "failed": len(done) - len(ok),
        "wrong": len(checker.wrong),
        "master": server.master,
        "window": win,
        "end_to_end": {
            "setup_s": setup_s,
            "latency_ms": metrics.latency(done),
            "ops_per_s": len(ok) / win["wall_s"],
            "rows_per_s": sum(d[3] for d in ok) / win["wall_s"],
            "cpu_ms_per_op": win["cpu_s"] * 1000 / max(len(ok), 1),
        },
        "layers": layers,
        "record": {"samples": len(lat), "p50_ms": metrics.median(lat),
                   "p90_ms": metrics.p90(lat),
                   "timeout_path": server.timeout_path,
                   "spans_skipped": skipped},
        "spans": spans,
    }


def _layers(done: list[tuple], dump: dict) -> dict:
    """Per-request medians of the traced window. A server record is joined
    to its client request by the client's local port."""
    by_port = {d[5]: d for d in done}
    recs = [r for r in dump["records"] if r.get("port") in by_port]
    out: dict[str, float] = {}
    for m in CHILD_SPANS:
        out[m] = metrics.median(r["spans"].get(m, 0.0) for r in recs)
    out["pipeline.self_ms"] = metrics.median(
        r["spans"].get("pipeline.query_ms", 0.0)
        - sum(r["spans"].get(m, 0.0) for m in CHILD_SPANS) for r in recs)
    out["http_server.overhead_ms"] = metrics.median(
        by_port[r["port"]][2] - r["spans"].get("pipeline.query_ms", 0.0)
        for r in recs)
    out["pipeline.result_rows"] = metrics.median(d[3] for d in done)
    out["http_server.response_bytes"] = metrics.median(d[4] for d in done)
    for s in metrics.SPARK_STATS:
        out[f"spark.{s}"] = metrics.median(r["spark"][s] for r in recs)
    out["metadata.reload_ms"] = metrics.median(dump["reload_ms"])
    return out
