"""The serving process: one Spark session, ``testdata.build_engine`` over
the benchmark's parquet, ``http_server.serve_background`` on an ephemeral
port.

    python3 perfbench/server.py --data DIR [--reload-every S] [--trace 1]

Prints ``READY <port> <spark master> <timeout path 0|1>`` once it serves,
then reads commands from stdin, one a line:

    trace on   start recording layer spans (``--trace 1`` only)
    dump       stop recording; print ``TRACE <json>`` with every span record
    quit       shut the server and Spark down and exit
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

# far above any query, so every query takes the job-tag/reaper path
TIMEOUT_MS = 600_000


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--reload-every", type=float, default=0.0)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()

    from concept_multi_db_query_engine_spark import http_server, testdata
    from concept_multi_db_query_engine_spark.session import get_spark

    import procstat
    from layers import PKG, SparkStats, Tracer

    spark = get_spark(cpus=procstat.nproc())
    engine = testdata.build_engine(spark, a.data)
    timeout_path = hasattr(engine, "_timeout_ms")
    if timeout_path:
        engine._timeout_ms = TIMEOUT_MS
    tracer = Tracer(spark.sparkContext)
    if a.trace:
        tracer.install()
        tracer.install_scope(f"{PKG}.http_server", "_Handler.do_POST",
                             lambda handler: {"port": handler.client_address[1]})
    server = http_server.serve_background(engine)

    stop = threading.Event()
    reload_ms: list[float] = []

    def reloader() -> None:
        while not stop.wait(a.reload_every):
            t0 = time.perf_counter()
            engine.reload_metadata()
            engine.reload_roles()
            if tracer.on:
                reload_ms.append((time.perf_counter() - t0) * 1000)

    if a.reload_every > 0:
        threading.Thread(target=reloader, daemon=True).start()

    print(f"READY {server.server_address[1]} {spark.sparkContext.master} "
          f"{int(timeout_path)}", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "trace on":
            tracer.on = True
            print("OK", flush=True)
        elif cmd == "dump":
            tracer.on = False
            stats = SparkStats(spark.sparkContext)
            for rec in tracer.records:
                rec["spark"] = stats.read(rec["tag"])
            print("TRACE " + json.dumps({
                "records": tracer.records, "reload_ms": reload_ms,
                "skipped": tracer.skipped,
            }), flush=True)
        elif cmd == "quit":
            break
    stop.set()
    server.shutdown()
    server.server_close()
    procstat.stop_spark(spark)


if __name__ == "__main__":
    main()
