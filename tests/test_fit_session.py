"""The model-fit loops plan their iterations in a private clone of the
caller's session (``operators._fastiter``) and never write the shared
session's conf: a query planned while a fit runs sees the session's own
AQE and shuffle-partition settings, and every frame a fit returns is
bound to the caller's session."""

from __future__ import annotations

import sys
import threading

from concept_multi_db_query_engine_spark import operators as ops
from concept_multi_db_query_engine_spark import testdata
from concept_multi_db_query_engine_spark.operators._fastiter import (
    FIT_CONF,
    fit_session,
)

SF_DIR = "/root/testdata/sf0.001"
AQE = "spark.sql.adaptive.enabled"
PARTITIONS = "spark.sql.shuffle.partitions"


def test_fit_loops_leave_the_shared_conf_alone(spark):
    own = (spark.conf.get(AQE), spark.conf.get(PARTITIONS))
    seen = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add((spark.conf.get(AQE), spark.conf.get(PARTITIONS)))
            done.wait(0.002)

    emb = testdata.load_table(spark, SF_DIR, "embeddings")
    orders = testdata.load_table(spark, SF_DIR, "orders")
    poller = threading.Thread(target=poll)
    poller.start()
    try:
        cents = ops.kmeans_fit(emb, k=4, iterations=3)
        cents.collect()
        ops.pq_encode(emb, dim=64, m=4, k=4, iterations=2).collect()
        ops.quantile_regression_train(
            orders, ["CAST(year(CAST(o_orderdate AS DATE)) - 1992 "
                     "AS DOUBLE)"],
            "CAST(o_totalprice AS DOUBLE) / 100000.0d",
            tau=0.9, lr=0.5, iterations=4)
    finally:
        done.set()
        poller.join(timeout=10)
    assert not poller.is_alive()
    assert seen == {own}
    assert cents.sparkSession is spark


def test_one_fit_session_per_caller_session(spark):
    fit = fit_session(spark)
    assert fit is fit_session(spark) and fit is not spark
    assert fit.sparkContext is spark.sparkContext
    for key, value in FIT_CONF.items():
        assert fit.conf.get(key) == value
    assert spark.conf.get(AQE) == "true"


def test_racing_callers_share_one_fit_session(spark):
    caller = spark.newSession()  # no fit session yet
    got = []
    start = threading.Barrier(8)

    def take():
        start.wait(timeout=10)
        got.append(fit_session(caller))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=take) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == 8 and all(f is got[0] for f in got)
    assert got[0] is not fit_session(spark)
