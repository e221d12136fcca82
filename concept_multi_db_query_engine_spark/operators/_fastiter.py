"""The fit session: where driver-side model-fit loops plan their iterations.

The fit loops (the GD trainers in ``classify``, the k-means/IVF and fused
PQ Lloyd loops in ``clustering``) run one small query per iteration over a
pinned frame. AQE has nothing to re-plan there, but it runs each query
stage as its own job, and under AQE ``localCheckpoint(eager=False)`` runs
the frame's shuffle stages when it is called (with AQE off it runs only
the plan's broadcasts, see ``clustering._fit_loop``). With AQE off
(4-vCPU VM), ``embeddings_kmeans`` at sf0.01 runs 7 jobs instead of 15
and ``embeddings_pq_encode`` 5 instead of 10, ``orders_quantile_regression``
at sf0.1 20 instead of 36; ``docs_quality_logistic`` runs 28 either way.
Values are identical: AQE changes only the physical plan.

The loops must not get there by writing the caller's conf: the session is
shared, and every query planned meanwhile would run under the loop's conf.
Each caller session gets one clone (``cloneSession``: the caller's runtime
conf, temp views and functions; the same SparkContext) that differs only in
``FIT_CONF``. It is made once, under a lock, and its conf is never written
again, so it keeps the caller's conf as of its first use. A loop rebinds
(:func:`rebind`) its pinned inputs into it and every frame it returns back
to the caller. One shuffle partition serves every
loop: the k-means and PQ exchanges carry at most k·d (m·k·d) rows at any
corpus size, and a GD iteration's aggregate is global.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame, SparkSession

FIT_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
}

_lock = threading.Lock()
_fit_sessions: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def fit_session(spark: SparkSession) -> SparkSession:
    """The fit session of ``spark``, created on first use."""
    with _lock:
        fit = _fit_sessions.get(spark)
        if fit is None:
            fit = SparkSession(
                spark.sparkContext, spark._jsparkSession.cloneSession(),
                FIT_CONF,
            )
            _fit_sessions[spark] = fit
    return fit


def rebind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s analysed plan as a frame of ``spark``. A pinned frame's
    plan is a scan of its stored blocks, so nothing is recomputed."""
    if df.sparkSession is spark:
        return df
    dataset = getattr(spark._jvm, "org.apache.spark.sql.classic.Dataset")
    return DataFrame(
        dataset.ofRows(spark._jsparkSession, df._jdf.logicalPlan()), spark
    )
