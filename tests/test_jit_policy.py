"""The driver JIT policy of ``get_spark`` sessions: the session's JVM runs
with ``session.DRIVER_JIT_OPTIONS``, and a user's own ``-XX`` flag for the
same option wins while the rest of the policy stays in force."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from concept_multi_db_query_engine_spark.session import DRIVER_JIT_OPTIONS

PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
POLICY = dict(opt.removeprefix("-XX:").split("=")
              for opt in DRIVER_JIT_OPTIONS.split())


def vm_options(spark) -> dict[str, str]:
    """The session JVM's value of each option the policy sets."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return {name: bean.getVMOption(name).getValue() for name in POLICY}


def test_session_jvm_runs_the_policy(spark):
    assert len(POLICY) == 4
    assert vm_options(spark) == POLICY


# Two ways a user sets the driver's Java options: spark-submit's
# --driver-java-options, and spark.driver.extraJavaOptions on the builder
# (set here from a wrapped getOrCreate, since get_spark makes its own).
_USER_ROUTES = {
    "driver-java-options": (
        {"PYSPARK_SUBMIT_ARGS": "--driver-java-options "
                                "-XX:Tier4InvocationThreshold=8888 pyspark-shell"},
        "", "8888"),
    "builder-extraJavaOptions": (
        {},
        """
        from pyspark.sql import SparkSession
        _get = SparkSession.Builder.getOrCreate
        SparkSession.Builder.getOrCreate = lambda self: _get(self.config(
            "spark.driver.extraJavaOptions",
            "-XX:Tier4InvocationThreshold=7777"))
        """, "7777"),
}


@pytest.mark.parametrize("route", sorted(_USER_ROUTES))
def test_user_java_option_wins_over_the_policy(route):
    env_extra, setup, want = _USER_ROUTES[route]
    script = textwrap.dedent(setup) + textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from concept_multi_db_query_engine_spark.session import get_spark
        from tests.test_jit_policy import vm_options

        spark = get_spark(cpus=1, shuffle_partitions=1)
        print("OPTIONS", json.dumps(vm_options(spark)))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    env.update(env_extra, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], env=env,
        capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    got = [json.loads(line.split(" ", 1)[1])
           for line in out.stdout.splitlines() if line.startswith("OPTIONS ")]
    assert got == [{**POLICY, "Tier4InvocationThreshold": want}]
