"""Session defaults that reach the driver JVM, and literal frames that
stay in the driver.

The JIT cap is a JVM launch option, so it only binds when a session
starts a JVM: the shared test session shows it, and a child process
shows it survives a caller's own ``spark.driver.extraJavaOptions``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from ironman_medallion_lakehouse_spark.session import _DRIVER_JAVA_OPTIONS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_jvm_runs_one_c1_and_one_c2_compiler_thread(spark):
    jvm = spark.sparkContext._jvm
    args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    assert "-XX:CICompilerCount=2" in list(args)


_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from ironman_medallion_lakehouse_spark.session import get_spark
spark = get_spark(
    app_name="jvm-args", master="local[1]",
    extra_conf={"spark.driver.extraJavaOptions": "-Dimls.caller.flag=1"},
)
jvm = spark.sparkContext._jvm
args = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
print(json.dumps(list(args)))
spark.stop()
"""


def test_caller_extra_java_options_reach_the_jvm_after_the_default():
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m", SPARK_GRAFT_CPUS="1")
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    )
    args = json.loads(out.stdout.strip().splitlines()[-1])
    assert _DRIVER_JAVA_OPTIONS in args and "-Dimls.caller.flag=1" in args
    # the caller's options come last, so a caller's own
    # -XX:CICompilerCount would override the default
    assert args.index(_DRIVER_JAVA_OPTIONS) < args.index("-Dimls.caller.flag=1")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_country_map_is_a_local_table_scan(spark):
    import pyarrow as pa

    from ironman_medallion_lakehouse_spark.plans.gold_dims import build_dim_countries

    silver = spark.createDataFrame(
        pa.table({"country": ["DE", "ZZ"], "athlete_name": ["Anna Meyer", "Bo Li"]})
    )
    plan = _plan(build_dim_countries(spark, silver))
    assert "LocalTableScan [country_code" in plan
    assert "ExistingRDD" not in plan


def test_srm_design_frame_is_a_local_table_scan(spark):
    from ironman_medallion_lakehouse_spark.operators.experiment import srm_check

    units = spark.range(10).selectExpr("IF(id % 2 = 0, 'a', 'b') AS variant")
    plan = _plan(srm_check(units, "variant", {"a": 0.5, "b": 0.5}))
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
