"""The benchmark's timed action must run every column of a result.

``df.count()`` lets Catalyst prune a projection nobody references, so the
work inside it is never measured. The probe below is a frame whose only
work is such a projection: a Python UDF column. Counting it sends no row
to a Python worker; the benchmark's timed action (a noop-sink write, via
``Bench.df_op``) sends every row.

    python3 -m pytest perfbench/test_timed_action.py
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from harness import Bench  # noqa: E402
from spans import SparkProbe, Tracer  # noqa: E402

ROWS = 2_000


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    run.configure_env(str(tmp_path_factory.mktemp("perfbench")), 2)
    from nyc_taxi_etl_pyspark_spark.session import get_spark

    s = get_spark(app_name="perfbench-test")
    yield s
    s.stop()


def probe_frame(spark):
    from pyspark.sql import functions as F

    plus_one = F.udf(lambda x: x + 1, "long")
    return spark.range(ROWS).withColumn("unreferenced", plus_one("id"))


def test_count_prunes_the_udf_projection(spark):
    probe = SparkProbe(spark)
    first = probe.sql_count()
    assert probe_frame(spark).count() == ROWS
    probe.drain()
    assert probe.sql_since(first)["python_rows"] == 0


def test_timed_action_runs_the_udf_projection(spark):
    b = Bench(spark, Tracer(), True, 2)
    op = b.df_op("probe", "query", 0, True, lambda: probe_frame(spark), "plans.build")
    assert op is not None and not b.failures
    assert op.spark["python_rows"] == ROWS
    b.passes.append((0, True, op.wall))
    assert b.spark_layers(1)["functions.python_rows"] == ROWS
