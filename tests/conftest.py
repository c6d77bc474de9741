from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from samba_tv_ingest_etl_spark.session import get_spark  # noqa: E402

# The suite pins its heap rather than take session.machine_defaults(),
# so its runs do not depend on the host's memory.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Small local session for tests; shuffle partitions kept low so the
    # many tiny-fixture jobs don't pay 32-task scheduling overhead.
    return get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
                     shuffle_partitions=8)


def count_jobs(spark, name, fn):
    """``(fn(), jobs, compiles)``: the Spark jobs ``fn`` launched,
    counted under job group ``name`` (the engine's DAG threads inherit
    it), and the classes Spark's code generator compiled meanwhile.
    The compile count is JVM-wide, so run nothing else concurrently."""
    sc = spark.sparkContext
    compiled = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    before = compiled.getCount()
    sc.setJobGroup(name, name)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(name))
    return out, jobs, compiled.getCount() - before
