import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

from agnes_spark import get_spark

SF_DIR = os.environ.get("AGNES_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("AGNES_SHUFFLE_PARTITIONS", "8")
    s = get_spark("agnes_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="session")
def customer(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/customer.parquet")


@pytest.fixture
def persistent_rdds(spark):
    """`persistent_rdds()` -> ids of the RDDs the session holds
    persistent: cached frames and local checkpoints."""
    jsc = spark.sparkContext._jsc
    return lambda: set(jsc.getPersistentRDDs().keys())


@pytest.fixture
def jobs_run(spark):
    """`jobs_run(build)` -> `(build(), ids of the Spark jobs it ran)`."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(build):
        group = "jobs-run"
        sc.setJobGroup(group, group)
        try:
            before = set(tracker.getJobIdsForGroup(group))
            out = build()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return out, set(tracker.getJobIdsForGroup(group)) - before
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return run


@pytest.fixture
def jvm_calls(spark):
    """`jvm_calls(build)` -> `(build(), number of py4j gateway commands
    this thread sent while it ran)`. Commands of other threads, such as
    py4j's finalizer releasing collected JVM references, are not counted."""
    client = spark.sparkContext._gateway._gateway_client
    me = threading.get_ident()

    def run(build):
        send, sent = client.send_command, [0]

        def counted(*args, **kwargs):
            if threading.get_ident() == me:
                sent[0] += 1
            return send(*args, **kwargs)

        client.send_command = counted
        try:
            return build(), sent[0]
        finally:
            del client.send_command  # the class's method again

    return run
