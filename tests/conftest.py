import contextlib
import os
import sys
import threading
import types
import uuid

import pytest
from py4j.clientserver import ClientServerConnection

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The test session runs on a SMALL local master: the suite is
# overhead-bound, not compute-bound (a full 714-test run burns ~5 min of
# Python CPU against ~60 min of wall), and per-stage task count scales
# with the core count — measured 204 s → 118 s on the heaviest test file
# going local[32] → local[8] at sf0.001. Every distributed code path
# still runs distributed (8 tasks instead of 32); tests that need a
# specific partition count create it explicitly. Override with
# SPARK_GRAFT_TEST_CPUS.
os.environ["SPARK_GRAFT_CPUS"] = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
# One JVM serves the whole suite, and tests leave cached blocks behind.
# Under a 16g heap it grew with them until the kernel killed the JVM on
# a 16 GB host (every later test then failed to connect); a heap well
# below the engine's default (half the host's memory) evicts and spills
# them instead.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")

from hail_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hail_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@contextlib.contextmanager
def py4j_round_trips():
    """Count the Py4J commands the main thread sends to the JVM inside
    the block: each is one round trip. PySpark's pinned-thread mode
    sends them all through ``ClientServerConnection.send_command``."""
    trips = types.SimpleNamespace(count=0)
    send = ClientServerConnection.send_command

    def counted(self, command):
        if threading.current_thread() is threading.main_thread():
            trips.count += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield trips
    finally:
        ClientServerConnection.send_command = send


def spark_jobs(spark, f) -> int:
    """Run ``f`` and return the number of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        f()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
