import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from c4_5decisiontreebasedonmapreduce_spark import get_spark  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="c45-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


@pytest.fixture
def py4j_calls(spark):
    """``count(fn)``: the number of py4j round trips ``fn()`` makes.

    Wraps the gateway client's ``send_command``, through which every
    Python→JVM call goes, and counts the calling thread's commands only:
    py4j's finalizer thread releases dead Java handles through the same
    method at times set by Python's garbage collector, not by ``fn``."""
    import threading

    client = spark.sparkContext._gateway._gateway_client

    def count(fn) -> int:
        calls = 0
        caller = threading.get_ident()
        send = client.send_command

        def counted(*args, **kwargs):
            nonlocal calls
            if threading.get_ident() == caller:
                calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        try:
            fn()
        finally:
            client.send_command = send
        return calls

    return count
