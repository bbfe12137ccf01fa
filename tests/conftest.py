from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = f"{TESTDATA}/sf0.001"
SF_ORACLE = f"{TESTDATA}/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from petfinder_database_distributor_spark.session import get_spark

    s = get_spark(app_name="pdd_spark_tests")
    yield s


@pytest.fixture
def gateway_calls(spark):
    """Count the Py4J round trips this thread makes inside a block:

        with gateway_calls() as n:
            build_plan()
        assert n() <= budget

    Every JVM call, reflection lookup and object handle from the Python
    driver is one ``ClientServerConnection.send_command``. Calls from
    other threads (py4j's finalizer worker deleting collected handles)
    are not counted, so the count does not depend on garbage-collection
    timing."""
    import contextlib
    import threading

    from py4j.clientserver import ClientServerConnection

    @contextlib.contextmanager
    def counting():
        me = threading.get_ident()
        calls = [0]
        send = ClientServerConnection.send_command

        def counted(self, command):
            if threading.get_ident() == me:
                calls[0] += 1
            return send(self, command)

        ClientServerConnection.send_command = counted
        try:
            yield lambda: calls[0]
        finally:
            ClientServerConnection.send_command = send

    return counting
