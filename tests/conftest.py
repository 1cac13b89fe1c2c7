import gc
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lib_gdal_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lib_gdal_spark-tests", cores=8, shuffle_partitions=8)
    yield s


def count_py4j_calls(fn):
    """Run ``fn()`` and return (its result, the py4j commands the calling
    thread sent meanwhile): one per JVM round trip. Release commands for
    collected JVM proxies are sent by py4j's finalizer thread at its own
    pace, so they are left out; the collector also runs first and stays
    off during the call, so no proxy of an earlier call is freed in it."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command
    caller = threading.get_ident()
    calls = 0

    def counted(self, command):
        nonlocal calls
        calls += threading.get_ident() == caller
        return send(self, command)

    gc.collect()
    was_enabled = gc.isenabled()
    gc.disable()
    ClientServerConnection.send_command = counted
    try:
        out = fn()
    finally:
        ClientServerConnection.send_command = send
        if was_enabled:
            gc.enable()
    return out, calls


@pytest.fixture
def py4j_calls():
    """``count_py4j_calls`` as a fixture."""
    return count_py4j_calls
