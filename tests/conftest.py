import os
import sys
import uuid

import pytest
from py4j.clientserver import ClientServerConnection
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from building_an_azure_data_lake_for_bikeshare_data_analytics_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def jobs_launched(spark, thunk) -> int:
    """Number of Spark jobs ``thunk`` launches, counted by a job group of
    its own."""
    sc = spark.sparkContext
    group = f"jobs-launched-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs_launched")
    try:
        thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def jvm_round_trips(thunk) -> int:
    """Number of py4j commands the driver sends to the JVM while ``thunk``
    runs, counted by wrapping ``ClientServerConnection.send_command``.
    Release commands (``m``/``d``: a Python-side reference was collected)
    are not counted: the garbage collector decides when they are sent, so
    they would make the count depend on when a collection happens."""
    send = ClientServerConnection.send_command
    n = 0

    def counting(self, command):
        nonlocal n
        n += not command.startswith(MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME)
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        thunk()
    finally:
        ClientServerConnection.send_command = send
    return n
