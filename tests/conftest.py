from __future__ import annotations

import logging

import pytest

from inpe_queimadas_etl_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _drop_cli_log_handlers():
    """``cli.main`` puts a root StreamHandler on the test's captured
    stderr. Left in place, it outlives that stream, and py4j's INFO
    lines at interpreter exit end the run with "I/O operation on
    closed file" tracebacks. pytest's own handlers are subclasses and
    stay."""
    root = logging.getLogger()
    level = root.level
    yield
    for h in root.handlers[:]:
        if type(h) in (logging.StreamHandler, logging.FileHandler):
            root.removeHandler(h)
            h.close()
    root.setLevel(level)
