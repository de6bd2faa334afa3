from __future__ import annotations

import os

import pytest

from hadoop_log_analysis_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"

# The driver's correctness gate runs at sf0.01; parity tests default there.
PARITY_SF = os.environ.get("HLA_PARITY_SF", SF001)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="hla-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    return s
