from __future__ import annotations

import pytest

from blog_parser_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bps-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("WARN")
    yield s
