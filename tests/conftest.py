from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from finance_data_pipeline_spark.session import get_spark

    s = get_spark(shuffle_partitions=8)
    yield s
    s.stop()
