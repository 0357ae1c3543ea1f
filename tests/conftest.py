from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_excel_datasource_spark.session import get_session  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = get_session("tests", cpus=4, shuffle_partitions=4)
    yield spark
