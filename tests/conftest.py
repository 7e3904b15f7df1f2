from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from bigquery_postgres_events_etl_spark.session import get_spark

    spark = get_spark(app_name="tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
