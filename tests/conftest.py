"""The SparkSession every test file shares."""

from __future__ import annotations

import pytest

from sparklda.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sparklda-tests")
    s.sparkContext.setLogLevel("ERROR")
    return s
