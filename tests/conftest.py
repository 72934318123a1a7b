"""The SparkSession every test file shares."""

from __future__ import annotations

import pytest

from sparklda.session import get_spark


@pytest.fixture(scope="session")
def spark():
    return get_spark("sparklda-tests")
