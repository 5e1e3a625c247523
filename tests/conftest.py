from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest sits in, so pytest tests its own package
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from etl_framework_spark.session import get_spark

    s = get_spark("pytest")
    yield s


@pytest.fixture(scope="session")
def duck():
    import tools.check as check

    return check.duck_connect(SF_SMALL)
