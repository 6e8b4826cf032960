from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from gaming_ai_analytics_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

#: A gate bound no Catalyst estimate reaches (Long.MaxValue included):
#: ``monkeypatch.setitem(gates.THRESHOLDS, gate, ABOVE_ANY_ESTIMATE)``
#: forces the gate's small side, a bound of 0 its large side.
ABOVE_ANY_ESTIMATE = 1 << 63


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gaa_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
