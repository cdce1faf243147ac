"""Shared Spark fixture for the test suite.

A single session-scoped local SparkSession: small core count so the
suite starts fast, same engine conventions as production
(``session.get_spark``) so tests exercise the real configuration.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from mb8600_clickhouse_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001
