from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pandas_etl_spark.session import class_data_archive, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


FAST_TIER_BANNER = (
    'FAST TIER (-m "not slow"): the full oracle sweep and the whole-catalog '
    'plan lint are excluded; run with -m "slow or not slow" for full-catalog parity'
)


def _fast_tier(config) -> bool:
    return config.getoption("markexpr").strip() == "not slow"


def _header(config) -> list[str]:
    """Say when the run is the fast tier, so a passing default run is not
    read as full-catalog oracle parity, and whether the session's driver
    JVM starts from the class-data archive, records it or skips it."""
    lines = [FAST_TIER_BANNER] if _fast_tier(config) else []
    return lines + [class_data_archive().describe()]


def pytest_report_header(config):
    return _header(config)


def pytest_sessionstart(session):
    # -q hides the report header, and the usual suite command runs -q
    tr = session.config.pluginmanager.get_plugin("terminalreporter")
    if tr is not None and session.config.get_verbosity() < 0:
        for line in _header(session.config):
            tr.write_line(line)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pandas_etl_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
