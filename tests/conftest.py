from __future__ import annotations

import os
import time

import pytest

# PySpark's collect() materializes TimestampType via the PROCESS-local
# timezone (datetime.fromtimestamp), independent of the session's
# pinned spark.sql.session.timeZone — so the oracle-parity comparisons
# (tests/oracle_harness.py) would shift every collected Spark timestamp
# against DuckDB's stored-UTC values on a non-UTC host. Pin the test
# process to UTC before the JVM starts (same guard as
# tools/driver_audit.py).
os.environ["TZ"] = "UTC"
if hasattr(time, "tzset"):
    time.tzset()

from data_eng_project_spark.session import get_session  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
