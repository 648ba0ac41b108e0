from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from cdc_2025_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
REFERENCE_DATA = "/root/reference/data/processed"


def reference_csv(name: str) -> str:
    """Path of one of the reference's golden CSVs (clean_va_price.csv:
    1188 fact rows; resilience_metrics.csv: 93 rows). Every test that
    reads them comes through here, so while the directory is absent
    they all fail with this one message instead of a traceback each."""
    if not os.path.isdir(REFERENCE_DATA):
        pytest.fail(
            f"golden CSVs unavailable: {REFERENCE_DATA} does not exist. "
            "Vendor clean_va_price.csv and resilience_metrics.csv under "
            "tests/data/ with their provenance and point REFERENCE_DATA "
            "there.",
            pytrace=False,
        )
    return os.path.join(REFERENCE_DATA, name)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cdc-2025-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
