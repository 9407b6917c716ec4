import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest

# Reference fixture payloads (read-only test data; used for golden-fact
# parity checks). Tests that need them skip cleanly when absent.
REFERENCE_FIXTURES = os.environ.get(
    "AUTH2WD_REFERENCE_FIXTURES", "/root/reference/test_data/fixtures"
)


def fixture_path(name: str) -> str:
    return os.path.join(REFERENCE_FIXTURES, name)


def read_fixture(name: str) -> str:
    path = fixture_path(name)
    if not os.path.exists(path):
        pytest.skip(f"reference fixture corpus not available: {path}")
    with open(path, encoding="utf-8") as fh:
        return fh.read()


@pytest.fixture(scope="session")
def spark():
    """The product's session (``session.build_session``: call-site capture
    off, generated classes reused between runs), with 8 cores and an 8 GB
    driver unless SPARK_GRAFT_CPUS or SPARK_DRIVER_MEMORY say otherwise,
    and 8 shuffle partitions."""
    from auth2wd_spark.session import build_session

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    spark = build_session(
        app_name="auth2wd-spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8")
    )
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    yield spark
    spark.stop()
