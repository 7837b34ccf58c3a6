import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(REPO, "data")


@pytest.fixture(scope="session")
def spark():
    from jsonld_spark.pipeline import default_session

    s = default_session(cores=4, shuffle_partitions=8, app_name="jsonld_spark_tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_path():
    from jsonld_spark.sources.pages import ensure_pages

    return ensure_pages(os.path.join(DATA_DIR, "pages_test.parquet"), 300, seed=42)


def sf_dir(sf: str = "sf0.001") -> str:
    return os.path.join(TESTDATA, sf)


def pytest_terminal_summary(terminalreporter):
    """One line making the reference-spec gate's absence visible: the
    spec-parity suites skip when the reference checkout is not there."""
    skipped = terminalreporter.stats.get("skipped", [])
    n = sum(
        1
        for rep in skipped
        if isinstance(rep.longrepr, tuple) and "reference" in str(rep.longrepr[2])
    )
    terminalreporter.write_line(
        f"reference gate: {n} tests skipped because the reference checkout is absent"
    )
