from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from postgresql_datawarehouse_excercise_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("PDWX_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pdwx-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def pytest_terminal_summary(terminalreporter):
    """Skip reasons grouped with counts, so a skipped family shows up even
    under -q; the paper-golden tests get their own line."""
    skipped = terminalreporter.stats.get("skipped", [])
    if not skipped:
        return
    reasons = Counter(
        rep.longrepr[2].removeprefix("Skipped: ") if isinstance(rep.longrepr, tuple)
        else str(rep.longrepr)
        for rep in skipped
    )
    terminalreporter.section("skip reasons")
    for reason, n in reasons.most_common():
        terminalreporter.write_line(f"{n:4d}  {reason}")
    if any("test_reference_golden.py" in rep.nodeid for rep in skipped):
        terminalreporter.write_line("paper-golden: NOT RUN (reference dump not present)")
