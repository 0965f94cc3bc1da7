import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ebel_spark.session import get_spark
    s = get_spark(cores=4, app_name="ebel-spark-tests", shuffle_partitions=8)
    yield s


def load_true_values():
    """Load the reference graph-count oracle module by path (read-only)."""
    import importlib.util
    p = "/root/reference/tests/test_manager/true_values.py"
    spec = importlib.util.spec_from_file_location("ref_true_values", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


#: the skip reason of every test that reads the reference fixtures
REFERENCE_SKIP = "reference fixtures absent"


def pytest_terminal_summary(terminalreporter):
    """Count and name the reference-oracle tests that did not run, so a
    green run on a host without the reference fixtures says so."""
    absent = [r.nodeid for r in terminalreporter.stats.get("skipped", [])
              if isinstance(r.longrepr, tuple)
              and REFERENCE_SKIP in r.longrepr[2]]
    if absent:
        terminalreporter.write_sep(
            "-", f"{len(absent)} reference oracles not run "
            f"({REFERENCE_SKIP})")
        for nodeid in absent:
            terminalreporter.write_line(nodeid)
