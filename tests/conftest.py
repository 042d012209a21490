import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "reference_fixture: reads the reference ORC corpus; skipped when it "
        "is absent, and counted in the session summary")


def pytest_terminal_summary(terminalreporter):
    """Make the reference-corpus skips loud: without the corpus the liborc
    parity and corrupt-fixture tests do not run at all (an empty
    parametrization shows up as one skip)."""
    skipped = [r for r in terminalreporter.stats.get("skipped", [])
               if "reference_fixture" in getattr(r, "keywords", {})]
    if skipped:
        terminalreporter.write_sep(
            "=", f"{len(skipped)} reference-fixture tests did not run "
                 "(reference ORC corpus absent)", yellow=True)


@pytest.fixture(scope="session")
def spark():
    from orc_rust_spark.session import get_spark

    s = get_spark("orc_rust_spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
