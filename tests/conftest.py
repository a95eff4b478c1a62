from collections import Counter

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("cdx-writer-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


_PARITY = "test_entry_oracle.py::test_oracle_parity["


def pytest_terminal_summary(terminalreporter):
    """One line per skip reason with its count, so every run shows how
    many skips are parity tests whose reference corpus is absent, and
    one line counting the oracle parity cases by outcome, so the cases
    that ran show beside the skips.  Reporting only: no outcome or exit
    code changes."""
    stats = terminalreporter.stats
    reasons = Counter(
        rep.longrepr[2].removeprefix("Skipped: ")
        if isinstance(rep.longrepr, tuple) else str(rep.longrepr)
        for rep in stats.get("skipped", []))
    if reasons:
        terminalreporter.section("skips by reason")
        for reason, n in reasons.most_common():
            terminalreporter.write_line(f"{n:4d}  {reason}")
    parity = {outcome: sum(_PARITY in rep.nodeid
                           for rep in stats.get(outcome, []))
              for outcome in ("passed", "failed", "skipped")}
    if any(parity.values()):
        terminalreporter.write_line(
            "oracle parity: {passed} passed, {failed} failed, "
            "{skipped} skipped".format(**parity))
