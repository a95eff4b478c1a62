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


def pytest_terminal_summary(terminalreporter):
    """One line per skip reason with its count, so every run shows how
    many skips are parity tests whose reference corpus is absent.
    Reporting only: no outcome or exit code changes."""
    reasons = Counter(
        rep.longrepr[2].removeprefix("Skipped: ")
        if isinstance(rep.longrepr, tuple) else str(rep.longrepr)
        for rep in terminalreporter.stats.get("skipped", []))
    if reasons:
        terminalreporter.section("skips by reason")
        for reason, n in reasons.most_common():
            terminalreporter.write_line(f"{n:4d}  {reason}")
