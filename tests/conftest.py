import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE = "/root/reference"

sys.path.insert(0, REPO)


def reference_available() -> bool:
    return os.path.isdir(os.path.join(REFERENCE, "text_quality_filter"))


def pytest_terminal_summary(terminalreporter):
    """Name the reference-parity skips, so that a green run without the
    reference checkout is not read as reference parity: it then verifies
    Spark-vs-DuckDB and Spark-vs-functions/ agreement only."""
    n = sum(
        "reference repo not available" in str(r.longrepr)
        for r in terminalreporter.stats.get("skipped", [])
    )
    if n:
        terminalreporter.write_line(
            f"reference parity NOT verified: {n} skipped "
            f"(reference repo not available: {REFERENCE} absent)"
        )


@pytest.fixture(scope="session")
def ref_modules():
    """Import the reference's pure-Python decision modules for differential
    testing (executed as an oracle; never copied). Skips when absent."""
    if not reference_available():
        pytest.skip("reference repo not available")
    if REFERENCE not in sys.path:
        sys.path.insert(0, REFERENCE)
    from text_quality_filter.config.config import (  # type: ignore
        FEATURE_WORDS_CONFIG,
        RULE_FILTER_CONFIG,
    )
    from text_quality_filter.utils.feature_words import (  # type: ignore
        FeatureWordsDetector,
    )
    from text_quality_filter.utils.rule_filter import RuleFilter  # type: ignore
    from text_quality_filter.utils.sensitive_filter import DFAFilter  # type: ignore

    return {
        "RuleFilter": RuleFilter,
        "RULE_FILTER_CONFIG": RULE_FILTER_CONFIG,
        "FEATURE_WORDS_CONFIG": FEATURE_WORDS_CONFIG,
        "FeatureWordsDetector": FeatureWordsDetector,
        "DFAFilter": DFAFilter,
    }


@pytest.fixture(scope="session")
def ref_clear_redundancy():
    """Load the reference's clear_redundancy module with a bs4 stub (bs4 is
    absent in the sandbox and only needed by functions we don't exercise)."""
    if not reference_available():
        pytest.skip("reference repo not available")
    import types

    if "bs4" not in sys.modules:
        stub = types.ModuleType("bs4")
        stub.BeautifulSoup = object  # never instantiated in these tests
        sys.modules["bs4"] = stub
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "ref_clear_redundancy",
        os.path.join(REFERENCE, "Crawl_Page", "tools", "clear_redundancy.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("ccc-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()
