from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SMOKE_SF = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# Fast default suite vs full suite.
#
# The full suite (~1,086 tests, ~36 min on a 4-core host) outgrew the
# tier-1 time budget, so the files below are marked `slow` and SKIPPED
# unless CDCX_FULL_TESTS=1.
#
# What the default set keeps: every per-operator behavioral/unit test,
# plan-shape pins (incl. the no-BatchEvalPython sweep), partition/AQE
# invariance samples, empty-input sample, bench contract/artifacts,
# sources/sinks, CDC, multimodal, relational, and all round*-ops files
# — i.e. everything that uniquely guards operator internals and plan
# shape.
#
# What `slow` defers to CDCX_FULL_TESTS=1 runs (timings = r14 full run):
#   - test_driver_session.py / test_oracle_parity.py (~294+290 tests,
#     ~20 min): registry-wide DuckDB-oracle parity.  The default set
#     compares only a few dozen sampled queries with their oracles, so
#     a default green does NOT certify that the registry matches its
#     oracles — only a CDCX_FULL_TESTS=1 green does;
#   - test_robustness.py (~3.5 min), test_streaming.py (~2.5 min), and
#     the Hypothesis/property heavies (round6/7 property,
#     round8_hypothesis, text/wave/cdc property, ~4 min combined).
# ---------------------------------------------------------------------------
SLOW_FILES = {
    "test_driver_session.py",
    "test_oracle_parity.py",
    "test_robustness.py",
    "test_streaming.py",
    "test_round6_property.py",
    "test_round7_property.py",
    "test_round8_hypothesis.py",
    "test_text_property.py",
    "test_wave_property.py",
    "test_cdc_property.py",
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: full-suite-only test (skipped unless CDCX_FULL_TESTS=1)",
    )


def pytest_collection_modifyitems(config, items):
    run_full = bool(os.environ.get("CDCX_FULL_TESTS"))
    skip_slow = pytest.mark.skip(
        reason="slow full-suite file; set CDCX_FULL_TESTS=1 to run"
    )
    for item in items:
        if Path(str(item.fspath)).name in SLOW_FILES:
            item.add_marker(pytest.mark.slow)
            if not run_full:
                item.add_marker(skip_slow)


@pytest.fixture(scope="session")
def spark():
    from cdc_extractor_spark.session import get_session

    s = get_session(app_name="cdc_extractor_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SMOKE_SF
