"""One small Spark session for the benchmark's own tests."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402

harness.require_library()


@pytest.fixture(scope="session")
def spark():
    s = harness.start_spark(harness.bench_cores())
    yield s
    harness.stop_spark(s)
    harness.shutdown_jvm()
