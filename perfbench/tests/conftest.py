"""Put the benchmark modules and the checkout root on the import path."""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
for p in (os.path.dirname(BENCH), BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)


def pytest_configure(config):
    config.addinivalue_line("markers", "spark: starts a Spark session (about a minute)")


@pytest.fixture
def root():
    return os.path.dirname(BENCH)
