from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


@pytest.fixture(scope="session")
def spark():
    from cdstore_spark.engine.session import get_spark
    s = get_spark("pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def smoke_golden():
    """Golden artifacts for the smoke tier (cached on disk after first run)."""
    from cdstore_spark import golden
    golden.ensure_golden("smoke")
    return golden.tier_dir("smoke")
