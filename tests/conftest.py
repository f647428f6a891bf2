from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


@pytest.fixture(scope="session")
def spark():
    from cdstore_spark.engine.session import get_spark
    # the host's core count (SPARK_GRAFT_CPUS, else os.cpu_count()), not a
    # fixed width that oversubscribes small hosts
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    s = get_spark("pytest", parallelism=cores)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def smoke_golden():
    """Golden artifacts for the smoke tier (cached on disk after first run)."""
    from cdstore_spark import golden
    golden.ensure_golden("smoke")
    return golden.tier_dir("smoke")
