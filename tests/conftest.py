from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# get_spark's 48g default heap lets the one long-lived test JVM grow past
# a 15 GB host's memory (it was OOM-killed at 15.7 GB RSS in the
# all-queries smoke test). 10g stays above the 8 GiB line every
# heap-dependent engine choice keys on (registry.SMALL_HEAP_BYTES,
# caching._big_heap), so the suite exercises the same paths.
os.environ.setdefault("SPARK_DRIVER_MEM", "10g")

from apl_commissions_etl_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
