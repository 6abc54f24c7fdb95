import os

import pytest

from crux_spark import Catalog, get_spark

SF_DIR = os.environ.get("CRUX_SPARK_TEST_SF", "/root/testdata/sf0.001")

# get_spark's default driver heap (48g) can exceed the host's RAM; the
# heap then grows over the ~1000-test session until the kernel OOM-kills
# the JVM and every later test fails. Half of RAM (2g..8g) unless set.
_RAM = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
os.environ.setdefault(
    "SPARK_GRAFT_DRIVER_MEM", f"{max(2, min(8, _RAM // 2**31))}g"
)


@pytest.fixture(scope="session")
def spark():
    return get_spark("crux-spark-tests", cpus=8, shuffle_partitions=8)


@pytest.fixture(scope="session")
def catalog(spark):
    return Catalog(spark, SF_DIR)
