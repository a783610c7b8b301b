import os

import pytest

from obiemachinelearningframework_spark.session import get_spark

# Every Spark test shares one driver JVM, and tests/test_spark_submit.py
# starts child JVMs beside it. With the machine-sized default heap the
# shared JVM grows until the kernel OOM-kills it; the suite's data needs
# far less. An explicit OBIE_DRIVER_MEM still wins.
os.environ.setdefault("OBIE_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("obie_tests", master="local[8]", shuffle_partitions=8)
    yield s
