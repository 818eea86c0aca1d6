import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_fraud_detection_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # The engine's 32g default driver heap is sized for the bench host.
    # The suite's data fits in a few GB, and with 32g the JVM grows past
    # a 16 GB host's memory before it collects.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    s = get_spark("pytest", cpus=8, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
