import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
# Python workers import kgforge too; they inherit the environment of the JVM
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


@pytest.fixture(scope="session")
def root():
    return ROOT


@pytest.fixture(scope="session")
def spark():
    from kgforge.session import get_spark

    return get_spark(master="local[2]", app_name="kgbench-tests", shuffle_partitions=2,
                     extra_conf={"spark.driver.memory": "2g"})
