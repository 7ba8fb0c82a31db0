import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
# Python workers and the input-making children import ocr_spark and perfbench
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.session import get_spark

    s = get_spark(master="local[2]", app_name="perfbench-tests", shuffle_partitions=4)
    yield s
    s.stop()
