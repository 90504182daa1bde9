from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest lives in, not whatever copy is installed or
# sits at a fixed path: a second clone must test its own engine
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from etdtransform_spark.session import get_spark

    spark = get_spark(
        "etdtransform-tests", master="local[4]", shuffle_partitions=4
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
