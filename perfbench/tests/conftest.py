from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from biomedica_etl_spark.session import get_spark, stop_spark

    s = get_spark(app_name="perfbench-tests", cores=2, shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "1g"})
    yield s
    stop_spark()
