import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the package


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from kaggle_ecommerce_etl_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.driver.memory": "1g"})
    yield s
    s.stop()
