from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]


@pytest.fixture(scope="session")
def spark():
    from movie_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-tests",
        cpus=2,
        shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )
    yield spark
    spark.stop()
