from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the checkout
os.environ["TZ"] = "UTC"  # collected timestamps come back in the process's zone
time.tzset()


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from extract_transform_load_spark.session import get_spark

    tmp = tmp_path_factory.mktemp("spark")
    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s
    from common import stop_session

    stop_session(s)  # also waits for the gateway JVM to exit
