from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(1, str(HERE.parent.parent))
# Timestamps collected from Spark come back in local time; the checks
# read them as UTC, as the benchmark's own runs do.
os.environ["TZ"] = "UTC"
time.tzset()


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from datapoints_csv_extractor_spark import get_spark
    from jvm import stop_jvm

    scratch = tmp_path_factory.mktemp("spark")
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch)
    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    stop_jvm()
