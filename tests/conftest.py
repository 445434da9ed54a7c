import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from webcrawler_spark.session import make_session

    s = make_session(
        "webcrawler_spark_tests",
        "local[4]",
        {
            "spark.sql.shuffle.partitions": 4,
            "spark.ui.enabled": "false",
            "spark.driver.memory": "8g",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
