import os
import sys

import pytest

# the checkout this conftest belongs to, so any copy of the repo tests
# its own code
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    from fefal_etl_spark.session import get_spark

    spark = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": os.path.join(ROOT, ".tmp", "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
