import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the package default driver heap (64g) is sized for a large host; the
# suite's local session runs within a few GB
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from elasticsearch_analysis_combo_spark.session import get_spark

    spark = get_spark("combo_spark_tests", cores=8, shuffle_partitions=8)
    yield spark
    spark.stop()
