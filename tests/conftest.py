import pytest

from dask_geomodeling_spark.config import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stored_rdd_ids(spark):
    """Ids of the RDDs that hold executor storage right now."""
    return {info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
