from __future__ import annotations

import pytest

from oltp_to_data_warehouse_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def no_auto_broadcast(spark):
    """Size-based broadcasting off for one test: a plan then shows only the
    broadcasts its hints force, which is what the planner leaves once every
    input is past ``autoBroadcastJoinThreshold`` or cannot be sized."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield spark
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
