"""catalog.load_table: TIMESTAMP(NANOS) footers and the session conf."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq

from oltp_to_data_warehouse_pipeline_spark.catalog import load_table
from tests.conftest import SF_DIR

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_nanos_timestamps_load_as_micros_and_only_they_set_the_conf(spark, tmp_path):
    spark.conf.unset(NANOS_AS_LONG)
    try:
        # a table without NANOS columns leaves the session conf alone
        load_table(spark, SF_DIR, "orders").schema
        assert spark.conf.get(NANOS_AS_LONG) == "false"

        ts = pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns", tz="UTC"))
        pq.write_table(pa.table({"id": [1, 2], "ts": ts}), tmp_path / "ev.parquet")
        df = load_table(spark, str(tmp_path), "ev")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = {r["id"]: r["ts"] for r in df.collect()}
        want = dt.datetime(2023, 11, 14, 22, 13, 20, 123456, tzinfo=dt.timezone.utc)
        assert got[1].replace(tzinfo=dt.timezone.utc) == want  # session zone is UTC
        assert got[2] is None
        assert spark.conf.get(NANOS_AS_LONG) == "true"
    finally:
        spark.conf.unset(NANOS_AS_LONG)
