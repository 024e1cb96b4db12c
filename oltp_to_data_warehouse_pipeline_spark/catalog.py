"""Table registry: parquet-backed catalog over a scale-factor directory.

The reference keeps its tables in Postgres and reads them over JDBC
(`spark_etl.py:120-138`); this engine's native layout is columnar files
registered in the Spark catalog, so every query gets vectorized parquet
scans, column pruning, and filter pushdown for free.  JDBC remains available
through :mod:`oltp_to_data_warehouse_pipeline_spark.sources.jdbc`.

LOCAL-FILESYSTEM ONLY: ``sf_dir`` must be a driver-local path — the
nanosecond-footer sniff (pyarrow) and the existence checks here read the
local filesystem by design, because this module fronts the driver-generated
test fixtures.  Production tables go through sources/ and streaming/, whose
path handling resolves via the Hadoop FileSystem API (fs.py) and works on
any scheme — EXCEPT the Python-executed WARC readers (sources/warc.py),
which run without a JVM gateway and therefore require POSIX-visible paths;
they fail fast on URI schemes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oltp_to_data_warehouse_pipeline_spark.util import ensure_ltz

# Tables the test harness provides (TESTDATA.md).  `documents`/`embeddings`
# feed the LLM-pipeline operators; the TPC-H-ish tables play the reference's
# star-schema roles (FIXTURES.md §A).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain parquet scan — pushdown/pruning apply.

    Nanosecond-precision parquet timestamps are not a legal Spark type;
    when the footer has one, the file is read with ``nanosAsLong`` (raw
    int64 nanos) and those columns are converted to microsecond
    timestamps — the same truncation every µs-native engine (DuckDB,
    Spark) applies.

    Microsecond parquet timestamps with ``isAdjustedToUTC=false`` are
    inferred by Spark as ``TIMESTAMP_NTZ`` — a type that breaks
    ``unix_micros``, ``withWatermark``, and interval arithmetic downstream.
    The session zone is pinned to UTC (session.py), so casting NTZ →
    ``TIMESTAMP`` preserves the instant exactly and matches how DuckDB
    reads the same file; normalizing here (the one table boundary) keeps
    every operator on a single timestamp type.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_columns(path)
    if ns_cols:
        # session-global, so set only when the footer needs it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        if isinstance(df.schema[c].dataType, T.LongType):
            # integer div (not `/`): int64 nanos overflow double's 53-bit mantissa
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = ensure_ltz(df, f.name)
    return df


def _nanos_columns(path: str) -> list[str]:
    """Column names stored as TIMESTAMP(NANOS) in the parquet footer."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        import pyarrow as pa

        return [f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]
    except Exception:
        return []


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every fixture table as a temp view so `spark.sql` works.

    Idempotent; cheap (view registration is metadata-only, no scan happens
    until a query runs).
    """
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
