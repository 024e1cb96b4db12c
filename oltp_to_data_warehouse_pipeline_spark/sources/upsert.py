"""Idempotent last-writer-wins upsert on plain parquet.

The reference upserts row-at-a-time with ``INSERT … ON CONFLICT DO UPDATE``
(`mongo_postgres_cdc.py:359-380`).  The Spark-native equivalent without an
ACID table format is *bucketed recompaction*:

- the table is laid out partitioned by ``__bucket = pmod(xxhash64(key), N)``;
- an incoming batch is deduped (LWW) and bucketed the same way;
- only the buckets present in the batch are read back
  (:func:`touched_partitions`), merged, and dynamically overwritten
  (:func:`overwrite_partitions`); the sketch stores and the incremental
  rollups share the two, each with its own merge in between.

Cost per batch ∝ (touched buckets) × (bucket size), not table size — the
property that makes this viable at 100 TB: with N≈8192 buckets a batch
touching 1% of keys rewrites ~1% of the table.  Exactly-once *effect* comes
from idempotence: re-applying a batch (at-least-once delivery, ST3) yields
the same table state because LWW dedup is applied across old+new rows with a
deterministic ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark import fs
from oltp_to_data_warehouse_pipeline_spark.operators import bounded
from oltp_to_data_warehouse_pipeline_spark.operators.dedup import lww_dedup

BUCKET_COL = "__bucket"
# A property of the stored table, not of a call: another count would hash
# a key into a new bucket while its old row stays, and it would read twice.
NUM_BUCKETS = 64


def _bucketed(df: DataFrame, key: str) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(NUM_BUCKETS)))


def touched_partitions(stored: DataFrame, fresh: DataFrame, part_col: str) -> DataFrame:
    """``stored``'s rows in the ``part_col`` partitions ``fresh`` touches.

    ``fresh``'s partition values, collected through
    :func:`operators.bounded.collect_bounded`, become a literal filter that
    the file scan prunes statically; a touched NULL partition is matched
    with ``isNull`` (``isin`` never matches NULL).  Past the bound they stay
    on the executors in a NULL-safe semi join, with no broadcast hint."""
    rows = bounded.collect_bounded(fresh.select(part_col).distinct())
    if rows is None:
        keys = fresh.select(F.col(part_col).alias("__touched")).distinct()
        return stored.join(keys, F.col(part_col).eqNullSafe(F.col("__touched")), "left_semi")
    values = [r[0] for r in rows]
    hit = F.col(part_col).isin([v for v in values if v is not None])
    if None in values:
        hit = hit | F.col(part_col).isNull()
    return stored.where(hit)


def overwrite_partitions(df: DataFrame, path: str, part_col: str) -> None:
    """Write ``df`` partitioned by ``part_col``, replacing only the
    partitions it holds rows for, on any session's overwrite conf."""
    (
        df.repartition(part_col)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def upsert_parquet(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str,
    order_cols: list[str],
) -> None:
    """LWW-upsert ``batch`` into the parquet table at ``path``.

    ``order_cols``: descending-priority recency columns (e.g. updated_at,
    kafka offset); rows still tied after those are broken by a hash of the
    FULL row content, so the winner is deterministic under repartitioning
    and replay (the idempotence guarantee needs this — a per-run arbitrary
    winner would make replays flip values).

    Delete events (CDC tombstones, e.g. a Debezium ``op='d'``): mark the
    batch row with a boolean column and filter at read time with
    ``read_upserted(..., delete_col=...)``.  Tombstones compete in LWW like
    any write and are RETAINED physically — that is what makes a stale
    replay of a pre-delete update a no-op (the tombstone still outranks it)
    instead of a resurrection.  A delete followed by a newer insert
    re-surfaces the key, because the insert outranks the tombstone.
    """

    def order_for(df: DataFrame) -> list:
        content = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
        return [F.col(c).desc() for c in order_cols] + [content.desc()]

    incoming = _bucketed(lww_dedup(batch, [key], order_for(batch)), key)

    # Hadoop-FS existence (not os.path): the table may live on s3a://hdfs://,
    # where a driver-local check would wrongly take the fresh-table branch
    # and overwrite the store.
    if not fs.has_data_files(spark, path):
        overwrite_partitions(incoming, path, BUCKET_COL)
        return

    existing = spark.read.option("mergeSchema", "true").parquet(path)
    relevant = touched_partitions(existing, incoming, BUCKET_COL)
    # schema evolution (B9 fixed): allowMissingColumns unions additively
    unioned = relevant.unionByName(incoming, allowMissingColumns=True)
    overwrite_partitions(lww_dedup(unioned, [key], order_for(unioned)), path, BUCKET_COL)


def scd2_upsert_parquet(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str,
    tracked: list[str],
    eff_col: str,
) -> None:
    """Maintain an SCD Type 2 dimension on bucketed parquet from CDC batches
    (the ``foreachBatch`` body for a versioned-dimension sink — the Type-2
    counterpart of :func:`upsert_parquet`'s Type-1 LWW).

    ``batch`` carries the dimension attribute schema plus ``eff_col`` (each
    change's event date).  Within a micro-batch only the LATEST change per
    key is applied (ordered by ``eff_col``, ties broken by full-row content
    hash) — sub-batch intermediate versions collapse, the same granularity
    trade every micro-batched CDC consumer makes.  Merge mechanics and
    economics are inherited from the bucketed layout: only buckets touched
    by the batch are read back, merged through
    :func:`~oltp_to_data_warehouse_pipeline_spark.operators.scd.scd2_apply`,
    and dynamically overwritten — cost ∝ touched buckets, never table size,
    and history rows stay co-bucketed with their key.

    Idempotent under replay (at-least-once → exactly-once effect): a
    re-delivered batch finds every change already current, the null-safe
    change detection reports no differences, and the merge is a no-op.
    """
    from oltp_to_data_warehouse_pipeline_spark.operators.scd import scd2_apply, scd2_init

    content = F.xxhash64(*[F.col(c) for c in sorted(batch.columns)])
    latest = lww_dedup(batch, [key], [F.col(eff_col).desc(), content.desc()])

    if not fs.has_data_files(spark, path):
        # first batch: every row is an insert, open from its own event date
        attrs = [c for c in latest.columns if c != eff_col]
        empty_dim = scd2_init(latest.select(*attrs).limit(0))
        first = scd2_apply(empty_dim, latest, key, tracked, eff_col=eff_col)
        overwrite_partitions(_bucketed(first, key), path, BUCKET_COL)
        return

    relevant = touched_partitions(
        spark.read.parquet(path), _bucketed(latest, key), BUCKET_COL
    ).drop(BUCKET_COL)
    merged = scd2_apply(relevant, latest, key, tracked, eff_col=eff_col)
    overwrite_partitions(_bucketed(merged, key), path, BUCKET_COL)


def read_scd2(spark: SparkSession, path: str, current_only: bool = False) -> DataFrame:
    """Read the versioned dimension (drops the physical bucket column).
    ``current_only`` gives the Type-1 view (open versions only)."""
    df = spark.read.parquet(path).drop(BUCKET_COL)
    return df.where(F.col("is_current") == 1) if current_only else df


def compact_tombstones(
    spark: SparkSession,
    path: str,
    delete_col: str,
    order_col: str,
    horizon,
) -> None:
    """Physically purge tombstones older than ``horizon`` (the replay
    horizon: once no producer can re-deliver a pre-delete write, the
    tombstone no longer protects anything and is pure dead weight).

    Rewrites every bucket that holds an expired tombstone — run this on the
    maintenance cadence, not per batch.
    """
    existing = spark.read.option("mergeSchema", "true").parquet(path)
    if delete_col not in existing.columns:
        return
    expired = F.coalesce(F.col(delete_col), F.lit(False)) & (F.col(order_col) <= F.lit(horizon))
    # one row per bucket holding an expired tombstone, ≤ NUM_BUCKETS rows:
    # does any of its rows survive the purge?
    hit = (
        existing.groupBy(BUCKET_COL)
        .agg(F.bool_or(expired).alias("hit"), F.bool_or(~expired).alias("keeps"))
        .where("hit")
        .collect()
    )
    if not hit:
        return
    if any(r["keeps"] for r in hit):
        kept = touched_partitions(existing, existing.where(expired), BUCKET_COL)
        overwrite_partitions(kept.where(~expired), path, BUCKET_COL)
    # dynamic overwrite only rewrites partitions it writes rows into; a
    # bucket whose every row expired produces no output rows, so its stale
    # files must be removed explicitly
    for r in hit:
        if not r["keeps"]:
            fs.delete(spark, fs.join(path, f"{BUCKET_COL}={r[BUCKET_COL]}"))


def read_upserted(spark: SparkSession, path: str, delete_col: str | None = None) -> DataFrame:
    """Read the logical table (drops the physical bucket column).

    ``mergeSchema`` makes additively-evolved columns visible even when older
    buckets were written before the column existed (B9 fixed).

    ``delete_col``: name of the tombstone flag; keys whose LWW winner is a
    delete are hidden from the logical view (their tombstones stay in the
    physical files so replays of older updates cannot resurrect them —
    compact them away only once the replay horizon has passed).
    """
    df = spark.read.option("mergeSchema", "true").parquet(path).drop(BUCKET_COL)
    if delete_col is not None and delete_col in df.columns:
        df = df.where(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
    return df
