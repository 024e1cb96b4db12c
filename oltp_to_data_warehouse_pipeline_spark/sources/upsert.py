"""Idempotent last-writer-wins upsert on plain parquet, merge-on-read.

The reference upserts row-at-a-time with ``INSERT … ON CONFLICT DO UPDATE``
(`mongo_postgres_cdc.py:359-380`), so its write cost follows the changed
rows.  The Spark-native equivalent without an ACID table format is the
merge-on-read layout of Hudi (https://hudi.apache.org/docs/table_types):

- the **base** is partitioned by ``__bucket = pmod(xxhash64(key), N)``;
- each later batch is LWW-deduped and appended as one **delta**,
  ``_deltas/__delta=<n>``, without reading the base, so a write costs the
  batch, not the buckets it touches (500 random keys touch all 64);
- a **read** resolves LWW over base ∪ deltas;
- a **fold**, run by the write whose delta makes the count reach
  :data:`FOLD_AT`, merges the deltas into the base buckets they touch
  (:func:`touched_partitions`, then :func:`overwrite_partitions`) and
  deletes them.  The sketch stores and the incremental rollups share those
  two helpers, each with its own merge in between.

Write, fold and read order rows the same way (:func:`_order_for`):
``order_cols`` descending, then a full-row content hash.  That order is
total, so LWW picks the same winner per key whether it runs batch by
batch, at a fold or at a read.  Exactly-once *effect* comes from that
idempotence: re-applying a batch (at-least-once delivery, ST3) yields the
same logical table.  The fold needs no manifest for the same reason: a
crash between its overwrite and its delta deletes leaves deltas that the
new base already holds, which read the same and fold again to the same
state.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark import fs
from oltp_to_data_warehouse_pipeline_spark.operators import bounded
from oltp_to_data_warehouse_pipeline_spark.operators.dedup import lww_dedup

BUCKET_COL = "__bucket"
# A property of the stored table, not of a call: another count would hash
# a key into a new bucket while its old row stays, and it would read twice.
NUM_BUCKETS = 64
DELTA_COL = "__delta"
# Deltas a table holds before the write that adds the last one folds them
# into the base: the bound on the extra LWW work every read pays.  Chosen
# from a measured sweep of 4, 8 and 16 (CHANGES.md).
FOLD_AT = 8


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


def _order_for(df: DataFrame, order_cols: list[str]) -> list:
    """The LWW order: ``order_cols`` descending, then the full-row content
    hash.  The hash leaves out the bucket column, and ``xxhash64`` skips
    NULL inputs, so a column added after a row was written does not change
    that row's hash."""
    content = F.xxhash64(*[F.col(c) for c in sorted(df.columns) if c != BUCKET_COL])
    return [F.col(c).desc() for c in order_cols] + [content.desc()]


def _lww(df: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    return lww_dedup(df, [key], _order_for(df, order_cols))


def _deltas_dir(path: str) -> str:
    # "_"-prefixed: hidden from spark.read.parquet(path) and fs.has_data_files
    return fs.join(path, "_deltas")


def _delta_path(path: str, n: int) -> str:
    return fs.join(_deltas_dir(path), f"{DELTA_COL}={n}")


def _delta_ids(spark: SparkSession, path: str) -> list[int]:
    prefix = DELTA_COL + "="
    return sorted(
        int(n[len(prefix):]) for n in fs.list_names(spark, _deltas_dir(path)) if n.startswith(prefix)
    )


def _read_deltas(spark: SparkSession, path: str, ids: list[int]) -> DataFrame:
    return (
        spark.read.option("basePath", _deltas_dir(path))
        .option("mergeSchema", "true")
        .parquet(*[_delta_path(path, i) for i in ids])
        .drop(DELTA_COL)
    )


def _meta_path(path: str) -> str:
    return fs.join(path, "_upsert.json")


def _write_meta(spark: SparkSession, path: str, key: str, order_cols: list[str]) -> None:
    # written aside and renamed in: fs.write_text is not atomic, and a
    # truncated file would fail every later write and read of the table
    tmp = _meta_path(path) + ".tmp"
    fs.write_text(spark, tmp, json.dumps({"key": key, "order_cols": list(order_cols)}))
    fs.delete(spark, _meta_path(path))
    fs.rename(spark, tmp, _meta_path(path))


def _read_meta(spark: SparkSession, path: str) -> tuple[str, list[str]]:
    meta = json.loads(fs.read_text(spark, _meta_path(path)))
    return meta["key"], meta["order_cols"]


def _fold(spark: SparkSession, path: str) -> None:
    """Merge every delta into the base buckets it touches, then delete
    exactly the deltas merged.  Idempotent, so a crash at any point leaves
    a table that reads the same and folds again to the same state."""
    ids = _delta_ids(spark, path)
    if not ids:
        return
    key, order_cols = _read_meta(spark, path)
    deltas = _bucketed(_read_deltas(spark, path, ids), key)
    base = spark.read.option("mergeSchema", "true").parquet(path)
    # schema evolution (B9 fixed): allowMissingColumns unions additively
    merged = touched_partitions(base, deltas, BUCKET_COL).unionByName(deltas, allowMissingColumns=True)
    overwrite_partitions(_lww(merged, key, order_cols), path, BUCKET_COL)
    for i in ids:
        fs.delete(spark, _delta_path(path, i))


def upsert_parquet(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str,
    order_cols: list[str],
) -> None:
    """LWW-upsert ``batch`` into the parquet table at ``path``.

    The first write lays out the bucketed base and records ``key`` and
    ``order_cols`` in ``path/_upsert.json``.  Every later write LWW-dedups
    the batch and appends it as the next delta (one file) without reading
    the base; a call with another key or order columns raises
    ``ValueError``.  The write whose delta makes the count reach
    :data:`FOLD_AT` then folds the deltas into the base.

    ``order_cols``: descending-priority recency columns (e.g. updated_at,
    kafka offset); rows still tied after those are broken by a hash of the
    FULL row content, so the winner is deterministic under repartitioning
    and replay (the idempotence guarantee needs this — a per-run arbitrary
    winner would make replays flip values).  A replayed batch appends one
    more delta, which reads the same as the first.

    Delete events (CDC tombstones, e.g. a Debezium ``op='d'``): mark the
    batch row with a boolean column and filter at read time with
    ``read_upserted(..., delete_col=...)``.  Tombstones compete in LWW like
    any write and are RETAINED physically — that is what makes a stale
    replay of a pre-delete update a no-op (the tombstone still outranks it)
    instead of a resurrection.  A delete followed by a newer insert
    re-surfaces the key, because the insert outranks the tombstone.
    """
    # Hadoop-FS existence (not os.path): the table may live on s3a://hdfs://,
    # where a driver-local check would wrongly take the fresh-table branch
    # and overwrite the store.
    if not fs.has_data_files(spark, path):
        overwrite_partitions(_bucketed(_lww(batch, key, order_cols), key), path, BUCKET_COL)
        _write_meta(spark, path, key, order_cols)
        return

    stored = _read_meta(spark, path) if fs.exists(spark, _meta_path(path)) else None
    if stored is None:  # a base written before the deltas existed
        _write_meta(spark, path, key, order_cols)
    elif stored != (key, list(order_cols)):
        raise ValueError(
            f"upsert table at {path} was written with key and order columns {stored}; "
            f"refusing a batch with {(key, list(order_cols))} — LWW over the base "
            "and its deltas would mix two orders"
        )
    ids = _delta_ids(spark, path)
    # one file per delta: a micro-batch is bounded by maxOffsetsPerTrigger
    _lww(batch, key, order_cols).coalesce(1).write.parquet(_delta_path(path, max(ids, default=-1) + 1))
    if len(ids) + 1 >= FOLD_AT:
        _fold(spark, path)


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

    Folds the deltas first, so every tombstone sits in the base, then
    rewrites every bucket that holds an expired one — run this on the
    maintenance cadence, not per batch.
    """
    _fold(spark, path)
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

    With no deltas this is a plain read of the base.  With deltas it reads
    base ∪ deltas and keeps each key's LWW winner, in the order the writes
    and the fold use, so it equals the table a fold would leave.

    ``mergeSchema`` and the additive union make evolved columns visible even
    when older buckets or deltas were written before the column existed
    (B9 fixed).

    ``delete_col``: name of the tombstone flag; keys whose LWW winner is a
    delete are hidden from the logical view (their tombstones stay in the
    physical files so replays of older updates cannot resurrect them —
    compact them away only once the replay horizon has passed).
    """
    df = spark.read.option("mergeSchema", "true").parquet(path).drop(BUCKET_COL)
    ids = _delta_ids(spark, path)
    if ids:
        key, order_cols = _read_meta(spark, path)
        df = _lww(df.unionByName(_read_deltas(spark, path, ids), allowMissingColumns=True), key, order_cols)
    if delete_col is not None and delete_col in df.columns:
        df = df.where(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
    return df
