"""Maintenance for ``batch_id=``-partitioned stores — compaction below the
replay horizon + takedown tombstones.

The dedup-on-ingest stores (streaming/dedup_ingest.py: corpus, index,
rejects) commit one ``batch_id=<epoch>/`` partition per micro-batch so a
replayed batch overwrites its own partition.  That layout is what makes
replay idempotent — and it is also the classic small-files generator: at
100 TB of continuous ingestion, a 10-second trigger writes ~3M partitions
a year, and scheduler cost becomes file count, not bytes.  Table formats
solve this with compaction below the replay horizon (Iceberg
``rewrite_data_files``, Delta OPTIMIZE); this module is that operation for
the engine's own layout, plus the takedown path a training-data corpus
legally needs (the "remove this document" request — filtered immediately,
physically excised at the next compaction).

Compaction contract (the part that must be right):

- ``compact(path, upto)`` folds every partition with ``batch_id < upto``
  into the single partition ``batch_id=<max folded id>``.  Any probe or
  read with ``before_batch_id >= upto`` sees BIT-IDENTICAL content before
  and after (the folded rows keep ids strictly below ``upto``, and the
  dest id is one of them), so the running stream — whose next epoch is
  ``>= upto`` by definition — never observes the rewrite.
- What is deliberately given up: a FRESH-CHECKPOINT replay of batches
  below ``upto`` can no longer reconstruct per-batch history (the probe
  for replayed batch ``j < upto`` would see the whole folded prefix).
  Compact only below the horizon you will never replay across — the same
  contract every table format attaches to compaction vs time travel.
- Crash safety is manifest-driven, mirroring sources/jdbc.py's staging
  discipline: the consolidated partition is fully written to a hidden
  ``.compact_tmp`` dir FIRST; only then is ``_compact_manifest.json``
  (the list of partitions to drop + the rename target) committed, and
  execution — drop, rename, clear manifest — is the same idempotent
  :func:`recover` that runs at the start of every compact, so a crash at
  ANY point either leaves the old state fully readable (manifest absent:
  stray tmp is discarded) or completes deterministically on the next
  maintenance call (manifest present: tmp is complete by construction).
  Readers are single-writer-contract, like every store in this engine.

Tombstones (takedown / right-to-be-forgotten):

- ``delete_docs(path, ids, id_col)`` appends ids to ``<path>/_tombstones``
  (hidden from the store's own parquet read).  ``read_batches`` /
  ``apply_tombstones`` anti-join them (the planner broadcasts the list
  while it is small, as takedown lists usually are), so filtering is
  immediate;
  ``compact`` excises the rows physically and, once no un-compacted
  partition remains, clears the tombstone list itself.
- Semantics are FORGET: after takedown the document neither appears in
  reads nor blocks near-dup admission of similar content (its band keys
  filter out of probes, and streaming/dedup_ingest re-admits its id).
  Blocklist semantics ("keep rejecting re-uploads of removed content")
  would require retaining the signature after the text is gone — exact
  verification becomes impossible, so that variant is deliberately not
  offered as a silent option.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark import fs

TOMBSTONE_DIR = "_tombstones"
MANIFEST = "_compact_manifest.json"
TMP_DIR = ".compact_tmp"


def batch_partitions(spark: SparkSession, path: str) -> list[int]:
    """Sorted batch ids present as ``batch_id=<n>`` partition dirs."""
    out = []
    for name in fs.list_names(spark, path):
        if name.startswith("batch_id="):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def delete_docs(spark: SparkSession, path: str, ids, id_col: str) -> bool:
    """Record takedown tombstones for ``ids``, stamped with the takedown
    horizon — the max batch id present right now.  A tombstone kills only
    rows in partitions AT OR BELOW its horizon, so the id itself is freed:
    a later batch can legitimately re-admit it without the old takedown
    silently filtering the new row (caught by
    test_takedown_filters_immediately_then_readmits_similar).  Repeated
    requests append; readers take the max horizon per id.

    Ids keep their Python type (int → bigint, str → string — the ingest
    path accepts string doc ids, so takedown must too) and must match the
    store's id column type for the anti-join to hit.  Tombstoning an
    EMPTY store (no partitions, no flat data) is a refused no-op
    (returns False): there is nothing the id could refer to — a mistyped
    path must not report a compliance-critical deletion as done — and
    stamping the open-ended flat-store horizon there would pin the id
    against every FUTURE batch forever (round-11 review).  Any
    interrupted compact is finished first, so the mid-recovery
    "partitions dropped, data in tmp" state can never masquerade as an
    empty store and swallow the request (second review).

    Returns True when tombstones were recorded."""
    ids = list(ids)
    if not ids:
        return False
    if not all(isinstance(i, type(ids[0])) for i in ids):
        raise ValueError("delete_docs: mixed id types in one request")
    id_type = "bigint" if isinstance(ids[0], int) else "string"
    recover(spark, path)
    parts = batch_partitions(spark, path)
    if parts:
        horizon = max(parts)
    elif fs.has_data_files(spark, path):
        horizon = 2**62  # flat (non-batch) store: cover everything
    else:
        return False  # empty store — nothing to take down
    spark.createDataFrame(
        [(i, horizon) for i in ids], f"{id_col} {id_type}, upto bigint"
    ).coalesce(1).write.mode("append").parquet(fs.join(path, TOMBSTONE_DIR))
    return True


def tombstones(spark: SparkSession, path: str, id_col: str) -> DataFrame | None:
    """``(id, upto)`` with the max horizon per id, or None when the store
    has none."""
    t = fs.join(path, TOMBSTONE_DIR)
    if not fs.has_data_files(spark, t):
        return None
    return (
        spark.read.parquet(t)
        .groupBy(id_col)
        .agg(F.max("upto").alias("upto"))
    )


def apply_tombstones(
    df: DataFrame, spark: SparkSession, path: str, id_col: str
) -> DataFrame:
    """Anti-join the store's tombstones (no-op without any).  The join
    strategy is the planner's: a takedown list is request-scale, so it
    broadcasts by size, but nothing forces it.
    When ``df`` carries ``batch_id``, only rows at or below each
    tombstone's horizon are filtered; a flat frame (no batch_id) is
    treated as fully covered."""
    t = tombstones(spark, path, id_col)
    if t is None:
        return df
    t = t.withColumnRenamed(id_col, "__tomb_id")
    cond = df[id_col] == t["__tomb_id"]
    if "batch_id" in df.columns:
        cond = cond & (df["batch_id"] <= t["upto"])
    return df.join(t, cond, "left_anti")


def check_no_pending_compact(spark: SparkSession, path: str) -> None:
    """Readers must not see the mid-recovery state of a crashed compact
    (partitions dropped, data still in the hidden tmp dir) — they would
    silently read a partial store.  Readers also must not mutate
    (single-writer contract, and they may lack write permission), so this
    raises instead of recovering; any maintenance/writer entry point
    (compact, delete_docs, the ingest sink) finishes the recovery."""
    if fs.exists(spark, fs.join(path, MANIFEST)):
        raise RuntimeError(
            f"store at {path} has an unfinished compact (manifest present) "
            "— run operators.batchstore.recover() from the writer before "
            "reading"
        )


def read_batches(
    spark: SparkSession,
    path: str,
    id_col: str | None = None,
    before_batch_id: int | None = None,
) -> DataFrame:
    """Tombstone-aware reader for a batch-layout store.  ``before_batch_id``
    prunes statically on the partition column; ``id_col`` arms the
    tombstone filter (skip it for stores without a document identity,
    e.g. the reject audit log).  Refuses a store left mid-recovery by a
    crashed compact (see :func:`check_no_pending_compact`)."""
    check_no_pending_compact(spark, path)
    df = spark.read.parquet(path)
    if before_batch_id is not None:
        df = df.where(F.col("batch_id") < F.lit(before_batch_id))
    if id_col is not None:
        df = apply_tombstones(df, spark, path, id_col)
    return df


def recover(spark: SparkSession, path: str) -> bool:
    """Finish an interrupted :func:`compact` — idempotent, called at the
    start of every compact and safe to call any time.  Returns True when
    there was committed work to finish.  Manifest absent + stray tmp means
    the crash happened BEFORE commit: the old state is authoritative and
    the tmp is discarded."""
    man_p = fs.join(path, MANIFEST)
    tmp_p = fs.join(path, TMP_DIR)
    if not fs.exists(spark, man_p):
        if fs.exists(spark, tmp_p):
            fs.delete(spark, tmp_p)
        return False
    man = json.loads(fs.read_text(spark, man_p))
    tmp_present = fs.exists(spark, tmp_p)
    for name in man["drop"]:
        # the dest name is in the drop list (its OLD partition must go
        # before the rename) — but once the tmp dir is gone the rename
        # already happened and the dest IS the consolidated data: deleting
        # it here would destroy the only copy of the folded prefix (a
        # crash in the rename->manifest-delete window, round-11 review)
        if name == man["dest"] and not tmp_present:
            continue
        fs.delete(spark, fs.join(path, name))
    if tmp_present:
        if not fs.rename(spark, tmp_p, fs.join(path, man["dest"])):
            raise IOError(
                f"compact recovery: rename {TMP_DIR} -> {man['dest']} "
                f"refused under {path} (dest exists but was listed in "
                "drop?) — manual inspection required"
            )
    fs.delete(spark, man_p)
    return True


def _partition_bytes(spark: SparkSession, path: str, parts: list[int]) -> int:
    total = 0
    want = {f"batch_id={i}" for i in parts}
    for line in fs.data_file_inventory(spark, path).splitlines():
        rel, _, size = line.rpartition(":")
        if rel.split("/", 1)[0] in want:
            total += int(size)
    return total


def compact(
    spark: SparkSession,
    path: str,
    upto_batch_id: int,
    id_col: str | None = None,
    target_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Fold partitions ``batch_id < upto_batch_id`` into one (sized to
    ``ceil(bytes / target_bytes)`` files), applying and — when the whole
    store is covered — clearing tombstones.  See the module docstring for
    the horizon contract and crash protocol.  Returns a stats dict."""
    recover(spark, path)
    all_parts = batch_partitions(spark, path)
    parts = [i for i in all_parts if i < upto_batch_id]
    if id_col is None and fs.has_data_files(spark, fs.join(path, TOMBSTONE_DIR)):
        # folding without applying tombstones would relabel covered rows to
        # dest = max(parts), which can exceed the tombstone horizon and
        # RESURRECT taken-down documents on the read side (round-11 review)
        raise ValueError(
            f"compact: store at {path} holds tombstones but no id_col was "
            "given — pass the store's id column so the fold applies them"
        )
    tomb = tombstones(spark, path, id_col) if id_col is not None else None
    if not parts or (len(parts) < 2 and tomb is None):
        return {"folded": 0, "dest": None, "files": 0, "tombstones_cleared": False}
    dest_id = max(parts)

    rows = spark.read.parquet(path).where(
        F.col("batch_id") < F.lit(upto_batch_id)
    )
    if id_col is not None:
        # horizon filter needs batch_id — apply BEFORE dropping it
        rows = apply_tombstones(rows, spark, path, id_col)
    rows = rows.drop("batch_id")
    n_files = max(1, math.ceil(_partition_bytes(spark, path, parts) / target_bytes))
    tmp_p = fs.join(path, TMP_DIR)
    rows.coalesce(n_files).write.mode("overwrite").parquet(tmp_p)

    # a tombstone is fully served once every partition at or below its
    # horizon has been folded (its dead rows are physically gone); keep the
    # list while any tombstone still covers an un-folded partition
    clear_tomb = (
        tomb is not None
        and tomb.agg(F.max("upto")).collect()[0][0] < upto_batch_id
    )
    drop = [f"batch_id={i}" for i in parts]
    if clear_tomb:
        drop.append(TOMBSTONE_DIR)
    fs.write_text(
        spark,
        fs.join(path, MANIFEST),
        json.dumps({"upto": upto_batch_id, "dest": f"batch_id={dest_id}", "drop": drop}),
    )
    recover(spark, path)
    return {
        "folded": len(parts),
        "dest": dest_id,
        "files": n_files,
        "tombstones_cleared": clear_tomb,
    }
