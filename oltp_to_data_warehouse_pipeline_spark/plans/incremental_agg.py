"""Incremental aggregate maintenance: materialized rollups refreshed from
watermark deltas instead of full recompute.

The reference rebuilds its warehouse aggregates from scratch on every run
(`DB.sql:109-124` re-reads the whole fact table).  At 100 TB that is a full
table scan per refresh; the scalable contract is:

    rollup(all data) == merge(rollup(old data), partial(delta))

which holds for the *mergeable* aggregate algebra — SUM and COUNT merge by
summing, MIN/MAX by min/max, and AVG is re-derived at read time from its
SUM+COUNT pair.  Exact distinct counts are NOT mergeable, but their sketch
is: ``distinct_sketches`` columns carry a Datasketches HLL binary per group
(`hll_sketch_agg`), merge by union (`hll_union_agg`), and estimate at read
time — incremental "distinct users per day" over 100 TB without ever
re-shuffling history.  (Exact medians likewise need a one-shot recompute or
a quantile sketch; see `approx_percentile_orders`.)

Refresh cost ∝ delta size + touched partitions, not table size: the stored
rollup is partitioned on a group key (e.g. month), only partitions present
in the delta are read back, merged, and dynamically overwritten.

Exactly-once effect under at-least-once delivery: every merge carries a
``batch_id``; applied ids are recorded as marker files and replayed batches
become no-ops (the same guard pattern as a Delta MERGE's txn version —
without it, merging a replayed delta would double-count).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark import fs
from oltp_to_data_warehouse_pipeline_spark.sources.upsert import (
    overwrite_partitions,
    touched_partitions,
)

_BATCH_DIR = "_applied_batches"


@dataclass(frozen=True)
class RollupSpec:
    """Mergeable-aggregate spec: output column -> source column."""

    keys: tuple[str, ...]
    sums: dict[str, str] = field(default_factory=dict)
    mins: dict[str, str] = field(default_factory=dict)
    maxs: dict[str, str] = field(default_factory=dict)
    count_col: str | None = "n_rows"
    # out-col -> source col: mergeable distinct-count sketches (HLL binary)
    distinct_sketches: dict[str, str] = field(default_factory=dict)

    def partial(self, df: DataFrame) -> DataFrame:
        """Per-group partial aggregates of one delta (or of the full data —
        the same expression builds the from-scratch oracle)."""
        aggs = [F.sum(src).alias(out) for out, src in self.sums.items()]
        aggs += [F.min(src).alias(out) for out, src in self.mins.items()]
        aggs += [F.max(src).alias(out) for out, src in self.maxs.items()]
        aggs += [
            F.hll_sketch_agg(src).alias(out)
            for out, src in self.distinct_sketches.items()
        ]
        if self.count_col:
            aggs.append(F.count(F.lit(1)).alias(self.count_col))
        return df.groupBy(*self.keys).agg(*aggs)

    def at_grain(self, keys: tuple[str, ...]) -> "RollupSpec":
        """The same measures re-keyed to a coarser grain (for re-merging a
        stored rollup); source columns are irrelevant post-partial."""
        return RollupSpec(
            keys=tuple(keys),
            sums=dict.fromkeys(self.sums, ""),
            mins=dict.fromkeys(self.mins, ""),
            maxs=dict.fromkeys(self.maxs, ""),
            count_col=self.count_col,
            distinct_sketches=dict.fromkeys(self.distinct_sketches, ""),
        )

    def merge(self, stacked: DataFrame) -> DataFrame:
        """Re-combine stacked partials (old rollup rows + delta partials)."""
        aggs = [F.sum(out).alias(out) for out in self.sums]
        aggs += [F.min(out).alias(out) for out in self.mins]
        aggs += [F.max(out).alias(out) for out in self.maxs]
        aggs += [F.hll_union_agg(out).alias(out) for out in self.distinct_sketches]
        if self.count_col:
            aggs.append(F.sum(self.count_col).alias(self.count_col))
        return stacked.groupBy(*self.keys).agg(*aggs)


# Journal primitives resolve through the Hadoop FileSystem API (fs.py), not
# driver-local os.path — on s3a://hdfs:// paths os.* would answer "absent"
# for every marker and silently disable the exactly-once guard (round-2
# advisor finding).


def _applied(spark: SparkSession, path: str, batch_id: str) -> bool:
    return fs.exists(spark, fs.join(path, _BATCH_DIR, batch_id))


def _begin_path(path: str, batch_id: str) -> str:
    return fs.join(path, _BATCH_DIR, batch_id + ".begin")


def _data_inventory(spark: SparkSession, path: str) -> str:
    """Fingerprint of the rollup's committed data files (relative path +
    size, sorted) — cheap (directory metadata only) and enough to tell "the
    previous attempt committed nothing" from "data may have landed"."""
    return fs.data_file_inventory(spark, path)


def _mark_begin(spark: SparkSession, path: str, batch_id: str, phase: str) -> None:
    fs.mkdirs(spark, fs.join(path, _BATCH_DIR))
    fs.write_text(
        spark, _begin_path(path, batch_id), phase + "\n" + _data_inventory(spark, path)
    )


def _read_begin(spark: SparkSession, path: str, batch_id: str) -> tuple[str, str] | None:
    """(phase, inventory-at-begin) of an uncommitted attempt, else None."""
    p = _begin_path(path, batch_id)
    if not fs.exists(spark, p) or _applied(spark, path, batch_id):
        return None
    content = fs.read_text(spark, p)
    phase, _, inv = content.partition("\n")
    return phase, inv


def _mark_applied(spark: SparkSession, path: str, batch_id: str) -> None:
    fs.mkdirs(spark, fs.join(path, _BATCH_DIR))
    fs.touch(spark, fs.join(path, _BATCH_DIR, batch_id))
    begin = _begin_path(path, batch_id)
    if fs.exists(spark, begin):
        fs.delete(spark, begin, recursive=False)


def refresh_rollup(
    spark: SparkSession,
    delta: DataFrame,
    path: str,
    spec: RollupSpec,
    batch_id: str,
    partition_key: str | None = None,
) -> None:
    """Merge one delta into the stored rollup at ``path``.

    ``partition_key``: a member of ``spec.keys`` to partition the stored
    rollup by (typically the time bucket).  Only partitions the delta
    touches are read+rewritten; at 100 TB a daily delta touches one or two
    month-partitions of the rollup regardless of history depth.
    """
    if partition_key is not None and partition_key not in spec.keys:
        raise ValueError(f"partition_key {partition_key!r} must be one of spec.keys")
    if _applied(spark, path, batch_id):
        return  # replayed batch: no-op (exactly-once effect)

    begin = _read_begin(spark, path, batch_id)
    partials = spec.partial(delta)

    exists = fs.has_data_files(spark, path)
    # An uncommitted previous attempt: decide whether replaying is safe.
    #  - init phase: the initial overwrite is idempotent — just redo it
    #    (without the phase record, a crash after the init write but before
    #    its commit marker would leave data on disk and send the replay
    #    down the MERGE path, double-counting the batch).
    #  - merge phase, data inventory unchanged since begin: the failed
    #    write committed nothing (Spark's job abort cleans its staging) —
    #    retrying the merge is safe; transient failures self-heal.
    #  - merge phase, inventory changed: the merge may have (partially)
    #    committed; merging again would double-count.  Fail LOUDLY: the
    #    operator restores the rollup, removes the .begin marker, replays.
    if begin is not None:
        phase, inv_at_begin = begin
        if phase == "merge" and _data_inventory(spark, path) != inv_at_begin:
            raise RuntimeError(
                f"rollup at {path!r}: batch {batch_id!r} was interrupted between "
                "merge and commit AND the data files changed since the attempt "
                "began; state may already include this delta. Rebuild/restore "
                "the rollup, remove the .begin marker, then replay."
            )
        if phase == "init":
            exists = False  # redo the idempotent initial overwrite

    def write(df: DataFrame) -> None:
        if partition_key:
            overwrite_partitions(df, path, partition_key)
        else:
            df.write.mode("overwrite").parquet(path)

    if not exists:
        _mark_begin(spark, path, batch_id, "init")
        write(partials)
        _mark_applied(spark, path, batch_id)
        return

    # merging is NOT idempotent — journal the attempt (phase + current file
    # inventory) so replays can tell clean-abort from possibly-landed
    _mark_begin(spark, path, batch_id, "merge")
    stored = spark.read.parquet(path)
    if partition_key:
        # only the partitions the delta touches, NULL included (round-10
        # review: else the overwrite resets that partition to the batch)
        stored = touched_partitions(stored, partials, partition_key)
    write(spec.merge(stored.unionByName(partials)))
    _mark_applied(spark, path, batch_id)


def read_rollup(
    spark: SparkSession,
    path: str,
    avgs: dict[str, tuple[str, str]] | None = None,
    distinct_estimates: list[str] | None = None,
) -> DataFrame:
    """Read the rollup; ``avgs`` derives averages from (sum_col, count_col)
    pairs and ``distinct_estimates`` turns stored HLL sketch columns into
    counts — the read-time half of the mergeable decompositions."""
    df = spark.read.parquet(path)
    for out, (sum_col, cnt_col) in (avgs or {}).items():
        df = df.withColumn(out, F.col(sum_col) / F.col(cnt_col))
    for col in distinct_estimates or []:
        df = df.withColumn(col, F.hll_sketch_estimate(col))
    return df


def route_aggregate(
    spark: SparkSession,
    path: str,
    spec: RollupSpec,
    group_keys: list[str],
    avgs: dict[str, tuple[str, str]] | None = None,
    distinct_estimates: list[str] | None = None,
) -> DataFrame:
    """Aggregate navigation: answer a coarser-grain aggregate FROM the
    stored rollup instead of the base table.

    Any grouping over a subset of ``spec.keys`` is derivable by re-merging
    the rollup with the same mergeable algebra (sums re-sum, mins re-min,
    HLL sketches re-union) — the classic materialized-view rewrite, done
    explicitly because plain Spark has no aggregate navigator.  Cost is a
    scan of the rollup (∝ distinct key combinations, usually orders of
    magnitude under the base table) + one tiny shuffle; a BI layer pointing
    dashboards here never touches the 100 TB fact table for covered
    queries.  Raises KeyError when the requested grain is NOT covered, so
    a caller can fall back to the base-table plan explicitly.

    ``avgs`` / ``distinct_estimates`` resolve read-time derivations after
    the re-merge (AVG from its sum+count pair, counts from sketches).
    """
    not_covered = [k for k in group_keys if k not in spec.keys]
    if not_covered:
        raise KeyError(
            f"rollup keyed on {spec.keys} cannot answer grouping {group_keys}: "
            f"{not_covered} not covered — compute from the base table"
        )
    out = spec.at_grain(tuple(group_keys)).merge(spark.read.parquet(path))
    for col, (sum_col, cnt_col) in (avgs or {}).items():
        out = out.withColumn(col, F.col(sum_col) / F.col(cnt_col))
    for col in distinct_estimates or []:
        out = out.withColumn(col, F.hll_sketch_estimate(col))
    return out
