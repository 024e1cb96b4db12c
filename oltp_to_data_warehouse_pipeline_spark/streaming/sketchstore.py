"""Streaming KMV sketch-store maintenance: the "stored day sketches" the
batch rollups serve from, kept current by the stream itself.

`kmv_rolling_7d_users`'s 100 TB story is that arbitrary date-window
distinct counts are served by MERGING stored per-day sketches (k rows per
day) instead of re-shuffling raw events per window.  This module maintains
that store incrementally: each micro-batch is sketched per day
(:func:`operators.kmv.kmv_sketch` — O(k) rows per day on the exchange),
merged with the stored sketches of exactly the days the batch touched, and
the affected day PARTITIONS are overwritten in place (the upsert sink's
touched-partition read and dynamic overwrite — untouched days are neither
read nor rewritten, so per-batch IO is O(days-in-batch × k)).

Replay safety comes from the merge itself: re-sketching a union that
already contains a batch's hashes returns the identical k-minimum set, so
a re-delivered micro-batch overwrites a day partition with the SAME rows —
idempotence without a batch-id ledger, the same argument as
streaming/corpus.py's dedup-predicate guard (and unlike matview.
maintain_rollup, whose SUM merge needs a journal: minima are idempotent,
sums are not).

At-least-once contract (ST3, the reference consumer's replay semantics —
mongo_postgres_cdc.py:429-456): a crash between the partition overwrite
and the checkpoint commit re-delivers the batch; the merge converges to
the same store, verified by the from-scratch-replay test.

Serving: :func:`window_estimate` answers "distinct keys in [start, end]"
from the store alone — a ≤ k·days-row scan with day-partition pruning,
never the raw events.

The second half of the module is the QUANTILE sibling: per-day bottom-k
row samples (:mod:`operators.qsketch`) maintained by the same
merge-overwrite loop, with one extra (d, h, v) dedup that extends the
ledger-free replay argument from hash SETS to row SAMPLES;
:func:`window_quantiles` serves arbitrary-window order statistics from
the store alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from oltp_to_data_warehouse_pipeline_spark import fs
from oltp_to_data_warehouse_pipeline_spark.operators import kmv
from oltp_to_data_warehouse_pipeline_spark.sources.upsert import (
    overwrite_partitions,
    touched_partitions,
)
from oltp_to_data_warehouse_pipeline_spark.streaming.multisink import fanout_sink
from oltp_to_data_warehouse_pipeline_spark.util import release_checkpoint


#: Hidden sidecar file recording the store's maintenance ``k``.  Serving
#: with a larger k than the store was maintained with silently breaks
#: sketch validity (day sketches were already truncated at the smaller k,
#: so the merged sample is no longer a uniform bottom-k of the raw union —
#: round-8 advisor finding); the marker makes the contract checkable.
_K_MARKER = "_sketch_k"


def _persist_k(spark: SparkSession, store_path: str, k: int) -> None:
    """Record (first batch) or assert (later batches) the store's k.

    A PRE-EXISTING store with data but no marker (maintained before the
    marker existed) must NOT be stamped with whatever k the current job
    happens to carry — that would certify exactly the mixed-k store the
    marker exists to refuse (round-9 review finding: a misconfigured
    k=128 job would bless a k=64 legacy store).  The operator migrates
    explicitly by writing the store's TRUE historical k to the marker
    file once.
    """
    path = fs.join(store_path, _K_MARKER)
    if fs.exists(spark, path):
        stored = int(fs.read_text(spark, path).strip())
        if stored != k:
            raise ValueError(
                f"sketch store at {store_path} was maintained with k={stored}; "
                f"refusing to merge a batch sketched at k={k} — mixed-k day "
                "partitions would silently degrade estimate validity"
            )
    elif fs.has_data_files(spark, store_path):
        raise ValueError(
            f"sketch store at {store_path} predates the k marker: refusing "
            f"to stamp k={k} onto existing day partitions whose historical "
            f"k is unknown.  Migrate explicitly by writing the store's "
            f"original k to {path!r} (fs.write_text), then resume."
        )
    else:
        fs.write_text(spark, path, str(k))


def _stored_k(spark: SparkSession, store_path: str) -> int | None:
    path = fs.join(store_path, _K_MARKER)
    if not fs.exists(spark, path):
        return None  # pre-marker store — legacy, serve unchecked
    return int(fs.read_text(spark, path).strip())


def _check_serving_k(spark: SparkSession, store_path: str, k: int) -> None:
    stored = _stored_k(spark, store_path)
    if stored is not None and k > stored:
        raise ValueError(
            f"serving k={k} exceeds the store's maintenance k={stored} at "
            f"{store_path}: stored day sketches were truncated at "
            f"{stored}, so a merged bottom-{k} would no longer be a "
            "uniform bottom-k of the raw union (estimates would degrade "
            "silently).  Serve with k <= the maintenance k."
        )


def _merge_day_partitions(
    batch: DataFrame,
    store_path: str,
    ts_col: str,
    build_fn,
    merge_fn,
    data_cols: list[str],
    dedup: bool,
) -> None:
    """The shared merge-overwrite loop both stores run (review finding:
    was duplicated per store): day-derive → sketch the batch per day
    (``build_fn``) → union with the stored rows of exactly the touched
    days → optional replay dedup → re-merge (``merge_fn``) → dynamic
    partition overwrite of the touched days only.

    The merged relation is ≤ k rows per touched day (sketch-sized), and
    the store read is :func:`sources.upsert.touched_partitions`: the
    batch's days become a literal filter on the ``d`` partition column,
    so the scan lists and reads the touched days' files only."""
    spark = batch.sparkSession
    # Rows with a NULL/uncastable timestamp have no day — they cannot live
    # in a day-partitioned store, so they are excluded explicitly.
    days = batch.withColumn("d", F.col(ts_col).cast("date")).where(
        F.col("d").isNotNull()
    )
    # Pin the sketch: it feeds BOTH the touched-day collect and the
    # merge union, and Spark would otherwise run the whole sketch build
    # twice per micro-batch.  Sketch-sized (≤ k rows per day in the
    # batch), so always safe.  build_fn must pass pin=False to its
    # sketch builder: the builder's INNER localCheckpoints have no
    # release handle here, so a long-running stream would accumulate
    # their blocks for its whole life (review finding) — this outer
    # checkpoint pins the result once, and re-deriving the builder's
    # bounded intermediates during that one materialization is
    # micro-batch-sized work.
    pinned = build_fn(days).localCheckpoint(eager=True)
    try:
        fresh = pinned
        if fs.has_data_files(spark, store_path):
            stored = touched_partitions(
                spark.read.parquet(store_path), fresh, "d"
            ).select("d", *data_cols)
            unioned = fresh.unionByName(stored)
            if dedup:
                unioned = unioned.dropDuplicates(["d", *data_cols])
            fresh = merge_fn(unioned)
        overwrite_partitions(fresh.select(*data_cols, "d"), store_path, "d")
    finally:
        # A long-running stream calls this every micro-batch: drop the
        # checkpoint blocks NOW, or they accumulate for the stream's life.
        release_checkpoint(pinned)


def merge_batch_into_store(
    batch: DataFrame,
    store_path: str,
    key_col: str,
    ts_col: str,
    k: int,
) -> None:
    """One micro-batch step: sketch the batch per day, merge with the
    stored sketches of the SAME days, overwrite those day partitions
    (:func:`_merge_day_partitions`).  No replay dedup is needed: KMV
    merge dedups distinct hashes internally — a re-delivered batch is a
    set union with itself."""
    _persist_k(batch.sparkSession, store_path, k)
    _merge_day_partitions(
        batch,
        store_path,
        ts_col,
        lambda days: kmv.kmv_sketch(
            days, key_col, ["d"], k=k, prefilter=True, pin=False
        ),
        lambda u: kmv.kmv_merge(u, ["d"], k=k),
        ["h"],
        dedup=False,
    )


def maintain_kmv_store(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    k: int = 64,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Attach the sketch-store maintainer to an event stream."""

    def fold(batch: DataFrame, epoch_id: int) -> None:
        merge_batch_into_store(batch, store_path, key_col, ts_col, k)

    return fanout_sink(stream, [fold], checkpoint, "kmv-sketch-store", trigger)


def window_estimate(
    spark: SparkSession,
    store_path: str,
    start: str,
    end: str,
    k: int = 64,
) -> DataFrame:
    """One row ``(est_distinct)``: distinct keys over [start, end], served
    ENTIRELY from stored day sketches — k rows per day in, one merged
    sketch out, raw data never touched.  The date filter prunes store
    partitions before any read.  ALWAYS one row: an absent store or a
    range covering no stored days answers 0, not an empty relation (the
    contract a dashboard caller indexes into).  Serving ``k`` must not
    exceed the store's maintenance k (:func:`_check_serving_k` raises —
    the stored day sketches were truncated there); a SMALLER serving k is
    always valid (re-truncating a bottom-k is still a bottom-k)."""
    zero = spark.createDataFrame([(0,)], "est_distinct bigint")
    if not fs.has_data_files(spark, store_path):
        return zero
    _check_serving_k(spark, store_path, k)
    sk = (
        spark.read.parquet(store_path)
        .where((F.col("d") >= F.lit(start)) & (F.col("d") <= F.lit(end)))
        .select(F.lit(1).alias("g"), F.col("h"))
    )
    merged = kmv.kmv_merge(sk.select("g", "h"), ["g"], k=k)
    est = kmv.kmv_estimate(merged, ["g"], k=k).select("est_distinct")
    # empty range -> the groupBy emits no row; union with the zero row and
    # keep the max so the caller always gets exactly one row
    return est.unionByName(zero).agg(
        F.max("est_distinct").cast("bigint").alias("est_distinct")
    )


# ---------------------------------------------------------------------------
# Quantile-sample store: the qsketch sibling of the KMV store above
# ---------------------------------------------------------------------------


def merge_batch_into_qstore(
    batch: DataFrame,
    store_path: str,
    key_col: str,
    value_col: str,
    ts_col: str,
    k: int,
) -> None:
    """One micro-batch step for the QUANTILE store: bottom-k row-sample
    the batch per day (:func:`operators.qsketch.qsample_sketch`), merge
    with the stored samples of the same days, overwrite those day
    partitions.

    Replay idempotence differs from the KMV store's in one step: KMV
    sketches are distinct-hash sets (re-merging a re-delivered batch is a
    set union with itself), while row samples carry values — so the union
    dedups on ``(d, h, v)`` BEFORE the re-rank.  Because ``key_col`` is
    unique per row, a duplicate (h, v) IS the same row re-delivered
    (modulo the documented ~2⁻⁴⁸ fold-collision odds shared with every
    md5_fold48 consumer), and the merged bottom-k is unchanged — the same
    ledger-free convergence argument, with the dedup making it hold over
    ROWS instead of sets."""
    from oltp_to_data_warehouse_pipeline_spark.operators import qsketch

    _persist_k(batch.sparkSession, store_path, k)
    _merge_day_partitions(
        batch,
        store_path,
        ts_col,
        lambda days: qsketch.qsample_sketch(
            days, key_col, value_col, ["d"], k=k, prefilter=True, pin=False
        ),
        lambda u: qsketch.qsample_merge(u, ["d"], k=k),
        ["h", "v"],
        dedup=True,
    )


def maintain_qsample_store(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    key_col: str = "event_id",
    value_col: str = "value",
    ts_col: str = "ts",
    k: int = 256,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Attach the quantile-sample store maintainer to an event stream."""

    def fold(batch: DataFrame, epoch_id: int) -> None:
        merge_batch_into_qstore(
            batch, store_path, key_col, value_col, ts_col, k
        )

    return fanout_sink(stream, [fold], checkpoint, "qsample-store", trigger)


def window_quantiles(
    spark: SparkSession,
    store_path: str,
    start: str,
    end: str,
    probs: dict[str, float],
    k: int = 256,
) -> DataFrame:
    """One row ``(m, <probs…>)``: sample quantiles over [start, end],
    served ENTIRELY from stored day samples — ≤ k rows per day in, one
    merged sample out, raw data never touched (day-partition pruning on
    the store scan).  ALWAYS one row: an absent store or an empty range
    answers m = 0 with NULL quantiles (the dashboard-caller contract of
    :func:`window_estimate`).  Serving ``k`` must not exceed the store's
    maintenance k (:func:`_check_serving_k` raises); smaller is always
    valid — re-truncating a bottom-k sample is still a bottom-k sample."""
    from oltp_to_data_warehouse_pipeline_spark.operators import qsketch

    names = list(probs)
    empty = spark.createDataFrame(
        [tuple([0] + [None] * len(names))],
        "m bigint, " + ", ".join(f"{n} double" for n in names),
    )
    if not fs.has_data_files(spark, store_path):
        return empty
    _check_serving_k(spark, store_path, k)
    sk = (
        spark.read.parquet(store_path)
        .where((F.col("d") >= F.lit(start)) & (F.col("d") <= F.lit(end)))
        .select(F.lit(1).alias("g"), "h", F.col("v").cast("double").alias("v"))
    )
    merged = qsketch.qsample_merge(sk, ["g"], k=k)
    q = qsketch.qsample_quantiles(merged, ["g"], probs).drop("g")
    # empty range -> no group row; keep the contract with a max-fold over
    # the union (m=0 row loses to any real sample)
    return (
        q.unionByName(empty)
        .orderBy(F.col("m").desc())
        .limit(1)
    )


# ---------------------------------------------------------------------------
# HLL register store: the third sketch-store sibling (KMV sets, quantile
# row samples, now HLL registers)
# ---------------------------------------------------------------------------


def merge_batch_into_hll_store(
    batch: DataFrame,
    store_path: str,
    key_col: str,
    ts_col: str,
) -> None:
    """One micro-batch step for the HLL store: sketch the batch per day
    (:func:`operators.hll.hll_sketch` — ≤ 128 register rows per day on
    the exchange), merge with the stored registers of the same days via
    register-wise MAX, overwrite those day partitions.

    The replay argument is the strongest of the three stores: MAX is
    idempotent, commutative AND associative over registers, so a
    re-delivered micro-batch overwrites a day partition with the SAME
    rows — no ledger, no dedup column, nothing to reason about.  (KMV
    needs the k-minimum-set idempotence argument; the quantile store
    needs an extra (d, h, v) dedup.)  The per-day payload is bounded by
    m = 128 rows FOREVER, so the store is the cheapest of the three at
    million-day × million-group scale.

    The maintenance knob persisted in the ``_sketch_k`` sidecar is the
    register count m — constant in this implementation, but the marker
    still refuses a future mixed-m store the same way it refuses mixed-k.
    """
    from oltp_to_data_warehouse_pipeline_spark.operators import hll

    _persist_k(batch.sparkSession, store_path, hll.M)
    _merge_day_partitions(
        batch,
        store_path,
        ts_col,
        lambda days: hll.hll_sketch(days, key_col, ["d"]),
        lambda u: hll.hll_merge(u, ["d"]),
        ["j", "r"],
        dedup=False,
    )


def maintain_hll_store(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Attach the HLL register-store maintainer to an event stream."""

    def fold(batch: DataFrame, epoch_id: int) -> None:
        merge_batch_into_hll_store(batch, store_path, key_col, ts_col)

    return fanout_sink(stream, [fold], checkpoint, "hll-register-store", trigger)


def window_hll_estimate(
    spark: SparkSession,
    store_path: str,
    start: str,
    end: str,
) -> DataFrame:
    """One row ``(est_distinct)``: approximate distinct keys over
    [start, end], served ENTIRELY from stored day registers — ≤ 128 rows
    per day in, one merged register set out, raw data never touched (the
    date filter prunes store partitions).  ALWAYS one row; an absent
    store or empty range answers 0.0 (the dashboard-caller contract of
    :func:`window_estimate`)."""
    from oltp_to_data_warehouse_pipeline_spark.operators import hll

    zero = spark.createDataFrame([(0.0,)], "est_distinct double")
    if not fs.has_data_files(spark, store_path):
        return zero
    _check_serving_k(spark, store_path, hll.M)
    sk = (
        spark.read.parquet(store_path)
        .where((F.col("d") >= F.lit(start)) & (F.col("d") <= F.lit(end)))
        .select(F.lit(1).alias("g"), "j", "r")
    )
    merged = hll.hll_merge(sk, ["g"])
    est = hll.hll_estimate(merged, ["g"]).select("est_distinct")
    return est.unionByName(zero).agg(
        F.max("est_distinct").alias("est_distinct")
    )
