"""Trending keys: per-sliding-window top-k over an event stream.

The training-data-pipeline use: watch what is suddenly frequent (spam
template, scraper user-agent, hot document source) in event time, with
late data handled by the watermark rather than by re-running a batch job.

Shape: ``windowed_key_counts`` is a plain watermarked sliding-window
aggregate — streaming state is (windows-in-horizon × keys), emitted
EXACTLY ONCE per (window, key) when the watermark closes the window
(append mode).  Because the watermark is global per micro-batch, every
row of a closing window lands in the SAME ``foreachBatch`` call, so the
per-window top-k rank inside the batch sees the complete window — no
cross-batch merge state is needed.  The sink writes each batch under
``batch_id=<epoch>/`` with overwrite, so Spark's batch replay (the
at-least-once contract, ST3) rewrites the same directory instead of
duplicating rows.

Batch twin: :func:`rank_topk` over the same builder with
``watermark=None`` — registered as the `trending_event_types` oracle
query, which is what makes the streaming path differentially testable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from oltp_to_data_warehouse_pipeline_spark.streaming.multisink import fanout_sink
from oltp_to_data_warehouse_pipeline_spark.streaming.windows import _with_watermark


def windowed_key_counts(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Count per (sliding window, key).  Works on batch (watermark=None)
    and streaming frames alike — the batch form is the streaming form's
    oracle."""
    src = _with_watermark(df, ts_col, watermark)
    return (
        src.groupBy(F.window(ts_col, window_len, slide), key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            F.col(key_col).alias("key"),
            "n",
        )
    )


def rank_topk(counts: DataFrame, k: int = 3) -> DataFrame:
    """Top-k keys per window, deterministic tiebreak (n desc, key asc).
    The window partition is (window_start, window_end) — tiny per-group
    state, no global sort."""
    w = Window.partitionBy("window_start", "window_end").orderBy(F.desc("n"), F.col("key"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("window_start", "window_end", "key", "n", "rank")
    )


def trending_topk_query(
    stream: DataFrame,
    sink_path: str,
    checkpoint: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_len: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "10 minutes",
    k: int = 3,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the streaming trending query (append mode, through
    :func:`streaming.multisink.fanout_sink`).

    Each micro-batch carries only windows the watermark just closed, each
    complete (module docstring), so the batch-local :func:`rank_topk` is
    the whole computation; results land under ``sink_path/batch_id=<n>/``
    (overwrite per batch — replay-idempotent).  Read the result with
    ``spark.read.parquet(sink_path)``.

    ``available_now=True`` drains the current backlog and terminates (the
    batch/backfill mode — also what lets a test's ``awaitTermination``
    actually return instead of timing out against the default perpetual
    trigger; round-6 review finding)."""
    counts = windowed_key_counts(stream, ts_col, key_col, window_len, slide, watermark)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        rank_topk(batch, k).write.mode("overwrite").parquet(
            f"{sink_path}/batch_id={epoch_id}"
        )

    trigger = {"availableNow": True} if available_now else {"processingTime": "0 seconds"}
    return fanout_sink(counts, [sink], checkpoint, trigger=trigger)
