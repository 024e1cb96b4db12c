"""Streaming corpus ingestion: documents arrive as a stream, the stored
corpus stays exactly-deduplicated.

The batch form of this contract is `incremental_dedup_docs` (window-dedup
the batch, LEFT ANTI against the corpus's distinct fingerprints).  Here the
same two relational steps run per micro-batch under `foreachBatch`, so a
training corpus can ingest a crawl feed continuously without ever holding
duplicate text.

Replay safety comes from the dedup itself: a re-delivered batch anti-joins
against a corpus that already contains its fingerprints, so the replay
appends zero rows — idempotence WITHOUT a batch-id ledger (the dedup
predicate is its own exactly-once guard; contrast matview.maintain_rollup,
whose merge needs a journal).

Scale: the anti-join shuffles 32-byte fingerprints, never text; the corpus
side prunes to the fingerprint column (parquet column projection).  At
100 TB keep the corpus bucketed by fingerprint so each micro-batch joins
against co-located buckets instead of re-shuffling the store.

The anti-join's one unbounded cost is the journal itself: every micro-batch
re-reads the corpus's full fingerprint column, which grows without bound as
the corpus does.  ``ingest_documents_watermarked`` is the bounded-state
alternative — ``dropDuplicatesWithinWatermark`` keeps fingerprints in the
checkpointed state store only until the event-time watermark passes them,
so per-batch work is O(batch + live-state) regardless of corpus size.  The
trade is the dedup horizon: a duplicate arriving later than the watermark
delay after its twin is NOT dropped.  Pick per stream: crawl feeds whose
duplicates cluster in time (re-fetches, mirror bursts) take the watermarked
path; archival re-ingests that may repeat years-old text need the
anti-join.  Both preserve the reference's at-least-once contract (ST3,
mongo_postgres_cdc.py's replayable consumer): the watermarked path's
exactly-once comes from the file sink's commit log + checkpointed state,
the anti-join's from the dedup predicate itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from oltp_to_data_warehouse_pipeline_spark import fs
from oltp_to_data_warehouse_pipeline_spark.functions import text as text_fns
from oltp_to_data_warehouse_pipeline_spark.streaming.multisink import fanout_sink


def dedup_batch_against_corpus(
    batch: DataFrame, corpus_path: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The batch step: first-per-fingerprint within the batch, then LEFT
    ANTI against the stored corpus's fingerprints.  Returns the rows to
    append (original columns + ``fp``)."""
    spark = batch.sparkSession
    with_fp = batch.withColumn("fp", text_fns.normalized_fingerprint(text_col))
    w = Window.partitionBy("fp").orderBy(id_col)
    firsts = (
        with_fp.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    # Existence resolved through the Hadoop FileSystem API, not os.path —
    # on s3a://hdfs:// corpora a driver-local check would answer "absent",
    # skip the anti-join, and silently break the dedup contract.
    if fs.has_data_files(spark, corpus_path):
        seen = spark.read.parquet(corpus_path).select("fp").distinct()
        firsts = firsts.join(seen, "fp", "left_anti")
    return firsts


def ingest_documents(
    stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Attach the dedup-ingest sink to a document stream; each micro-batch
    appends only fingerprints the corpus has never seen."""

    def fold(batch: DataFrame, epoch_id: int) -> None:
        kept = dedup_batch_against_corpus(batch, corpus_path, id_col, text_col)
        kept.write.mode("append").parquet(corpus_path)

    return fanout_sink(stream, [fold], checkpoint, "corpus-ingest", trigger)


def ingest_documents_watermarked(
    stream: DataFrame,
    corpus_path: str,
    checkpoint: str,
    event_time_col: str,
    delay: str = "1 hour",
    text_col: str = "text",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Bounded-state streaming dedup-ingest (module docstring, paragraph 4).

    Fingerprints the text, then ``dropDuplicatesWithinWatermark`` on the
    fingerprint under an event-time watermark of ``delay``: the state store
    holds a fingerprint only until the watermark passes its event time plus
    ``delay``, so state is bounded by the stream's rate × horizon — it does
    NOT grow with the corpus, unlike the anti-join path's journal scan.
    Duplicates separated by more than ``delay`` of event time both land;
    that is the documented horizon trade.

    The sink is the built-in parquet file sink (not foreachBatch): its
    commit log makes re-delivered batches exactly-once per file, and the
    dedup state lives in the same checkpoint, so kill/restart resumes both
    consistently — the replay test pins this.
    """
    deduped = (
        stream.withColumn("fp", text_fns.normalized_fingerprint(text_col))
        .withWatermark(event_time_col, delay)
        .dropDuplicatesWithinWatermark(["fp"])
    )
    return (
        deduped.writeStream.format("parquet")
        .outputMode("append")
        .option("path", corpus_path)
        .option("checkpointLocation", checkpoint)
        .queryName("corpus-ingest-watermarked")
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
