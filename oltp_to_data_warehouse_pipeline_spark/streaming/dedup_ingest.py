"""Dedup-on-ingest: a ``foreachBatch`` sink that rejects near-duplicates
of the ALREADY-INGESTED corpus at ingestion time.

The LLM-curation pattern this implements: a continuously-ingested corpus
(crawl snapshots, upload streams) where each arriving document should be
admitted only if it is not a near-dup of anything already admitted —
dedup as an ingest gate, not a periodic batch sweep.  Built on the
persisted MinHash-LSH index (`operators/lshindex.py`): each micro-batch
is probed against the index (exact-Jaccard verified, precision 1),
survivors are appended to BOTH the corpus store and the index, rejects
optionally land in a reject store for audit.

Replay correctness (the part that must be right): Spark's checkpoint
gives at-least-once batch delivery, so every write is a per-batch
``batch_id=<epoch>/`` subdirectory written with OVERWRITE — a replayed
batch rewrites its own partition instead of duplicating rows (the same
idiom as streaming/trending.py).  The probe reads only partitions
STRICTLY BEFORE the batch's own id (``before_batch_id`` — a static
partition-prune filter), so a batch replayed after its writes landed —
including a fresh-checkpoint replay running while LATER batches'
partitions from the previous run still exist — probes exactly the
pre-batch index and admits exactly the same survivors: the whole fold
is a deterministic function of (pre-batch state, batch), which makes
replay idempotent end to end.  (Round-11 review: excluding only the
batch's OWN partition let future partitions leak into early replayed
batches and flip admission decisions.)

Within-batch duplicates: the batch is first LWW-deduped on the id with
a content-hash tiebreak (at-least-once sources can repeat rows;
``dropDuplicates`` would keep a task-order-dependent row and break
replay determinism), rows whose id is ALREADY ADMITTED in an earlier
batch are dropped as re-deliveries (the probe's self-match exclusion
would otherwise let an exact re-upload of an admitted document sail
through — its only jaccard-1 match is itself), and the remainder is
near-dup-deduped AGAINST ITSELF via the same verified-pair machinery,
so two near-dup documents arriving in one micro-batch cannot both slip
past the gate that would have caught them in separate batches.

Ordering trade (documented, standard for ingest gates): admission is
batch-atomic — two near-dup documents in DIFFERENT in-flight streams or
racing writers are out of contract (single-writer, like every store in
this engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark import fs
from oltp_to_data_warehouse_pipeline_spark.operators import batchstore, lshindex
from oltp_to_data_warehouse_pipeline_spark.operators.dedup import word_shingles
from oltp_to_data_warehouse_pipeline_spark.util import release_checkpoint


def self_near_dup_losers(
    batch: DataFrame, id_col: str, text_col: str,
    threshold: float, num_hashes: int, bands: int, shingle_n: int,
) -> DataFrame:
    """ids to drop so no two admitted docs of one batch are near-dups:
    candidate pairs within the batch, exact-verified, then every doc that
    is the HIGHER id of at least one verified pair loses.  Deterministic,
    and guarantees no two survivors are a verified pair; on chain-shaped
    clusters (a~b, b~c, not a~c) it over-rejects rather than under-admits
    (c drops because of b even though b itself drops because of a) — the
    safe direction for an ingest gate."""
    from oltp_to_data_warehouse_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(batch, id_col, text_col, num_hashes, shingle_n)
    cand = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    sh = batch.select(
        F.col(id_col).alias("__id"), word_shingles(text_col, shingle_n).alias("__sh")
    )
    a = sh.select(F.col("__id").alias("doc_a"), F.col("__sh").alias("__sha"))
    b = sh.select(F.col("__id").alias("doc_b"), F.col("__sh").alias("__shb"))
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size("__sha") + F.size("__shb") - inter
    return (
        cand.join(a, "doc_a").join(b, "doc_b")
        .where(inter / union >= threshold)
        .select(F.greatest("doc_a", "doc_b").alias(id_col))
        .distinct()
    )


def takedown(
    spark,
    index_path: str,
    corpus_path: str,
    ids,
    id_col: str = "doc_id",
) -> bool:
    """Remove documents from the ingest stores (right-to-be-forgotten):
    tombstones both the corpus rows (under ``id_col``) and their index
    band rows (under the index's ``doc`` column).  Filtering is immediate
    (every reader and the gate's probe anti-join tombstones); physical
    excision happens at the next :func:`operators.batchstore.compact` of
    each store.  Forget semantics — see operators/batchstore.py for why
    blocklist semantics are not offered.

    Returns True only when BOTH stores recorded tombstones — False means
    a store was empty (typically a mistyped path; a compliance-critical
    deletion must not silently report success, round-11 second review)."""
    a = batchstore.delete_docs(spark, corpus_path, ids, id_col)
    b = batchstore.delete_docs(spark, index_path, ids, "doc")
    return a and b


def dedup_ingest_sink(
    index_path: str,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    reject_path: str | None = None,
):
    """``foreachBatch`` body.  Usage, started by
    :func:`streaming.multisink.fanout_sink`::

        sink = dedup_ingest_sink("/idx", "/corpus", reject_path="/rejects")
        fanout_sink(stream, [sink], ckpt)

    Stores: ``corpus_path`` holds admitted documents (all batch columns),
    ``index_path`` their band keys, ``reject_path`` (optional) the
    rejected rows plus ``matched_index_id``/``jaccard`` audit columns —
    each as ``batch_id=<epoch>/`` partitions (see module docstring)."""

    def fold(batch: DataFrame, epoch_id: int) -> None:
        from oltp_to_data_warehouse_pipeline_spark.operators.dedup import lww_dedup

        spark = batch.sparkSession
        # deterministic winner per id (content-hash order): dropDuplicates
        # keeps a task-order-dependent row, which would make a crash-replay
        # of a batch carrying two different texts under one id
        # nondeterministic (round-11 review)
        content = F.xxhash64(*[F.col(c) for c in sorted(batch.columns)])
        batch = lww_dedup(batch, [id_col], [content.desc()]).localCheckpoint(
            eager=True
        )
        try:
            # finish any interrupted compact FIRST: a crashed fold left the
            # store with its partitions dropped and the consolidated data
            # still in the hidden tmp dir — has_data_files would then read
            # "empty index" and admit everything unprobed (round-11 second
            # review).  recover() is an idempotent metadata no-op normally,
            # and the sink is the single writer, so this cannot race a
            # live compactor.
            batchstore.recover(spark, index_path)
            batchstore.recover(spark, corpus_path)
            # a transient model-read error must fail the batch (checkpoint
            # retries it), never masquerade as "first batch" — ensure_model
            # probes existence rather than catching the read (round-11 review)
            lshindex.ensure_model(
                spark, index_path,
                {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n},
            )

            # 1. reject near-dups of the already-admitted corpus
            if fs.has_data_files(spark, index_path):
                # tombstone-aware on BOTH sides (operators/batchstore.py):
                # the probe inside lsh_probe_verified filters the index's
                # tombstones itself; the corpus read here and the
                # re-delivery id set below filter theirs, so a taken-down
                # document neither blocks near-dup admission nor pins its
                # id against legitimate re-use (forget semantics).  A
                # takedown BETWEEN a batch and its replay legitimately
                # changes the admission decision — maintenance ops share
                # the single-writer contract and move the replay horizon
                # exactly like compaction does.
                prior = batchstore.apply_tombstones(
                    spark.read.parquet(index_path).where(
                        F.col("batch_id") < F.lit(epoch_id)
                    ),
                    spark, index_path, "doc",
                )
                dups = lshindex.lsh_probe_verified(
                    batch, index_path,
                    batchstore.read_batches(spark, corpus_path, id_col=id_col),
                    threshold=threshold, id_col=id_col, text_col=text_col,
                    before_batch_id=epoch_id,
                ).localCheckpoint(eager=True)
            else:
                prior, dups = None, None
            try:
                clean = batch
                if prior is not None:
                    # drop re-deliveries: ids already admitted in an EARLIER
                    # batch (the probe's self-match exclusion would re-admit
                    # an exact re-upload of an admitted doc).  Batch ids
                    # broadcast; the index id column streams, no shuffle.
                    batch_ids = batch.select(F.col(id_col).alias("doc")).distinct()
                    known = (
                        prior.select("doc")
                        # bounded: ≤ micro-batch rows
                        .join(F.broadcast(batch_ids), "doc")
                        .distinct()
                        .select(F.col("doc").alias(id_col))
                    )
                    clean = clean.join(known, id_col, "left_anti")
                if dups is not None:
                    hits = dups.select(F.col("probe_id").alias(id_col)).distinct()
                    clean = clean.join(hits, id_col, "left_anti")
                    if reject_path is not None:
                        best = dups.groupBy("probe_id").agg(
                            F.max(F.struct("jaccard", "index_id")).alias("m")
                        ).select(
                            F.col("probe_id").alias(id_col),
                            F.col("m.index_id").alias("matched_index_id"),
                            F.col("m.jaccard").alias("jaccard"),
                        )
                        batch.join(best, id_col).write.mode("overwrite").parquet(
                            f"{reject_path}/batch_id={epoch_id}"
                        )

                # 2. reject within-batch near-dups (higher id loses)
                losers = self_near_dup_losers(
                    clean, id_col, text_col, threshold,
                    num_hashes, bands, shingle_n,
                )
                clean = clean.join(losers, id_col, "left_anti").localCheckpoint(
                    eager=True
                )
                try:
                    # 3. admit: corpus rows + index band rows, one
                    # OVERWRITTEN partition per batch (replay-idempotent);
                    # the index write goes through lsh_write_batch so the
                    # partition discipline lives in exactly one place
                    # (round-11 second review)
                    clean.write.mode("overwrite").parquet(
                        f"{corpus_path}/batch_id={epoch_id}"
                    )
                    lshindex.lsh_write_batch(
                        clean, index_path, epoch_id, id_col, text_col,
                        num_hashes, bands, shingle_n,
                    )
                finally:
                    release_checkpoint(clean)
            finally:
                if dups is not None:
                    release_checkpoint(dups)
        finally:
            release_checkpoint(batch)

    return fold
