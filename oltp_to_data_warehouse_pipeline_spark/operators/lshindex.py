"""Persisted MinHash-LSH index — INCREMENTAL near-dup for a growing corpus.

The inline LSH family (`operators/dedup.py`) recomputes signatures over the
WHOLE corpus every run; at 100 TB with continuous ingestion that is the
wrong cost model — you want to pay each document's signature exactly once,
at ingest, and probe only the increment.  This module is the document-side
sibling of the persisted IVF index (`operators/similarity.py:
ivf_write_index`): band keys written as parquet with the model parameters
riding alongside (`_lsh_model.json` — shingle width, hash count, band
count), so writers, appenders and probers can never disagree about key
geometry.

Probe plan (the part that must be right at scale): the INCREMENT's band
keys are computed inline and explicitly ``broadcast()`` — the planner
cannot be left to size them, since an increment built with
``createDataFrame`` (or any RDD-backed relation) is estimated at
``Long.MaxValue`` and would never auto-broadcast.  The candidate join
then streams the INDEX past the
broadcast build — the historical index is scanned (two columns, band+key
pushed through parquet column pruning) but NEVER shuffled, so probe cost
is one index scan + a broadcast hash join sized by the increment,
independent of how the index is partitioned on disk.  A shuffle-side
alternative (co-bucketed tables) only pays when increments outgrow
broadcast size — at that point the "increment" is a corpus and the
inline self-join path is the right tool.

Verification: `probe_verified` joins the candidate pairs back to both
texts and computes EXACT shingle Jaccard (array_intersect over the
candidate-sized relation — precision 1, like every other candidate
generator in this engine).

Parity contract (pinned by tests/test_lshindex.py): write → append →
probe emits exactly the candidate pairs the inline
`minhash_signatures` + `lsh_candidate_pairs` formulation finds between
the increment and the indexed corpus, because both derive band keys via
the shared `dedup.minhash_band_keys` expression.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.operators.dedup import (
    minhash_band_keys,
    minhash_signatures,
    word_shingles,
)
from oltp_to_data_warehouse_pipeline_spark.util import ensure_min_parallelism

MODEL_FILE = "_lsh_model.json"


def _band_rows(
    docs: DataFrame, id_col: str, text_col: str,
    num_hashes: int, bands: int, shingle_n: int,
) -> DataFrame:
    sigs = minhash_signatures(
        ensure_min_parallelism(docs), id_col, text_col,
        num_hashes=num_hashes, shingle_n=shingle_n,
    )
    return minhash_band_keys(sigs, id_col, num_hashes, bands)


def lsh_write_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> None:
    """Materialize the index: ``(doc, band, key)`` parquet plus the model
    file.  Signatures are computed once, here — the whole point."""
    from oltp_to_data_warehouse_pipeline_spark import fs

    _band_rows(docs, id_col, text_col, num_hashes, bands, shingle_n).write.mode(
        "overwrite"
    ).parquet(path)
    fs.write_text(
        docs.sparkSession,
        fs.join(path, MODEL_FILE),
        json.dumps(
            {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n}
        ),
    )


def lsh_read_model(spark, path: str) -> dict:
    from oltp_to_data_warehouse_pipeline_spark import fs

    return json.loads(fs.read_text(spark, fs.join(path, MODEL_FILE)))


def ensure_model(spark, path: str, model: dict) -> None:
    """Create the model file on first use, or refuse a geometry mismatch.
    Existence probe, NOT try/except around the read: a transient read
    error must surface, never masquerade as "first write" and clobber an
    existing index's geometry record."""
    from oltp_to_data_warehouse_pipeline_spark import fs

    mp = fs.join(path, MODEL_FILE)
    if fs.exists(spark, mp):
        existing = lsh_read_model(spark, path)
        if existing != model:
            raise ValueError(
                f"lsh index at {path} was built with {existing}, caller "
                f"supplied {model} — band keys would be incomparable; "
                "rebuild the index or match the parameters"
            )
    else:
        fs.write_text(spark, mp, json.dumps(model))


def lsh_write_batch(
    new_docs: DataFrame,
    path: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> None:
    """Write one ``batch_id=<n>/`` partition of band rows — the streaming
    ingest layout (streaming/dedup_ingest.py), for batch callers that
    manage admission themselves but still want the incremental index +
    its maintenance ops (operators/batchstore.py: compact below the
    replay horizon, takedown tombstones).  Partition OVERWRITE, so
    re-running a batch id is idempotent; the model file is created on
    first write and later writes must match its geometry."""
    spark = new_docs.sparkSession
    ensure_model(
        spark, path,
        {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n},
    )
    _band_rows(
        new_docs, id_col, text_col, num_hashes, bands, shingle_n
    ).write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")


def lsh_append(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append the increment's band rows under the INDEX's model parameters
    (read from the model file — the caller cannot desynchronize geometry).
    At-least-once ingestion note: appending the same document twice leaves
    duplicate band rows, which the probe's final ``distinct`` absorbs —
    pair output is unaffected."""
    spark = new_docs.sparkSession
    m = lsh_read_model(spark, path)
    if "batch_id" in spark.read.parquet(path).columns:
        raise ValueError(
            f"lsh_append: index at {path} uses the streaming per-batch "
            "layout (batch_id= partitions, managed by "
            "streaming/dedup_ingest.py) — a flat append would corrupt "
            "partition discovery; ingest through the sink instead"
        )
    _band_rows(
        new_docs, id_col, text_col, m["num_hashes"], m["bands"], m["shingle_n"]
    ).write.mode("append").parquet(path)


def lsh_probe(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    before_batch_id: int | None = None,
) -> DataFrame:
    """Candidate pairs ``(probe_id, index_id)`` between the increment and
    the indexed corpus: increment band keys broadcast (by hint — see the
    module docstring), index streamed and never shuffled.
    Self-matches (a probe doc already present in the index under the same
    id) are excluded; ordering is NOT imposed between the sides — probe_id
    is always the increment's id.

    ``before_batch_id``: for indexes laid out per-batch (``batch_id=<n>/``
    subdirs — the streaming ingest layout, streaming/dedup_ingest.py),
    probe only partitions with ``batch_id < n`` — the state that existed
    BEFORE batch n.  A replayed batch must not see its own partition NOR
    any later batch's leftovers (a fresh-checkpoint replay re-runs early
    batches while later partitions from the previous run still exist —
    round-11 review: excluding only the batch's own id let those leak in
    and change admission decisions).  The filter is on the partition
    column, so it prunes statically.

    Takedown tombstones (operators/batchstore.py), when present under the
    index path, are anti-joined — a removed document stops matching
    immediately, before compaction physically excises its band rows."""
    from oltp_to_data_warehouse_pipeline_spark.operators import batchstore

    spark = new_docs.sparkSession
    # refuse the mid-recovery state of a crashed compact — a probe against
    # a half-dropped index would silently report "no duplicates"
    batchstore.check_no_pending_compact(spark, path)
    m = lsh_read_model(spark, path)
    probe = _band_rows(
        new_docs, id_col, text_col, m["num_hashes"], m["bands"], m["shingle_n"]
    ).select(F.col("doc").alias("probe_id"), "band", "key")
    index = spark.read.parquet(path)
    if before_batch_id is not None:
        if "batch_id" not in index.columns:
            raise ValueError(
                f"lsh_probe: before_batch_id given but the index at {path} "
                "is not per-batch partitioned (no batch_id column) — it was "
                "written by lsh_write_index/lsh_append, not the streaming "
                "ingest sink"
            )
        index = index.where(F.col("batch_id") < F.lit(before_batch_id))
    index = batchstore.apply_tombstones(index, spark, path, "doc")
    index = index.select(F.col("doc").alias("index_id"), "band", "key")
    return (
        # bounded: increment docs × bands rows
        index.join(F.broadcast(probe), ["band", "key"])
        .where(F.col("probe_id") != F.col("index_id"))
        .select("probe_id", "index_id")
        .distinct()
    )


def lsh_probe_verified(
    new_docs: DataFrame,
    path: str,
    corpus: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    before_batch_id: int | None = None,
) -> DataFrame:
    """``(probe_id, index_id, jaccard)`` — candidates verified with EXACT
    shingle Jaccard (shingle width from the index model), precision 1.
    ``corpus`` supplies the indexed documents' texts (the index stores
    band keys only — at 100 TB the texts live in the lakehouse table the
    index was built from).

    Cost shape: the candidate relation (increment-sized) is BROADCAST by
    hint and the corpus streams past it, so the corpus is scanned but never
    shuffled.  The hint is needed because the candidates are a
    ``distinct`` over the index join, which the planner sizes at the
    join's product and so would never broadcast; without it a corpus over
    the session threshold is sort-merged, and every ingest micro-batch
    would shuffle the whole corpus text.  Shingle computation happens
    AFTER the join — only matched corpus documents are ever shingled
    (round-11 review: a pre-join shingle projection re-tokenized the
    whole corpus per probe).  The text-column scan itself is the
    remaining O(corpus) term; a
    lakehouse deployment prunes it further by sorting/bucketing the
    corpus table on the id so the candidate ids push down."""
    spark = new_docs.sparkSession
    m = lsh_read_model(spark, path)
    cand = lsh_probe(new_docs, path, id_col, text_col, before_batch_id)
    n = m["shingle_n"]
    p_txt = new_docs.select(
        F.col(id_col).alias("probe_id"), F.col(text_col).alias("__ptext")
    )
    # candidates ⋈ increment texts: both increment-sized
    build = cand.join(p_txt, "probe_id")
    c_txt = corpus.select(
        F.col(id_col).alias("index_id"), F.col(text_col).alias("__ctext")
    )
    inter = F.size(F.array_intersect("__psh", "__csh"))
    union = F.size("__psh") + F.size("__csh") - inter
    return (
        # bounded: candidate pairs ⊆ increment × matches
        c_txt.join(F.broadcast(build), "index_id")
        # shingle columns projected AFTER the join — computed once per
        # matched row, never for unmatched corpus rows
        .withColumn("__psh", word_shingles(F.col("__ptext"), n))
        .withColumn("__csh", word_shingles(F.col("__ctext"), n))
        .withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("probe_id", "index_id", F.round("jaccard", 4).alias("jaccard"))
    )
