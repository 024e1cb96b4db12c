"""Multi-sink fanout: one batch computation feeding several sinks with
shared offsets, and the all-or-nothing retry contract."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.plans.incremental_agg import RollupSpec
from oltp_to_data_warehouse_pipeline_spark.streaming import corpus, matview, sketchstore
from oltp_to_data_warehouse_pipeline_spark.streaming.multisink import fanout_sink


def _write(src, name, rows):
    (src / name).write_text("\n".join(json.dumps(r) for r in rows) + "\n")


def test_fanout_feeds_raw_archive_and_rollup_from_one_pass(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    raw = str(tmp_path / "raw")
    rollup = str(tmp_path / "rollup")
    _write(src, "b1.json", [{"k": "a", "v": 1.0}, {"k": "a", "v": 2.0}, {"k": "b", "v": 5.0}])

    def raw_sink(batch, epoch_id):
        batch.write.mode("append").parquet(raw)

    def rollup_sink(batch, epoch_id):
        batch.groupBy("k").agg(F.sum("v").alias("s")).write.mode("append").parquet(rollup)

    stream = spark.readStream.schema("k string, v double").json(str(src))
    q = fanout_sink(stream, [raw_sink, rollup_sink], str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    assert spark.read.parquet(raw).count() == 3
    got = {r["k"]: r["s"] for r in spark.read.parquet(rollup).collect()}
    assert got == {"a": 3.0, "b": 5.0}

    # second increment flows to BOTH sinks from the same offsets
    _write(src, "b2.json", [{"k": "b", "v": 1.0}])
    q = fanout_sink(stream, [raw_sink, rollup_sink], str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert spark.read.parquet(raw).count() == 4
    assert spark.read.parquet(rollup).count() == 3  # appended per-batch partials


def test_failing_sink_aborts_batch_for_all_sinks(spark, tmp_path):
    """A sink error must fail the whole batch (no silent per-sink skip):
    after the failure neither sink shows the batch, and a retry run
    delivers it to both."""
    src = tmp_path / "src"
    src.mkdir()
    first = str(tmp_path / "first")
    _write(src, "b1.json", [{"k": "a", "v": 1.0}])
    attempts = {"n": 0}

    def first_sink(batch, epoch_id):
        batch.write.mode("append").parquet(first)

    def flaky_sink(batch, epoch_id):
        attempts["n"] += 1
        raise RuntimeError("sink down")

    stream = spark.readStream.schema("k string, v double").json(str(src))
    q = fanout_sink(stream, [first_sink, flaky_sink], str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="sink down"):
        q.awaitTermination(120)
        q.processAllAvailable()
    q.stop()
    assert attempts["n"] >= 1

    # retry with the flaky sink healed: the SAME batch replays to both
    # (first_sink sees it twice -> its append is the caller's idempotence
    # responsibility, exactly as documented)
    def healed_sink(batch, epoch_id):
        pass

    q = fanout_sink(stream, [first_sink, healed_sink], str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert spark.read.parquet(first).select("k").distinct().count() == 1


def test_gated_sink_blocks_bad_batches_and_passes_good_ones(spark, tmp_path):
    """Streaming inherits the QC-gates-load ordering: a batch violating the
    expectation suite never reaches the sink; a clean batch flows."""
    from oltp_to_data_warehouse_pipeline_spark.operators.expectations import (
        expect_between,
        expect_not_null,
    )
    from oltp_to_data_warehouse_pipeline_spark.streaming.multisink import gated

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    suite = [expect_not_null("k"), expect_between("v", 0.0, 100.0)]

    def sink(batch, epoch_id):
        batch.write.mode("append").parquet(out)

    stream = spark.readStream.schema("k string, v double").json(str(src))

    _write(src, "good.json", [{"k": "a", "v": 1.0}, {"k": "b", "v": 2.0}])
    q = fanout_sink(stream, [gated(sink, suite)], str(tmp_path / "ck1"))
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2

    # a poisoned batch (null key + out-of-range value) must abort loudly
    _write(src, "bad.json", [{"k": None, "v": 1.0}, {"k": "c", "v": 999.0}])
    q = fanout_sink(stream, [gated(sink, suite)], str(tmp_path / "ck1"))
    with pytest.raises(Exception, match="failed expectations"):
        q.awaitTermination(120)
        q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out).count() == 2  # nothing landed


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_starter_releases_its_cache_when_a_sink_fails(spark, tmp_path):
    """The starter persists each batch for its sinks and releases it in a
    ``finally``: a raising sink surfaces its error on the query and leaves
    no cached RDD behind."""
    src = tmp_path / "src"
    src.mkdir()
    _write(src, "b1.json", [{"k": "a", "v": 1.0}, {"k": "b", "v": 2.0}])

    def failing_sink(batch, epoch_id):
        batch.count()  # materializes the cached batch
        raise RuntimeError("sink down")

    before = _persistent_rdds(spark)
    stream = spark.readStream.schema("k string, v double").json(str(src))
    q = fanout_sink(stream, [failing_sink], str(tmp_path / "ckpt"))
    with pytest.raises(Exception, match="sink down"):
        q.awaitTermination(120)
    q.stop()
    assert _persistent_rdds(spark) <= before


EVENTS = (
    "event_id long, user_id long, value double, ts timestamp, "
    "day string, amount double, doc_id long, text string"
)


def _event(i: int) -> dict:
    day = f"2024-01-0{1 + i % 4}"
    return {
        "event_id": i, "user_id": i % 17, "value": float(i),
        "ts": f"{day}T0{i % 9}:00:00", "day": day, "amount": float(i),
        "doc_id": i, "text": f"document {i} on topic {i % 7}",
    }


STARTERS = {
    "rollup": lambda s, out, ck: matview.maintain_rollup(
        s, out, RollupSpec(keys=("day",), sums={"revenue": "amount"}), ck,
        partition_key="day",
    ),
    "kmv": lambda s, out, ck: sketchstore.maintain_kmv_store(s, out, ck, k=8),
    "qsample": lambda s, out, ck: sketchstore.maintain_qsample_store(s, out, ck, k=8),
    "hll": lambda s, out, ck: sketchstore.maintain_hll_store(s, out, ck),
    "corpus": lambda s, out, ck: corpus.ingest_documents(s, out, ck),
}


@pytest.mark.parametrize("starter", sorted(STARTERS))
def test_every_starter_reads_each_record_once(spark, tmp_path, starter):
    """Each source scan adds to ``numInputRows``, so a sink that re-ran its
    source for a second action would report more rows than were added —
    on the first batch and on a merge into the existing store alike."""
    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    for run in range(2):
        _write(src, f"b{run}.json", [_event(i) for i in range(40 * run, 40 * run + 40)])
        stream = spark.readStream.schema(EVENTS).json(str(src))
        q = STARTERS[starter](stream, out, ckpt)
        q.awaitTermination(120)
        assert q.exception() is None
        assert sum(p["numInputRows"] for p in q.recentProgress) == 40
