"""kafkalog source: commit-log semantics (keyed routing, dense offsets,
bounded micro-batches, append-only enforcement) and the S4 graduation test
— the reference's full CDC loop (`mongo_postgres_cdc.py:429-456`) running
truly end-to-end: readStream → normalize → LWW upsert → dead-letter, with
offset checkpointing and replay across stream restarts."""

from __future__ import annotations

import json

import pytest

from oltp_to_data_warehouse_pipeline_spark.sources.kafkalog import (
    KAFKA_SCHEMA,
    KafkaLogDataSource,
    KafkaLogStreamReader,
    LogProducer,
)
from oltp_to_data_warehouse_pipeline_spark.streaming import cdc


def test_producer_keyed_routing_and_dense_offsets(tmp_path):
    """Same key → same partition (per-key order holds, as Kafka guarantees);
    offsets are dense per partition."""
    prod = LogProducer(str(tmp_path), num_partitions=4)
    placements = [prod.send("users", json.dumps({"id": i}), key=f"u{i % 3}") for i in range(12)]
    by_key: dict[str, set[int]] = {}
    for i, (p, _off) in enumerate(placements):
        by_key.setdefault(f"u{i % 3}", set()).add(p)
    assert all(len(parts) == 1 for parts in by_key.values())
    per_part: dict[int, list[int]] = {}
    for p, off in placements:
        per_part.setdefault(p, []).append(off)
    for offs in per_part.values():
        assert offs == list(range(len(offs)))


def test_batch_read_round_trip(spark, tmp_path):
    """Batch mode: every record, the JVM Kafka source's exact schema,
    tombstones as NULL values."""
    prod = LogProducer(str(tmp_path), num_partitions=2)
    for i in range(6):
        prod.send("users", json.dumps({"id": i}), key=f"u{i}", ts_ms=1_700_000_000_000 + i)
    prod.send("users", None, key="u0")  # tombstone
    prod.send("orders", json.dumps({"oid": 1}))
    spark.dataSource.register(KafkaLogDataSource)
    df = (
        spark.read.format("kafkalog")
        .option("subscribe", "users,orders")
        .load(str(tmp_path))
    )
    assert df.schema == KAFKA_SCHEMA
    rows = df.collect()
    assert len(rows) == 8
    users = [r for r in rows if r["topic"] == "users"]
    assert sum(1 for r in users if r["value"] is None) == 1
    # offsets dense per (topic, partition)
    per_part: dict[tuple, list[int]] = {}
    for r in rows:
        per_part.setdefault((r["topic"], r["partition"]), []).append(r["offset"])
    for offs in per_part.values():
        assert sorted(offs) == list(range(len(offs)))


def test_stream_offsets_cap_each_batch(tmp_path):
    """maxOffsetsPerTrigger bounds the TOTAL new records each micro-batch
    admits (ST2, the reference's max_poll_records) — exercised directly on
    the reader's offset arithmetic."""
    prod = LogProducer(str(tmp_path), num_partitions=2)
    for i in range(10):
        prod.send("users", json.dumps({"id": i}), key=f"u{i}")
    r = KafkaLogStreamReader(
        {"path": str(tmp_path), "subscribe": "users", "maxoffsetspertrigger": "4"}
    )
    start = r.initialOffset()
    assert all(v == 0 for v in start.values())
    seen = 0
    pos = start
    for _round in range(5):
        end = r.latestOffset()
        batch = sum(end[tp] - pos.get(tp, 0) for tp in end)
        assert batch <= 4
        seen += batch
        parts = r.partitions(pos, end)
        assert sum(p.end - p.start for p in parts) == batch
        pos = end
        if batch == 0:
            break
    assert seen == 10


def test_shrunk_partition_is_refused(tmp_path):
    """Offsets are coverage claims: a partition file that shrank below a
    committed offset must fail loudly, never silently re-number."""
    prod = LogProducer(str(tmp_path), num_partitions=1)
    for i in range(5):
        prod.send("users", json.dumps({"id": i}), key="u1")
    r = KafkaLogStreamReader({"path": str(tmp_path), "subscribe": "users"})
    end = r.latestOffset()
    f = tmp_path / "users" / "p00.jsonl"
    f.write_text("")  # truncate the log
    with pytest.raises(ValueError, match="shrank below committed offset"):
        r.partitions(end, end)


def _drain(spark, log_root, wh, ckpt, topics):
    stream = cdc.kafka_log_stream(spark, log_root, topics)
    q = cdc.start_cdc(spark, stream, wh, ckpt, trigger_seconds=None)
    q.awaitTermination(180)
    return q


def test_cdc_end_to_end_with_offset_replay(spark, tmp_path):
    """The reference consumer loop (`mongo_postgres_cdc.py:429-456`), Spark
    edition, with a real (file-backed) broker: two topics in, dynamic
    schema, LWW upsert, poison capture — then MORE traffic including
    updates, a second stream start on the SAME checkpoint, and the
    invariants that make at-least-once + idempotent-upsert = exactly-once
    table state: no duplicates, updates win, committed offsets never
    re-read."""
    from oltp_to_data_warehouse_pipeline_spark.sources.upsert import read_upserted

    log_root = str(tmp_path / "log")
    wh, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")
    prod = LogProducer(log_root, num_partitions=2)
    for i in range(8):
        prod.send("users", json.dumps({"_id": f"u{i}", "name": f"n{i}", "score": i}), key=f"u{i}")
    for i in range(5):
        prod.send("orders", json.dumps({"_id": f"o{i}", "total": 10.0 * i}), key=f"o{i}")
    _drain(spark, log_root, wh, ckpt, ["users", "orders"])
    users = read_upserted(spark, f"{wh}/users")
    assert users.count() == 8
    assert read_upserted(spark, f"{wh}/orders").count() == 5
    assert {r["kafka_topic"] for r in users.collect()} == {"users"}

    # second wave: 2 updates, 1 new row, 1 poison message
    prod.send("users", json.dumps({"_id": "u1", "name": "UPDATED", "score": 99}), key="u1")
    prod.send("users", json.dumps({"_id": "u2", "name": "ALSO", "score": 98}), key="u2")
    prod.send("users", json.dumps({"_id": "u8", "name": "n8", "score": 8}), key="u8")
    prod.send("users", "{not json", key="poison")
    _drain(spark, log_root, wh, ckpt, ["users", "orders"])

    users2 = read_upserted(spark, f"{wh}/users")
    rows = {r["kafka_primary_key"]: r for r in users2.collect()}
    assert len(rows) == 9 and users2.count() == 9  # no duplicates after replay
    assert rows["u1"]["name"] == "UPDATED" and rows["u1"]["score"] == 99
    assert rows["u2"]["name"] == "ALSO"
    assert rows["u3"]["name"] == "n3"  # untouched keys survive recompaction
    dead = spark.read.parquet(f"{wh}/_dead_letter/users")
    assert dead.where(dead["raw_data"].contains("not json")).count() == 1

    # third start with nothing new: committed offsets are honored — the
    # stream terminates without rewriting anything (updated_at unchanged)
    before = {r["kafka_primary_key"]: r["updated_at"] for r in users2.collect()}
    _drain(spark, log_root, wh, ckpt, ["users", "orders"])
    after = {
        r["kafka_primary_key"]: r["updated_at"]
        for r in read_upserted(spark, f"{wh}/users").collect()
    }
    assert after == before


def test_cdc_reads_each_record_from_the_source_once(spark, tmp_path):
    """The reference loop reads each message once
    (`mongo_postgres_cdc.py:408-478`); so does the foreachBatch body.
    Every source scan adds to ``numInputRows``, so over a two-topic drain
    its sum equals the records sent, poison message included."""
    log_root = str(tmp_path / "log")
    prod = LogProducer(log_root, num_partitions=2)
    for i in range(6):
        prod.send("users", json.dumps({"_id": f"u{i}", "name": f"n{i}"}), key=f"u{i}")
    for i in range(4):
        prod.send("orders", json.dumps({"_id": f"o{i}", "total": 1.5 * i}), key=f"o{i}")
    prod.send("users", "{not json", key="poison")
    q = _drain(spark, log_root, str(tmp_path / "wh"), str(tmp_path / "ckpt"), ["users", "orders"])
    assert q.exception() is None
    assert sum(p["numInputRows"] for p in q.recentProgress) == 11
