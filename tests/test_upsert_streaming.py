"""Upsert sink idempotence + CDC micro-batch + streaming windows."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.sources.upsert import read_upserted, upsert_parquet
from oltp_to_data_warehouse_pipeline_spark.streaming import windows
from oltp_to_data_warehouse_pipeline_spark.streaming.cdc import _route_microbatch, process_microbatch


def _batch(spark, rows):
    return spark.createDataFrame(rows, ["k", "updated_at", "v"])


def test_upsert_insert_update_and_idempotence(spark, tmp_path):
    path = str(tmp_path / "t")
    b1 = _batch(spark, [("a", 1, "v1"), ("b", 1, "v1")])
    upsert_parquet(spark, b1, path, "k", ["updated_at"])
    assert {(r["k"], r["v"]) for r in read_upserted(spark, path).collect()} == {("a", "v1"), ("b", "v1")}

    # update a, insert c; replay the same batch twice -> same state (ST3)
    b2 = _batch(spark, [("a", 2, "v2"), ("c", 1, "v1")])
    for _ in range(2):
        upsert_parquet(spark, b2, path, "k", ["updated_at"])
        state = {(r["k"], r["v"]) for r in read_upserted(spark, path).collect()}
        assert state == {("a", "v2"), ("b", "v1"), ("c", "v1")}

    # stale replay of b1 must NOT resurrect v1 (LWW on updated_at)
    upsert_parquet(spark, b1, path, "k", ["updated_at"])
    state = {(r["k"], r["v"]) for r in read_upserted(spark, path).collect()}
    assert state == {("a", "v2"), ("b", "v1"), ("c", "v1")}


def test_upsert_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_parquet(spark, _batch(spark, [("a", 1, "v1")]), path, "k", ["updated_at"])
    wider = spark.createDataFrame([("b", 1, "v1", 42)], ["k", "updated_at", "v", "extra"])
    upsert_parquet(spark, wider, path, "k", ["updated_at"])
    out = read_upserted(spark, path)
    assert "extra" in out.columns
    got = {r["k"]: r["extra"] for r in out.collect()}
    assert got["b"] == 42 and got["a"] is None


def test_cdc_microbatch_routing_and_upsert(spark, tmp_path):
    wh = str(tmp_path / "wh")
    rows = [
        (json.dumps({"id": "1", "name": "alice", "age": 30}), "users"),
        (json.dumps({"id": "2", "name": "bob", "age": 31}), "users"),
        (json.dumps({"id": "o1", "total": 9.5}), "orders.v1"),
    ]
    df = spark.createDataFrame(rows, ["value", "topic"])
    written = process_microbatch(spark, df, wh)
    assert sorted(written) == ["orders_v1", "users"]
    users = read_upserted(spark, f"{wh}/users")
    assert users.count() == 2

    # second batch: update id=1, new column appears (additive evolution)
    rows2 = [(json.dumps({"id": "1", "name": "alice2", "vip": True}), "users")]
    process_microbatch(spark, spark.createDataFrame(rows2, ["value", "topic"]), wh)
    users = read_upserted(spark, f"{wh}/users")
    row = {r["kafka_primary_key"]: r for r in users.collect()}
    assert row["1"]["name"] == "alice2"
    assert row["1"]["vip"] is True
    assert row["2"]["name"] == "bob"          # untouched key survives


def test_streaming_windows_match_batch(spark, tmp_path):
    """File-source stream through tumbling_counts == batch twin (ST oracle)."""
    from oltp_to_data_warehouse_pipeline_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(200)
    src_dir, out = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev.write.parquet(src_dir)

    stream = spark.readStream.schema(ev.schema).parquet(src_dir)
    q = (
        windows.tumbling_counts(stream, watermark="1 minute")
        .writeStream.format("memory")
        .queryName("tumbling_sink")
        .outputMode("complete")
        .option("checkpointLocation", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM tumbling_sink").collect()
    }
    want = {
        (str(r["window_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in windows.tumbling_counts(ev, watermark=None).collect()
    }
    assert got == want and len(want) > 0


def test_session_windows_batch(spark):
    rows = [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"), (1, "2024-01-01 01:30:00"), (2, "2024-01-01 00:00:00")]
    df = spark.createDataFrame(rows, ["user_id", "s"]).select(
        "user_id", F.col("s").cast("timestamp").alias("ts"), F.lit(1.0).alias("value")
    )
    out = windows.session_counts(df, gap="30 minutes", watermark=None).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(per_user[1]) == [1, 2]      # two sessions: (0:00,0:10) and (1:30)
    assert per_user[2] == [1]


def test_watermark_drops_late_data(spark, tmp_path):
    """Append mode + watermark: a row arriving after its window is
    finalized must be DROPPED (count stays 2), and the finalized window is
    emitted exactly once.  maxFilesPerTrigger=1 forces one micro-batch per
    file so the watermark actually advances between arrivals."""
    import os
    import time as _time

    src = tmp_path / "src"
    src.mkdir()
    schema = "user_id long, ts timestamp, event_type string, value double"

    def write(name, rows, mtime):
        p = src / name
        p.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (mtime, mtime))

    t0 = _time.time()
    # batch 1: two rows in window [10:00, 10:05)
    write("b1.json", [
        {"user_id": 1, "ts": "2024-01-01 10:00:30", "event_type": "c", "value": 1.0},
        {"user_id": 2, "ts": "2024-01-01 10:02:00", "event_type": "c", "value": 1.0},
    ], t0)
    # batch 2: advances the watermark to 10:20 -> window [10:00,10:05)
    # finalizes and emits at the END of the batch AFTER this one
    write("b2.json", [
        {"user_id": 3, "ts": "2024-01-01 10:30:00", "event_type": "c", "value": 1.0},
    ], t0 + 10)
    # batch 3: runs with watermark 10:20 (input filtering uses the wm
    # computed at the END of the PREVIOUS batch — a late row landing in the
    # same batch as the advancement would still be merged)
    write("b3.json", [
        {"user_id": 9, "ts": "2024-01-01 10:31:00", "event_type": "c", "value": 1.0},
    ], t0 + 20)
    # batch 4: a LATE row for the finalized window -> dropped by the filter
    write("b4.json", [
        {"user_id": 4, "ts": "2024-01-01 10:01:00", "event_type": "c", "value": 1.0},
    ], t0 + 30)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        windows.tumbling_counts(stream, window_len="5 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("late_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM late_sink").collect()
    emitted = {(str(r["window_start"]), r["n"]) for r in rows}
    # exactly one finalized window; late user_id=4 did NOT bump the count
    assert emitted == {("2024-01-01 10:00:00", 2)}


def test_dead_letter_capture(spark, tmp_path):
    """Poison messages are excluded from the landing table AND captured to
    the per-table dead-letter directory with a reason."""
    wh = str(tmp_path / "wh")
    rows = [
        (json.dumps({"id": "1", "name": "alice"}), "users"),
        ("{not valid json at all", "users"),            # corrupt
        (json.dumps({"name": "no-key-here"}), "users"),  # pk-less
    ]
    df = spark.createDataFrame(rows, ["value", "topic"])
    process_microbatch(spark, df, wh)

    from oltp_to_data_warehouse_pipeline_spark.sources.upsert import read_upserted

    assert read_upserted(spark, f"{wh}/users").count() == 1
    dead = spark.read.parquet(f"{wh}/_dead_letter/users")
    got = {(r["raw_data"], r["reject_reason"]) for r in dead.collect()}
    assert got == {
        ("{not valid json at all", "no_primary_key"),
        (json.dumps({"name": "no-key-here"}), "no_primary_key"),
    }


def test_clean_batches_leave_no_dead_letter_files(spark, tmp_path):
    """A micro-batch without poison writes nothing to ``_dead_letter/``:
    an empty append would still leave one schema-only parquet file per
    topic and batch, so clean traffic would grow a small-file pile."""
    wh = str(tmp_path / "wh")
    for i in range(2):
        rows = [(json.dumps({"id": str(i), "name": f"n{i}"}), "users")]
        process_microbatch(spark, spark.createDataFrame(rows, ["value", "topic"]), wh)
    assert read_upserted(spark, f"{wh}/users").count() == 2
    assert glob.glob(f"{wh}/_dead_letter/users/**/*.parquet", recursive=True) == []


def test_unchanged_schema_leaves_the_registry_file_alone(spark, tmp_path):
    """The registry is rewritten only when a batch changes the schema: the
    write is not atomic, so every needless rewrite could truncate it."""
    wh = str(tmp_path / "wh")
    stats = []
    for i in range(2):
        rows = [(json.dumps({"id": str(i), "name": f"n{i}"}), "users")]
        process_microbatch(spark, spark.createDataFrame(rows, ["value", "topic"]), wh)
        st = os.stat(f"{wh}/_schema_users.json")
        stats.append((st.st_ino, st.st_mtime_ns))
    assert stats[0] == stats[1]


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_microbatch_releases_its_cached_batch(spark, tmp_path):
    """The routing loop caches the raw batch for its own actions only: the
    cache is gone when the loop returns AND when a sink raises, and the
    sink's exception propagates (Spark must see it to retry the batch)."""
    rows = [(json.dumps({"id": "1", "name": "alice"}), "users")]
    before = _persistent_rdds(spark)
    process_microbatch(spark, spark.createDataFrame(rows, ["value", "topic"]), str(tmp_path / "a"))
    assert _persistent_rdds(spark) <= before

    def failing_sink(normalized, table, order_cols):
        normalized.count()
        raise RuntimeError("sink down")

    batch = spark.createDataFrame(rows, ["value", "topic"])
    with pytest.raises(RuntimeError, match="sink down"):
        _route_microbatch(spark, batch, str(tmp_path / "b"), failing_sink)
    assert _persistent_rdds(spark) <= before
    assert not batch.is_cached


def test_cdc_within_batch_ordering_by_offset(spark, tmp_path):
    """Two updates to the same key inside ONE micro-batch: the higher-offset
    (newer) message must win the LWW upsert — updated_at alone cannot order
    them because every row gets the same current_timestamp()."""
    wh = str(tmp_path / "wh")
    rows = [
        (json.dumps({"id": "1", "name": "first"}), "users", 100),
        (json.dumps({"id": "1", "name": "second"}), "users", 101),
        (json.dumps({"id": "2", "name": "only"}), "users", 102),
    ]
    df = spark.createDataFrame(rows, ["value", "topic", "offset"])
    process_microbatch(spark, df, wh)
    got = {
        r["kafka_primary_key"]: r["name"]
        for r in read_upserted(spark, f"{wh}/users").collect()
    }
    assert got == {"1": "second", "2": "only"}

    # replay the same batch (at-least-once): state unchanged
    process_microbatch(spark, df, wh)
    got2 = {
        r["kafka_primary_key"]: r["name"]
        for r in read_upserted(spark, f"{wh}/users").collect()
    }
    assert got2 == got


def test_progress_metrics_count_watermark_drops(spark, tmp_path):
    """A record older than the watermark horizon must be dropped from the
    windowed aggregation AND show up in the progress counters — silent
    late-data loss is the failure mode progress_metrics exists to surface."""
    import datetime as dt

    src = tmp_path / "src"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    fresh = spark.createDataFrame(
        [(base, "click", 1.0), (base + dt.timedelta(minutes=5), "click", 1.0)],
        "ts timestamp, event_type string, value double",
    )
    fresh.write.parquet(str(src / "f1"))
    late = spark.createDataFrame(
        [(base - dt.timedelta(hours=2), "click", 1.0)],
        "ts timestamp, event_type string, value double",
    )
    late.write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(fresh.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    out = windows.tumbling_counts(stream, window_len="10 minutes", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("wm_drops")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        metrics = windows.progress_metrics(q)
    finally:
        q.stop()
    assert metrics["batches"] >= 2
    assert metrics["input_rows"] == 3
    assert metrics["dropped_by_watermark"] >= 1, metrics
    # and the dropped event's window is absent from results
    got = {r["window_start"] for r in spark.sql("select * from wm_drops").collect()}
    assert all(w >= base.replace(minute=0) for w in got)
