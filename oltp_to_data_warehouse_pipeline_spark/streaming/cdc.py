"""CDC pipeline wiring: Kafka (or any) stream → normalize → upsert.

Reference lifecycle (`mongo_postgres_cdc.py:408-478`): poll → per-message
parse/flatten/upsert → commit offsets.  Spark-native equivalent (SURVEY
§3.3): ``readStream`` → the declarative normalizer → ``foreachBatch`` doing
a set-oriented LWW upsert per topic, with offsets checkpointed by Structured
Streaming.  At-least-once delivery + idempotent upsert = exactly-once table
state (ST3).  Like the reference loop, which reads each message once, the
query makes one source scan per micro-batch: it starts through the
package's one ``foreachBatch`` starter (:func:`streaming.multisink.fanout_sink`),
which persists the raw batch for routing, dead-letter capture and the
upsert, then releases it.

The micro-batch function is stream-agnostic.  The container has no broker,
so the ``format("kafka")`` path is config wiring verified against the
reference consumer's settings — but the FULL loop (readStream → normalize →
upsert → dead-letter, offsets checkpointed and replayed across restarts)
runs end-to-end against the in-process file-backed broker
(sources/kafkalog.py, :func:`kafka_log_stream`), which serves the JVM Kafka
source's exact schema; production is a one-line format swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark import fs
from oltp_to_data_warehouse_pipeline_spark.sources.upsert import upsert_parquet
from oltp_to_data_warehouse_pipeline_spark.streaming import normalizer as norm
from oltp_to_data_warehouse_pipeline_spark.streaming.multisink import fanout_sink

SAMPLE_SIZE = 200


def kafka_reader_options(
    bootstrap_servers: str,
    topics: list[str],
    max_offsets_per_trigger: int = 10_000,
) -> dict[str, str]:
    """The Kafka source configuration, as data (unit-testable without a
    broker — the container has none, so this dict IS the tested surface).

    Maps the reference consumer's settings one-for-one
    (`mongo_postgres_cdc.py:27-32,382-401`): topic list → ``subscribe``
    (one consumer group, ST1); ``auto_offset_reset='earliest'`` →
    ``startingOffsets`` (first run only — afterwards the checkpoint wins,
    which is exactly the reference's committed-offset behavior);
    ``max_poll_records`` → ``maxOffsetsPerTrigger`` (bounded micro-batch,
    ST2).  No ``group.id``: Spark manages its own group + offsets in the
    checkpoint (ST3).
    """
    if not topics:
        raise ValueError("kafka source needs at least one topic")
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": ",".join(topics),
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": str(max_offsets_per_trigger),
    }


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: list[str],
    max_offsets_per_trigger: int = 10_000,
) -> DataFrame:
    """ST1/ST2 — multi-topic Kafka source with bounded micro-batches
    (`max_poll_records` analog).  Offsets live in the checkpoint (ST3).

    The per-record ``offset`` is KEPT: it is the only total order among
    same-key messages inside one micro-batch (every row gets the same
    ``current_timestamp()`` as updated_at, so without the offset the LWW
    upsert would pick an arbitrary winner and could keep a stale update).
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(bootstrap_servers, topics, max_offsets_per_trigger).items():
        reader = reader.option(k, v)
    return reader.load().select(
        F.col("value").cast("string").alias("value"),
        F.col("topic").alias("topic"),
        F.col("offset").cast("bigint").alias("offset"),
    )


def kafka_log_stream(
    spark: SparkSession,
    log_root: str,
    topics: list[str],
    max_offsets_per_trigger: int = 10_000,
) -> DataFrame:
    """The :func:`kafka_stream` twin over the in-process file-backed broker
    (sources/kafkalog.py) — identical projection, identical offset/replay
    semantics, no network.  This is what lets the FULL reference CDC loop
    (`mongo_postgres_cdc.py:429-456`: poll → parse/flatten/upsert → commit)
    run end-to-end in tests and local replay sessions; production swaps
    ``format("kafkalog")`` for ``format("kafka")`` and nothing downstream
    changes, because the source serves the JVM Kafka source's exact schema.
    """
    from oltp_to_data_warehouse_pipeline_spark.sources.kafkalog import (
        KafkaLogDataSource,
    )

    spark.dataSource.register(KafkaLogDataSource)
    return (
        spark.readStream.format("kafkalog")
        .option("subscribe", ",".join(topics))
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
        .load(log_root)
        .select(
            F.col("value").cast("string").alias("value"),
            F.col("topic").alias("topic"),
            F.col("offset").cast("bigint").alias("offset"),
        )
    )


def _route_microbatch(
    spark: SparkSession,
    batch: DataFrame,
    registry_dir: str,
    sink,
    table_prefix: str = "",
) -> list[str]:
    """The shared CDC micro-batch loop: route per topic (ST4), infer
    schema + additive registry merge (B9 fixed), dead-letter capture,
    normalize, then hand ``sink(normalized, table, order_cols)`` the
    landing write.  Returns the table names written.  A sink's exception
    propagates, so Spark retries the batch.

    The loop caches nothing itself.  Under :func:`start_cdc` and
    :func:`start_cdc_jdbc` the starter (:func:`streaming.multisink.fanout_sink`)
    has persisted the raw batch (``value``, ``topic``, ``offset``) before
    this loop runs and releases it afterwards, so topic discovery, the
    schema sample, the dead-letter probe and write, and every action the
    sink runs read the cached rows instead of the source, as the reference
    consumer reads each message once (`mongo_postgres_cdc.py:408-478`).
    Only the raw rows are cached, so ``updated_at`` / ``processed_at`` stay
    per-action ``current_timestamp()`` values and LWW ordering is unchanged.

    Corrupt messages (unparseable JSON / no primary key) are excluded by
    the normalizer's pk filter — poison tolerance (ST5) without a per-row
    try/except — and CAPTURED to ``_dead_letter/<table>/`` (raw value +
    topic + reason + timestamp) so operators can replay or inspect them.
    A batch without poison writes nothing there: an empty append would
    still leave one schema-only parquet file per topic and batch.
    """
    topics = [r["topic"] for r in batch.select("topic").distinct().collect()]
    written: list[str] = []
    for topic in topics:
        msgs = batch.where(F.col("topic") == topic)
        sample = [r["value"] for r in msgs.select("value").limit(SAMPLE_SIZE).collect()]
        schema = norm.infer_schema(sample)
        prior = _load_schema(spark, registry_dir, topic)
        if prior is not None:
            schema = prior.merge(schema)  # additive evolution across batches (B9 fixed)
        if not schema.fields:
            continue
        table = table_prefix + norm.topic_to_table(topic)
        # under the starter the emptiness probe reads the cached batch
        dead = norm.rejected(msgs, schema)
        if not dead.isEmpty():
            dead.write.mode("append").parquet(
                fs.join(registry_dir, "_dead_letter", table)
            )
        normalized = norm.normalize(msgs, schema)
        order_cols = ["updated_at"]
        if "kafka_offset" in normalized.columns:
            order_cols.append("kafka_offset")
        sink(normalized, table, order_cols)
        # rewrite only on change: the write is not atomic, so every
        # needless rewrite is one more chance to leave a truncated registry
        if schema != prior:
            _save_schema(spark, registry_dir, topic, schema)
        written.append(table)
    return written


def process_microbatch(
    spark: SparkSession,
    batch: DataFrame,
    warehouse_dir: str,
) -> list[str]:
    """One micro-batch into the PARQUET warehouse: the shared routing loop
    (:func:`_route_microbatch`) with the bucketed LWW parquet upsert as
    the sink."""

    def sink(normalized: DataFrame, table: str, order_cols: list[str]) -> None:
        upsert_parquet(
            spark,
            normalized,
            fs.join(warehouse_dir, table),
            key="kafka_primary_key",
            order_cols=order_cols,
        )

    return _route_microbatch(spark, batch, warehouse_dir, sink)


def _trigger(trigger_seconds: int | None) -> dict:
    """``trigger_seconds`` as a starter trigger: None drains and stops."""
    if trigger_seconds is None:
        return {"availableNow": True}
    return {"processingTime": f"{trigger_seconds} seconds"}


def start_cdc(
    spark: SparkSession,
    stream: DataFrame,
    warehouse_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int | None = 10,
):
    """Attach the micro-batch upsert to any streaming DataFrame with columns
    (value string, topic string).  ``query.stop()`` = graceful shutdown (ST6).
    """
    return fanout_sink(
        stream, [lambda df, _epoch: process_microbatch(spark, df, warehouse_dir)],
        checkpoint_dir, trigger=_trigger(trigger_seconds),
    )


def shutdown(query, drain: bool = True, timeout_s: float = 60.0) -> bool:
    """ST6 — graceful shutdown (`mongo_postgres_cdc.py:403-412` semantics:
    finish the in-flight batch, then stop and close).

    ``drain=True`` waits for currently-available input to be processed —
    but BOUNDED: ``processAllAvailable`` alone never returns under sustained
    producers (new data keeps arriving), which would hang the shutdown until
    a supervisor escalates to SIGKILL.  The drain runs in a daemon thread
    and gets at most half of ``timeout_s``; if it hasn't converged by then,
    ``stop()`` interrupts it.  Returns True when the query terminated in
    time.  Because sinks are idempotent upserts over checkpointed offsets,
    even a non-graceful kill only ever replays, never loses or duplicates
    state.
    """
    import time as _time

    t0 = _time.monotonic()
    if drain and query.isActive:
        import threading

        drainer = threading.Thread(target=query.processAllAvailable, daemon=True)
        drainer.start()
        drainer.join(timeout=timeout_s / 2)
    query.stop()
    # awaitTermination gets the REMAINING budget, so the documented bound is
    # timeout_s total — a fresh timeout_s here would stretch worst-case wall
    # time to 1.5x and blow a supervisor's grace period (SIGKILL).
    remaining = max(timeout_s - (_time.monotonic() - t0), 1.0)
    return query.awaitTermination(remaining)


def install_signal_shutdown(query, signals=None) -> None:
    """Wire SIGINT/SIGTERM to :func:`shutdown`, like the reference's signal
    handler (`mongo_postgres_cdc.py:403-406`).  Driver-side only.

    After the query stops, the PREVIOUS handler is restored and the signal
    re-raised, so the process still dies (or KeyboardInterrupt still fires)
    — a handler that swallows the signal forever leaves an uninterruptible
    driver that must be SIGKILLed."""
    import os as _os
    import signal as _signal

    def _make(prev):
        # getsignal() returns None for handlers installed by non-Python code
        # (embedded interpreters, the JVM); signal() rejects None, so fall
        # back to the default disposition.
        restore = prev if prev is not None else _signal.SIG_DFL

        def _handler(signum, frame):
            # Restore BEFORE draining: a second Ctrl-C during the (up to
            # timeout_s) graceful shutdown must hard-exit via the previous
            # disposition, not re-enter another full drain.
            _signal.signal(signum, restore)
            shutdown(query)
            _os.kill(_os.getpid(), signum)

        return _handler

    for sig in signals or (_signal.SIGINT, _signal.SIGTERM):
        _signal.signal(sig, _make(_signal.getsignal(sig)))


# -- tiny schema registry (per-topic JSON file beside the landing tables) ----


def _schema_path(warehouse_dir: str, topic: str) -> str:
    return fs.join(warehouse_dir, f"_schema_{norm.topic_to_table(topic)}.json")


def _save_schema(
    spark: SparkSession, warehouse_dir: str, topic: str, schema: norm.InferredSchema
) -> None:
    import json

    fs.mkdirs(spark, warehouse_dir)
    payload = {
        name: {
            "sql_type": f.sql_type,
            "path": f.path,
            "is_json_blob": f.is_json_blob,
            # losing this flag across restarts would silently stop producing
            # the epoch-promoted <name>_ts column (additive-evolution break)
            "epoch_candidate": f.epoch_candidate,
        }
        for name, f in schema.fields.items()
    }
    fs.write_text(spark, _schema_path(warehouse_dir, topic), json.dumps(payload))


def _load_schema(
    spark: SparkSession, warehouse_dir: str, topic: str
) -> norm.InferredSchema | None:
    import json

    p = _schema_path(warehouse_dir, topic)
    if not fs.exists(spark, p):
        return None
    payload = json.loads(fs.read_text(spark, p))
    return norm.InferredSchema(
        {
            name: norm.InferredField(
                d["sql_type"],
                d["path"],
                d["is_json_blob"],
                epoch_candidate=d.get("epoch_candidate", False),
            )
            for name, d in payload.items()
        }
    )


def process_microbatch_jdbc(
    spark: SparkSession,
    batch: DataFrame,
    cfg,
    registry_dir: str,
    dialect: str = "ansi",
    table_prefix: str = "",
) -> list[str]:
    """:func:`process_microbatch` against a REAL JDBC warehouse — the
    full reference consumer loop (`mongo_postgres_cdc.py:243-287` dynamic
    DDL + `:359-380` ON CONFLICT upsert) as engine primitives: the shared
    routing loop (:func:`_route_microbatch`), then CREATE (first batch,
    via the writer), ``ALTER TABLE … ADD COLUMN`` on drift
    (:func:`sources.jdbc.ensure_columns`), and the version-guarded
    set-based MERGE upsert (:func:`sources.jdbc.write_upsert`) — so
    at-least-once micro-batch replay yields exactly-once warehouse state,
    which plain ``write_append`` could not promise.

    ``registry_dir`` keeps the per-topic schema registry and dead-letter
    parquet on the filesystem (they are ours, not the warehouse's);
    tables land in the JDBC target named ``table_prefix + topic_table``.
    """
    from oltp_to_data_warehouse_pipeline_spark.sources import jdbc as jdbc_mod

    def sink(normalized: DataFrame, table: str, order_cols: list[str]) -> None:
        jdbc_mod.ensure_columns(spark, normalized, cfg, table, dialect=dialect)
        jdbc_mod.write_upsert(
            normalized,
            cfg,
            table,
            keys=["kafka_primary_key"],
            order_cols=order_cols,
            dialect=dialect,
            # string pk must be MERGE-comparable (Derby's default string
            # mapping is CLOB); raw_data stays the dialect's large type
            column_types="kafka_primary_key VARCHAR(255)",
        )

    return _route_microbatch(
        spark, batch, registry_dir, sink, table_prefix=table_prefix
    )


def start_cdc_jdbc(
    spark: SparkSession,
    stream: DataFrame,
    cfg,
    registry_dir: str,
    checkpoint_dir: str,
    dialect: str = "ansi",
    trigger_seconds: int | None = 10,
):
    """:func:`start_cdc` variant landing in a JDBC warehouse (see
    :func:`process_microbatch_jdbc`)."""
    return fanout_sink(
        stream,
        [lambda df, _epoch: process_microbatch_jdbc(spark, df, cfg, registry_dir, dialect=dialect)],
        checkpoint_dir, trigger=_trigger(trigger_seconds),
    )
