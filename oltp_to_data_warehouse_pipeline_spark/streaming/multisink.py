"""The package's one ``foreachBatch`` starter: one micro-batch computation,
one or several sinks.

Every streaming sink in the package (CDC upsert, materialized view, sketch
stores, corpus ingestion, trending top-k) starts its query through
:func:`fanout_sink`.  Structured Streaming allows one sink per query;
running N queries over the same source recomputes (and for Kafka, re-reads)
the stream N times and gives each query its own offsets — the sinks drift.
The standard answer is a ``foreachBatch`` that persists the batch once and
feeds every sink from the cached copy; this module packages that with the
error contract made explicit:

- the batch is persisted BEFORE the first sink, so no sink action re-runs
  the source (a one-sink query reads each record once too);
- sinks run sequentially, in order; a failing sink aborts the batch, Spark
  retries it, and ALL sinks see the batch again — so every sink must be
  idempotent per (its own) batch delivery, which is exactly the contract
  this engine's sinks already honor (LWW upsert, journaled rollup merge,
  dedup corpus append);
- there is deliberately NO per-sink error swallowing: skipping a failed
  sink would silently fork the sinks' histories, the exact drift the
  single-pass design exists to prevent;
- the cache is released when the batch ends, also when a sink raises.

At 100 TB the win is the single source scan + single shuffle chain per
batch amortized over N sinks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

Sink = Callable[[DataFrame, int], None]


class ExpectationViolation(RuntimeError):
    """A gated sink refused a micro-batch that failed its expectations."""


def gated(sink: Sink, expectations: list) -> Sink:
    """Wrap a sink with a per-batch data-quality gate: the batch's
    expectation suite (``operators.expectations``) runs BEFORE the sink,
    and any violation aborts the batch with :class:`ExpectationViolation` —
    streaming inherits the batch path's QC-gates-load ordering (the
    reference had no gate at all on its consumer; this engine refuses to
    land bad data rather than quarantining it silently).

    The abort integrates with Spark's retry: the batch replays (offsets
    uncommitted), so a transient upstream glitch self-heals while a
    persistent one stops the stream loudly — the operator decides, with
    the violation report in the exception message.  Costs one extra
    aggregation pass over the batch."""
    from oltp_to_data_warehouse_pipeline_spark.operators.expectations import validate

    def run(batch: DataFrame, epoch_id: int) -> None:
        report = validate(batch, expectations)
        bad = [r for r in report.collect() if not r["passed"]]
        if bad:
            detail = "; ".join(
                f"{r['expectation']}: {r['violations']}/{r['total_rows']}" for r in bad
            )
            raise ExpectationViolation(
                f"batch {epoch_id} failed expectations — {detail}"
            )
        sink(batch, epoch_id)

    return run


def fanout_sink(
    stream: DataFrame,
    sinks: list[Sink],
    checkpoint: str,
    query_name: str | None = None,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Attach ``sinks`` (each a ``(batch_df, epoch_id) -> None``) to one
    streaming query.  Returns the started query; callers own await/stop.

    ``trigger`` passes through to ``DataStreamWriter.trigger``; the default
    drains what is available and stops (``{"availableNow": True}``).  The
    query is named only when ``query_name`` is given: active names must be
    unique per session.  The output mode is Spark's default, append."""
    if not sinks:
        raise ValueError("fanout_sink needs at least one sink")

    def fold(batch: DataFrame, epoch_id: int) -> None:
        batch.persist()
        try:
            for sink in sinks:
                sink(batch, epoch_id)
        finally:
            batch.unpersist()

    writer = stream.writeStream.foreachBatch(fold).option("checkpointLocation", checkpoint)
    if query_name is not None:
        writer = writer.queryName(query_name)
    return writer.trigger(**(trigger or {"availableNow": True})).start()
