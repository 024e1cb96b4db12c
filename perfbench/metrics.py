"""The metrics a run prints, computed from a run's results.

``end_to_end`` is what the untraced run prints; ``per_layer`` is what the
traced run prints.  Every value is per timed pass unless its name says
otherwise; a pass is the workload's whole query list, or one CDC wave.
"""

from __future__ import annotations

import statistics

import tracing
from workloads import PROBE_REF_S

# Operator (and plan) modules whose eager jobs get their own metric; the
# rest are summed under operators.eager_job_s.other.
EAGER_MODULES = ("operators.dedup", "plans.curation")
SELF_LAYERS = ("bench", "plans", "catalog", "kafkalog", "streaming", "normalizer", "upsert")


def op_p50(ops: dict[str, list[float]]) -> float:
    """The median over operations (queries, or the one CDC wave) of each
    operation's median over the timed passes.  A plain median over all
    executions of a few very different queries falls between two of them
    and swings with their extremes."""
    return statistics.median(statistics.median(v) for v in ops.values())


def host_scale(probes: list[float]) -> float:
    """The factor that takes CPU times measured while these probes were
    taken to the reference host speed (workloads.PROBE_REF_S)."""
    return PROBE_REF_S / statistics.median(probes)


def end_to_end(res) -> dict[str, tuple[float, str]]:
    k = host_scale(res.probes)
    return {
        "setup_s": (res.setup_cpu_s * host_scale(res.setup_probes), "s"),
        "pass_norm_cpu_s": (statistics.median(res.pass_cpus) * k, "s"),
        "query_norm_cpu_p50_s": (op_p50(res.op_cpus) * k, "s"),
        "driver_mem_mb": (res.heap_mb + res.py_rss_mb, "MB"),
    }


def per_layer(tr: tracing.Tracer, res, jobs: list[tracing.Job], stages: dict) -> dict:
    """Per-layer metrics over the timed window, per pass (a pass is one
    full query list, or one CDC wave)."""
    w0, w1 = res.window
    spans = tr.closed(w0, w1)
    tracing.classify(jobs, spans)
    jobs = [j for j in jobs if w0 <= j.start <= w1]
    n = max(len(res.pass_walls), 1)
    tot = tr.totals(spans)
    self_s = tr.self_time_by_layer(spans)

    def span_s(name: str) -> float:
        return tot.get(name, (0, 0.0))[1]

    def span_n(name: str) -> int:
        return tot.get(name, (0, 0.0))[0]

    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (
        sum(s.end - s.start for s in tr.spans if s.name == "session.get_spark" and s.end), "s")
    m["catalog.load_table.calls"] = (span_n("catalog.load_table") / n, "count")
    m["catalog.load_table_s"] = (span_s("catalog.load_table") / n, "s")
    build, exe = span_s("plans.build"), span_s("plans.exec")
    m["plans.build_s"] = (build / n, "s")
    m["plans.exec_s"] = (exe / n, "s")
    m["plans.build_share"] = (build / (build + exe) if build + exe else 0.0, "ratio")
    gap = 0.0
    for q in (s for s in spans if s.name == "plans.query"):
        inside = [(max(j.start, q.start), min(j.end, q.end)) for j in jobs]
        gap += (q.end - q.start) - tracing.union_length(inside)
    m["plans.driver_gap_s"] = (gap / n, "s")

    def job_s(js) -> float:
        return sum(j.end - j.start for j in js)

    eager = [j for j in jobs if j.kind == "eager"]
    m["operators.eager_jobs"] = (len(eager) / n, "count")
    m["operators.eager_job_s"] = (job_s(eager) / n, "s")
    for mod in EAGER_MODULES:
        m[f"operators.eager_job_s.{mod.split('.')[1]}"] = (
            job_s([j for j in eager if j.module == mod]) / n, "s")
    m["operators.eager_job_s.other"] = (
        job_s([j for j in eager if j.module not in EAGER_MODULES]) / n, "s")

    m["spark.jobs"] = (len(jobs) / n, "count")
    for kind in ("schema", "eager", "aqe_stage", "final", "other"):
        m[f"spark.jobs.{kind}"] = (sum(j.kind == kind for j in jobs) / n, "count")
    busy = tracing.union_length([(j.start, j.end) for j in jobs])
    m["spark.job_s"] = (busy / n, "s")
    wall = sum(res.pass_walls)
    m["spark.busy_share"] = (busy / wall if wall else 0.0, "ratio")
    st = [stages[s] for j in jobs for s in j.stage_ids if s in stages]
    m["spark.stages"] = (len(st) / n, "count")
    m["spark.tasks"] = (sum(s["numCompleteTasks"] for s in st) / n, "count")
    m["spark.executor_run_s"] = (sum(s["executorRunTime"] for s in st) / 1e3 / n, "s")
    m["spark.executor_cpu_s"] = (sum(s["executorCpuTime"] for s in st) / 1e9 / n, "s")
    m["spark.gc_s"] = (sum(s.get("jvmGcTime", 0) for s in st) / 1e3 / n, "s")
    m["spark.shuffle_read_bytes"] = (sum(s["shuffleReadBytes"] for s in st) / n, "B")
    m["spark.shuffle_write_bytes"] = (sum(s["shuffleWriteBytes"] for s in st) / n, "B")
    m["spark.spill_bytes"] = (
        sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st) / n, "B")

    prog = res.notes.get("progress", [])
    events = res.notes.get("events", 0)

    def dur(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in prog) / 1e3 / n

    m["kafkalog.append_s"] = (span_s("kafkalog.append") / n, "s")
    m["kafkalog.rows_read_per_event"] = (
        sum(p["numInputRows"] for p in prog) / events if events else 0.0, "ratio")
    m["streaming.start_s"] = (span_s("streaming.start_cdc") / n, "s")
    m["streaming.latest_offset_s"] = (dur("latestOffset"), "s")
    m["streaming.add_batch_s"] = (dur("addBatch"), "s")
    m["streaming.wal_commit_s"] = (dur("walCommit"), "s")
    m["normalizer.infer_schema_s"] = (span_s("normalizer.infer_schema") / n, "s")
    m["upsert.calls"] = (span_n("upsert.upsert_parquet") / n, "count")
    m["upsert.s"] = (span_s("upsert.upsert_parquet") / n, "s")
    writes = [(f, b) for t, f, b in tr.writes if w0 <= t <= w1]
    written = sum(b for _, b in writes)
    m["upsert.bytes_written"] = (written / n, "B")
    m["upsert.files_written"] = (sum(f for f, _ in writes) / n, "count")
    payload = res.notes.get("payload_bytes", 0)
    m["upsert.write_amp"] = (written / payload if payload else 0.0, "ratio")
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = (self_s.get(layer, 0.0) / n, "s")
    m["host.probe_s"] = (statistics.median(res.probes), "s")
    m["trace.setup_s"] = (res.setup_wall_s, "s")
    m["trace.setup_cpu_s"] = (res.setup_cpu_s, "s")
    m["trace.pass_s"] = (statistics.median(res.pass_walls), "s")
    m["trace.pass_cpu_s"] = (statistics.median(res.pass_cpus), "s")
    m["trace.query_p50_s"] = (op_p50(res.op_walls), "s")
    m["trace.overhead_s"] = (res.trace_overhead_s / n, "s")
    return m
