"""Tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files: :func:`install` wraps
public functions of the package at their module boundaries, and the
workload runners open spans around the calls they make.  Spark's own job
and stage status comes from the driver's local UI REST API, read once
after the timed window.  No package code changes.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

# Each span name is "<layer>.<what>"; the layer is the part before the dot.


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    detail: str | None = None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every span a no-op,
    so untraced runs execute the same runner code."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        # (start, files, bytes) of each traced upsert call
        self.writes: list[tuple[float, int, int]] = []
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, detail: str | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        # spans opened on a callback thread (foreachBatch) hang under the
        # main thread's innermost open span
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), None, parent, self.run_id, detail)
            self.spans.append(sp)
        stack.append(sp.id)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            stack.pop()
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def wrap_upsert(self, fn):
        """Like :meth:`wrap`, and also count the data files the call wrote
        (new or rewritten files under the table path)."""

        def traced(spark, batch, path, *args, **kwargs):
            t0 = time.perf_counter()
            before = _files(path)
            self.overhead_s += time.perf_counter() - t0
            with self.span("upsert.upsert_parquet") as sp:
                out = fn(spark, batch, path, *args, **kwargs)
            t0 = time.perf_counter()
            after = _files(path)
            written = [f for f, st in after.items() if before.get(f) != st]
            self.writes.append((sp.start, len(written), sum(after[f][0] for f in written)))
            self.overhead_s += time.perf_counter() - t0
            return out

        traced.__wrapped__ = fn
        return traced

    # -- aggregation -----------------------------------------------------

    def closed(self, lo: float, hi: float) -> list[Span]:
        return [s for s in self.spans if s.end is not None and lo <= s.start and s.end <= hi]

    def totals(self, spans: list[Span]) -> dict[str, tuple[int, float]]:
        out: dict[str, list] = defaultdict(lambda: [0, 0.0])
        for s in spans:
            out[s.name][0] += 1
            out[s.name][1] += s.end - s.start
        return {k: (n, t) for k, (n, t) in out.items()}

    def self_time_by_layer(self, spans: list[Span]) -> dict[str, float]:
        """Span duration minus the union of its children's intervals,
        summed per layer."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]]
            )
            out[s.layer] += (s.end - s.start) - covered
        return dict(out)


def install(tracer: Tracer, modules) -> list[tuple[object, str, object]]:
    """Wrap the layer-boundary functions.  A function imported by name into
    another module (``plans.queryset`` imports ``load_table``) is wrapped
    there too, so every call site is seen.  Returns what to restore."""
    from oltp_to_data_warehouse_pipeline_spark import catalog, session
    from oltp_to_data_warehouse_pipeline_spark.streaming import cdc, normalizer

    targets = [
        (session.get_spark, "session.get_spark"),
        (catalog.load_table, "catalog.load_table"),
        (cdc.start_cdc, "streaming.start_cdc"),
        (normalizer.infer_schema, "normalizer.infer_schema"),
        (cdc.upsert_parquet, "upsert.upsert_parquet"),
    ]
    patched = []
    for fn, name in targets:
        wrapper = tracer.wrap_upsert(fn) if name.startswith("upsert.") else tracer.wrap(fn, name)
        for mod in modules:
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapper)
                    patched.append((mod, attr, fn))
    return patched


# DataFrame actions a builder may run eagerly (sizing collects, checkpoints).
EAGER_ACTIONS = ("collect", "count", "first", "head", "take", "toPandas", "localCheckpoint", "checkpoint")


def install_eager(tracer: Tracer, package_dir: str) -> list[tuple[object, str, object]]:
    """Wrap the DataFrame actions so that a call made from an operator or
    plan module opens an ``operators.eager`` span naming that module
    (``operators.kmv``, ``plans.curation``).  Jobs submitted inside the span
    are its eager jobs, including the query-stage and checkpoint jobs that
    carry no Python call site in their name."""
    import pyspark
    from pyspark.sql import DataFrame

    try:  # Spark 4 implements the actions in the classic subclass
        from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
    except ImportError:
        ClassicDataFrame = DataFrame
    prefix = package_dir.rstrip(os.sep) + os.sep
    pyspark_dir = os.path.dirname(pyspark.__file__) + os.sep

    def wrap(fn):
        def traced(self, *args, **kwargs):
            t0 = time.perf_counter()
            f = sys._getframe(1)
            while f is not None and f.f_code.co_filename.startswith(pyspark_dir):
                f = f.f_back
            path = f.f_code.co_filename if f is not None else ""
            module = os.path.splitext(path[len(prefix):])[0].replace(os.sep, ".")
            tracer.overhead_s += time.perf_counter() - t0
            if not path.startswith(prefix) or not module.startswith(("operators.", "plans.")):
                return fn(self, *args, **kwargs)
            with tracer.span("operators.eager", module):
                return fn(self, *args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    patched = []
    for name in EAGER_ACTIONS:
        fn = getattr(ClassicDataFrame, name)
        setattr(ClassicDataFrame, name, wrap(fn))
        patched.append((ClassicDataFrame, name, fn))
    return patched


def uninstall(patched) -> None:
    for mod, attr, fn in patched:
        setattr(mod, attr, fn)


def _files(root: str) -> dict[str, tuple[int, int, int]]:
    """Data files under ``root``: path -> (size, mtime_ns, inode)."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                st = os.stat(os.path.join(d, n))
                out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


# -- Spark job / stage ledger -------------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _epoch(ts: str | None) -> float | None:
    # "2026-10-16T22:19:22.418GMT"
    if not ts:
        return None
    from datetime import datetime, timezone

    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


@dataclass
class Job:
    id: int
    name: str
    start: float
    end: float
    stage_ids: list[int]
    kind: str = "other"
    module: str | None = None


def spark_ledger(sc, settle_s: float = 10.0) -> tuple[list[Job], dict[int, dict]]:
    """All finished jobs and completed stages of this application, read
    from the driver UI's REST API once the listener bus has caught up."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + settle_s
    while True:
        jobs = _get(f"{base}/jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages = {
        s["stageId"]: s
        for s in _get(f"{base}/stages")
        if s["status"] == "COMPLETE"
    }
    out = [
        Job(j["jobId"], j["name"], _epoch(j["submissionTime"]), _epoch(j.get("completionTime")),
            list(j["stageIds"]))
        for j in jobs
        if j.get("completionTime")
    ]
    return sorted(out, key=lambda j: j.id), stages


def classify(jobs: list[Job], spans: list[Span]) -> None:
    """Attribute each job to the innermost span it was submitted in and
    name its kind: ``eager`` (jobs of an action a package module ran while
    a query was being built), ``schema`` (the other build-time jobs,
    parquet footer and schema reads), ``aqe_stage`` (query-stage and
    broadcast jobs of the forced action), ``final`` (the action's last
    job), ``other`` (everything else, e.g. CDC micro-batch work)."""
    phases = sorted(
        (s for s in spans if s.name in ("plans.build", "plans.exec", "operators.eager")),
        key=lambda s: s.start,
    )
    last_in_exec: dict[int, int] = {}
    where: dict[int, tuple[Span, Span | None]] = {}
    for j in jobs:
        # REST times have millisecond resolution
        hits = [s for s in phases if s.start - 0.002 <= j.start <= s.end + 0.002]
        phase = next((s for s in reversed(hits) if s.name != "operators.eager"), None)
        if phase is None:
            continue
        eager = next((s for s in reversed(hits) if s.name == "operators.eager"), None)
        where[j.id] = (phase, eager)
        if phase.name == "plans.exec" and eager is None:
            last_in_exec[phase.id] = max(last_in_exec.get(phase.id, -1), j.id)
    for j in jobs:
        phase, eager = where.get(j.id, (None, None))
        if eager is not None:
            j.kind, j.module = "eager", eager.detail
        elif phase is None:
            j.kind = "other"
        elif phase.name == "plans.build":
            j.kind = "eager" if not j.name.startswith("parquet at ") else "schema"
        else:
            j.kind = "final" if last_in_exec[phase.id] == j.id else "aqe_stage"

