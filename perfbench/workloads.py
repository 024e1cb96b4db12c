"""The benchmark's workloads.

``corpus_dedup`` runs a fixed list of registry queries, each built by its
public builder and forced with the noop sink, in an order the seed permutes
anew for every pass.  ``cdc_upsert`` is a closed loop of
CDC waves: append one seeded wave to a file-backed Kafka log, drain it with
one ``availableNow`` run of :func:`streaming.cdc.start_cdc` on a shared
checkpoint and warehouse, and send the next wave only after that commits.

Every workload has the same three phases:

* set-up: package import, session start, one cold pass and
  ``WARM_PASSES`` more.  On ``corpus_dedup`` the cold pass collects each
  result for the output check;
* the timed window: whole passes until ``seconds`` have elapsed, at least
  ``MIN_PASSES``;
* the output check, outside every timed span.

Set-up, every pass and every operation are timed twice: in wall seconds
and in CPU seconds of the process tree (:class:`CpuMeter`).  The
end-to-end metrics use the CPU times, scaled to a reference host speed
that CpuMeter probes during the timed window: the host's load moves them
far less than the wall times.

After the window, outside every timed span, a full GC: the JVM heap still
in use then, plus the Python driver's peak RSS, is the run's memory figure.
"""

from __future__ import annotations

import gc
import os
import resource
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

# The dedup operators of corpus_dedup, sized so that set-up, the timed
# passes and the oracle check fit one run; design.json lists the registry
# queries left out and why.
CORPUS_DEDUP = [
    "dedup_exact_docs",
    "near_dup_clusters",
    "dup_span_excision",
    "curate_corpus",
]

# corpus_dedup's input: as many documents as the sf0.01 test corpus.
DOCUMENTS = 500

# Passes set-up runs after the cold one.  The cold pass costs two to three
# times a warm one (JIT compilation), and the next one still about 20% more
# CPU time than the passes after it (design.json).
WARM_PASSES = 1

# The timed window runs whole passes until ``seconds`` have elapsed and at
# least this many, and reports their median: after the warm pass a corpus
# pass's CPU time still falls a few percent per pass, and a wave's varies by
# about 5% (design.json).  Set-up and this many passes fill the run budget
# of BENCHMARK.json.
MIN_PASSES = 3


@dataclass
class Ctx:
    """What a runner needs: the run directory, the seed, the window, the
    tracer and the CPU meter; the runner sets ``spark``."""

    run_dir: str
    seed: int
    seconds: float
    tracer: object
    cpu: CpuMeter
    spark: object = None


@dataclass
class Result:
    setup_wall_s: float
    # process-tree CPU seconds of set-up, JIT compilation included
    setup_cpu_s: float
    pass_walls: list[float]
    # each operation's walls over the timed passes: a query, or "wave"
    op_walls: dict[str, list[float]]
    # process-tree CPU seconds of each timed pass and operation, less the
    # JIT compiler threads
    pass_cpus: list[float]
    op_cpus: dict[str, list[float]]
    attempted: int
    failed: int
    window: tuple[float, float]
    # JVM heap in use after a full GC at the end of the window, MB
    heap_mb: float
    # the Python driver's peak RSS at the end of the window, MB
    py_rss_mb: float
    trace_overhead_s: float = 0.0
    # CpuMeter host-speed probes taken during set-up and the timed window
    setup_probes: list[float] = field(default_factory=list)
    probes: list[float] = field(default_factory=list)
    notes: dict = field(default_factory=dict)


def start_session(ctx: Ctx):
    # looked up at call time, so a traced run gets the wrapped get_spark
    from oltp_to_data_warehouse_pipeline_spark import session

    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    ctx.spark = spark
    return spark


def _release(spark) -> None:
    """Drop what the previous query persisted (operators localCheckpoint
    small intermediates), outside every timed span."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)
    spark.catalog.clearCache()


def _live_heap_mb(spark) -> float:
    """The JVM heap still in use after full GCs, in MB.  Python's collection
    releases the JVM objects the last pass's DataFrames held through the
    gateway; a JVM GC queues the broadcasts and shuffles nothing references
    any more and Spark's context cleaner drops their blocks in the
    background, so GCs repeat until the heap stops falling."""
    gc.collect()
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = float("inf")
    for _ in range(6):
        mx.gc()
        now = mx.getHeapMemoryUsage().getUsed()
        if now > used - 2**20:
            break
        used = now
        time.sleep(0.5)
    return min(used, now) / 2**20


def _py_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """The command name and the fields after it of a /proc stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:  # exited meanwhile
        return None
    comm, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
    return comm, rest.split()


# The host's speed changes by up to 2x from minute to minute, and by 20%
# from one second to the next, as the machine's other tenants come and go;
# CPU time follows it (design.json).  CpuMeter's thread therefore also times
# a fixed computation, a sort of PROBE_INPUT, at every reading: the
# end-to-end CPU times are scaled by PROBE_REF_S / (the median probe of the
# same phase, set-up or the timed window), i.e. to what they would read on
# this 4-vCPU host at the speed at which the probe takes PROBE_REF_S.
PROBE_REF_S = 0.0025
PROBE_INPUT = np.random.default_rng(0).random(250_000)


class CpuMeter:
    """CPU seconds used by this process and every process under it: the
    driver JVM and the Python workers it starts, and the host's speed
    meanwhile.  Time the host took from the guest (steal) is not in the CPU
    seconds, but how fast the host ran the guest when it did is.

    The PySpark worker daemon ignores SIGCHLD, so the time of a worker
    that exits never reaches any parent's ``cutime``; a background thread
    therefore reads the process tree every ``interval`` seconds and keeps
    each process's last reading after it has gone.  The JVM's JIT compiler
    threads are read one by one (the JVM runs with a fixed set of them, so
    none exits and takes its time with it)."""

    def __init__(self, interval: float = 0.2):
        self._seen: dict[tuple[int, str], int] = {}  # (pid, start time) -> ticks
        self._probes: list[tuple[float, float]] = []  # (time.time(), probe CPU seconds)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, args=(interval,), daemon=True)
        self._thread.start()

    def _poll(self, interval: float) -> None:
        while not self._stop.wait(interval):
            t = time.thread_time()
            np.sort(PROBE_INPUT)
            self._probes.append((time.time(), time.thread_time() - t))
            self._sample()

    def _sample(self) -> list[int]:
        ppid, ticks = {}, {}
        for pid in os.listdir("/proc"):
            if pid.isdigit() and (st := _stat(f"/proc/{pid}/stat")) is not None:
                f = st[1]
                ppid[int(pid)] = int(f[1])
                ticks[int(pid), f[19]] = int(f[11]) + int(f[12])
        tree, frontier = set(), {os.getpid()}
        while frontier:
            tree |= frontier
            frontier = {p for p, pp in ppid.items() if pp in frontier} - tree
        with self._lock:
            self._seen.update((k, t) for k, t in ticks.items() if k[0] in tree)
        return sorted(tree)

    def read(self) -> tuple[float, float]:
        """(all CPU seconds so far, the JIT compiler threads' share)."""
        jit = 0
        for pid in self._sample():
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:  # exited meanwhile
                continue
            for tid in tids:
                st = _stat(f"/proc/{pid}/task/{tid}/stat")
                if st is not None and "CompilerThre" in st[0]:  # "C1/C2 CompilerThre"
                    jit += int(st[1][11]) + int(st[1][12])
        with self._lock:
            total = sum(self._seen.values())
        return total / _TICK, jit / _TICK

    def probes(self, t0: float, t1: float) -> list[float]:
        """The probe times taken between ``time.time()`` values t0 and t1."""
        return [p for t, p in self._probes if t0 <= t <= t1]

    def work_s(self) -> float:
        """CPU seconds so far, less the JIT compiler threads."""
        total, jit = self.read()
        return total - jit

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# -- query workloads ----------------------------------------------------------


def run_queries(ctx: Ctx, names: list[str], data_dir: str) -> Result:
    """Set-up, timed passes and oracle check for a list of registry
    queries.  ``data_dir`` already holds the seeded input."""
    from check import oracle_results

    tr, cpu = ctx.tracer, ctx.cpu
    rng = np.random.default_rng([ctx.seed, 1])
    t0, s0, e0 = time.monotonic(), cpu.read()[0], time.time()
    from oltp_to_data_warehouse_pipeline_spark.plans.queryset import registry

    queries, oracles = registry()
    spark = start_session(ctx)

    def one_pass() -> tuple[dict[str, float], dict[str, float], int]:
        """Build and force every query once, in a fresh seeded order:
        each query's wall and CPU, and how many raised."""
        walls, cpus, failed = {}, {}, 0
        with tr.span("bench.pass"):
            for name in rng.permutation(names):
                c0 = cpu.work_s()
                q0 = time.perf_counter()
                try:
                    with tr.span("plans.query"):
                        with tr.span("plans.build"):
                            df = queries[name](spark, data_dir)
                        with tr.span("plans.exec"):
                            df.write.format("noop").mode("overwrite").save()
                except Exception:
                    failed += 1
                walls[name] = time.perf_counter() - q0
                cpus[name] = cpu.work_s() - c0
                _release(spark)
        return walls, cpus, failed

    attempted = failed = 0
    collected: dict[str, tuple] = {}
    for name in rng.permutation(names):
        attempted += 1
        try:
            df = queries[name](spark, data_dir)
            collected[name] = (df.columns, dict(df.dtypes), [tuple(r) for r in df.collect()])
        except Exception as e:  # a failing query is counted, not dropped
            collected[name] = e
            failed += 1
        _release(spark)
    for _ in range(WARM_PASSES):
        _, _, f = one_pass()
        attempted, failed = attempted + len(names), failed + f
    setup_s, setup_cpu_s = time.monotonic() - t0, cpu.read()[0] - s0

    pass_walls, pass_cpus = [], []
    op_walls, op_cpus = defaultdict(list), defaultdict(list)
    w0, o0 = time.time(), tr.overhead_s
    deadline = time.monotonic() + ctx.seconds
    while len(pass_walls) < MIN_PASSES or time.monotonic() < deadline:
        walls, cpus, f = one_pass()
        attempted, failed = attempted + len(names), failed + f
        pass_walls.append(sum(walls.values()))
        pass_cpus.append(sum(cpus.values()))
        for name in names:
            op_walls[name].append(walls[name])
            op_cpus[name].append(cpus[name])
    w1, overhead = time.time(), tr.overhead_s - o0
    probes = cpu.probes(w0, w1)
    heap, py_rss = _live_heap_mb(spark), _py_rss_mb()

    mismatched = check_results(collected, oracle_results(data_dir, names, oracles))
    for name, problem in mismatched.items():
        print(f"perfbench: {name}: {problem}", file=sys.stderr)
    failed += len(mismatched)
    return Result(setup_s, setup_cpu_s, pass_walls, op_walls, pass_cpus, op_cpus,
                  attempted, failed, (w0, w1), heap, py_rss, overhead,
                  cpu.probes(e0, w0), probes)


def check_results(collected: dict, expected: dict) -> dict[str, str]:
    """``name -> problem`` for every query whose collected result differs
    from its oracle.  Queries that raised were counted when they raised."""
    from check import check_query

    out = {}
    for name, got in collected.items():
        if isinstance(got, Exception):
            continue
        problem = check_query(got, expected[name])
        if problem is not None:
            out[name] = problem
    return out


# -- cdc_upsert -----------------------------------------------------------------

CDC_WAVE_EVENTS = 500


def run_cdc(ctx: Ctx) -> Result:
    from datagen import CDC_TOPIC, CdcStream

    tr, cpu = ctx.tracer, ctx.cpu
    log_dir = os.path.join(ctx.run_dir, "log")
    wh = os.path.join(ctx.run_dir, "warehouse")
    ckpt = os.path.join(ctx.run_dir, "checkpoint")
    gen = CdcStream(ctx.seed)
    warm = [gen.wave(CDC_WAVE_EVENTS) for _ in range(1 + WARM_PASSES)]

    t0, s0, e0 = time.monotonic(), cpu.read()[0], time.time()
    from oltp_to_data_warehouse_pipeline_spark.sources.kafkalog import LogProducer
    from oltp_to_data_warehouse_pipeline_spark.sources.upsert import read_upserted
    from oltp_to_data_warehouse_pipeline_spark.streaming import cdc

    spark = start_session(ctx)
    producer = LogProducer(log_dir, num_partitions=2)
    progress: list[dict] = []

    def apply(wave) -> tuple[float, float, float, float]:
        """Append one wave and drain it.  Seconds from the first append to
        the commit and from the last append to the commit, wall and CPU."""
        c0 = cpu.work_s()
        a0 = time.perf_counter()
        with tr.span("kafkalog.append"):
            for value, key in wave:
                producer.send(CDC_TOPIC, value, key=key)
        a1 = time.perf_counter()
        c1 = cpu.work_s()
        with tr.span("streaming.drain"):
            stream = cdc.kafka_log_stream(spark, log_dir, [CDC_TOPIC])
            q = cdc.start_cdc(spark, stream, wh, ckpt, trigger_seconds=None)
            if not q.awaitTermination(170):
                q.stop()
                raise TimeoutError("cdc wave did not drain")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        done = time.perf_counter()
        c2 = cpu.work_s()
        progress.extend(q.recentProgress)
        return done - a0, done - a1, c2 - c0, c2 - c1

    attempted = failed = 0
    for wave in warm:
        attempted += 1
        try:
            apply(wave)
        except Exception as e:
            failed += 1
            print(f"perfbench: warm-up wave: {e}", file=sys.stderr)
    setup_s, setup_cpu_s = time.monotonic() - t0, cpu.read()[0] - s0
    warm_batches = len(progress)

    pass_walls, lag_walls, pass_cpus, lag_cpus, payload_bytes = [], [], [], [], 0
    w0, o0 = time.time(), tr.overhead_s
    deadline = time.monotonic() + ctx.seconds
    timed = 0
    # counted by attempts, so waves that keep failing cannot loop forever
    while timed < MIN_PASSES or time.monotonic() < deadline:
        wave = gen.wave(CDC_WAVE_EVENTS)
        payload_bytes += sum(len(v) for v, _ in wave)
        attempted, timed = attempted + 1, timed + 1
        with tr.span("bench.pass"):
            try:
                full, lag, full_cpu, lag_cpu = apply(wave)
                pass_walls.append(full)
                lag_walls.append(lag)
                pass_cpus.append(full_cpu)
                lag_cpus.append(lag_cpu)
            except Exception as e:
                failed += 1
                print(f"perfbench: wave: {e}", file=sys.stderr)
    w1, overhead = time.time(), tr.overhead_s - o0
    probes = cpu.probes(w0, w1)
    heap, py_rss = _live_heap_mb(spark), _py_rss_mb()

    from check import check_cdc

    problems = check_cdc(spark, wh, gen, read_upserted)
    for p in problems:
        print(f"perfbench: cdc check: {p}", file=sys.stderr)
    failed += len(problems)
    nan = [float("nan")]
    return Result(setup_s, setup_cpu_s, pass_walls or nan, {"wave": lag_walls or nan},
                  pass_cpus or nan, {"wave": lag_cpus or nan}, attempted, failed, (w0, w1),
                  heap, py_rss, overhead, cpu.probes(e0, w0), probes,
                  {"progress": progress[warm_batches:],
                   "events": CDC_WAVE_EVENTS * len(pass_walls),
                   "payload_bytes": payload_bytes})
