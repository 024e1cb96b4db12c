"""Benchmark command: one run of one workload.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 8 --trace 0

Run from the repository root.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (names and
units in ``BENCHMARK.json``; design and predictions in
``perfbench/design.json``).  Everything the run writes (inputs, Spark
scratch, warehouse, checkpoints, ``derby.log``) goes to a fresh directory
under ``.perfbench-runs/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "oltp_to_data_warehouse_pipeline_spark"

# Driver heap for the benchmark session: well below host RAM (the session
# default is 16g).  Parent and change run with the same value.
DRIVER_MEM = "2g"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment(run_dir: str) -> None:
    """Run settings, identical for every commit measured."""
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    # Python data-source workers (the kafkalog broker) import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def log(msg: str) -> None:
    print(f"perfbench: {time.monotonic() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


T0 = time.monotonic()


def run(workload: str, seed: int, seconds: float, traced: bool) -> dict:
    import datagen
    import tracing
    import workloads as wl
    from metrics import end_to_end, per_layer

    run_dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=os.path.join(ROOT, ".perfbench-runs"))
    _environment(run_dir)
    os.chdir(run_dir)  # spark-warehouse/ and derby.log land here
    tracer = tracing.Tracer(os.path.basename(run_dir), enabled=traced)
    ctx = wl.Ctx(run_dir=run_dir, seed=seed, seconds=seconds, tracer=tracer, cpu=wl.CpuMeter())
    patched = []
    try:
        if traced:
            import importlib

            for m in ("session", "catalog", "plans.queryset", "streaming.cdc",
                      "streaming.normalizer", "sources.upsert"):
                importlib.import_module(f"{PACKAGE}.{m}")
            patched = tracing.install(
                tracer, [m for n, m in sys.modules.items() if n.startswith(PACKAGE)]
            ) + tracing.install_eager(tracer, os.path.join(ROOT, PACKAGE))
        if workload == "cdc_upsert":
            res = wl.run_cdc(ctx)
        else:
            data_dir = os.path.join(run_dir, "data")
            datagen.write_documents(data_dir, seed, wl.DOCUMENTS)
            log("inputs written")
            res = wl.run_queries(ctx, wl.CORPUS_DEDUP, data_dir)
        log(f"setup {res.setup_wall_s:.2f}s ({res.setup_cpu_s:.2f} CPU-s, host probe "
            f"{statistics.median(res.setup_probes) * 1e3:.3f} ms); timed passes "
            + " ".join(f"{w:.2f}s" for w in res.pass_walls) + " ("
            + " ".join(f"{c:.2f}" for c in res.pass_cpus) + " CPU-s); per op CPU-s "
            + " ".join(f"{k}:" + ",".join(f"{c:.2f}" for c in v) for k, v in res.op_cpus.items())
            + f"; host probe {statistics.median(res.probes) * 1e3:.3f} ms (median of {len(res.probes)})"
            + f"; heap {res.heap_mb:.0f}MB, python {res.py_rss_mb:.0f}MB; checked")
        if traced:
            jobs, stages = tracing.spark_ledger(ctx.spark.sparkContext)
            metrics = per_layer(tracer, res, jobs, stages)
        else:
            metrics = end_to_end(res)
    finally:
        tracing.uninstall(patched)
        if ctx.spark is not None:
            _stop(ctx.spark)
        ctx.cpu.close()
        log("stopped")
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    return {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["corpus_dedup", "cdc_upsert"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    for need in (PACKAGE, os.path.join("tools", "diffcheck.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    os.makedirs(os.path.join(ROOT, ".perfbench-runs"), exist_ok=True)

    # The JVM can write banners to fd 1; keep stdout for the result line.
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    os.write(real_stdout, (json.dumps(out) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
