"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _result(**kw):
    base = dict(setup_wall_s=20.0, setup_cpu_s=60.0, pass_walls=[5.0, 5.2],
                op_walls={"a": [0.3, 0.4], "b": [0.5, 0.6]}, pass_cpus=[7.0, 7.4],
                op_cpus={"a": [1.0, 2.0], "b": [1.5, 1.7]}, probes=[0.02, 0.018, 0.019],
                setup_probes=[0.03, 0.025],
                attempted=30, failed=0, window=(0.0, 1e12), heap_mb=150.0,
                py_rss_mb=300.0)
    base.update(kw)
    return workloads.Result(**base)


# -- output checks ------------------------------------------------------------

COLS = ["k", "v"]
SPARK_TYPES = {"k": "bigint", "v": "double"}
DUCK_TYPES = {"k": "BIGINT", "v": "DOUBLE"}
ROWS = [(1, 0.5), (2, 1.25), (3, 2.0)]


def test_query_check_passes_identical_result_in_any_order():
    got = (COLS, SPARK_TYPES, list(reversed(ROWS)))
    assert check.check_query(got, (COLS, DUCK_TYPES, ROWS)) is None


def test_perturbed_row_counts_as_failed():
    collected = {"q": (COLS, SPARK_TYPES, [(1, 0.5), (2, 1.2500001), (3, 2.0)]),
                 "ok": (COLS, SPARK_TYPES, ROWS)}
    expected = {"q": (COLS, DUCK_TYPES, ROWS), "ok": (COLS, DUCK_TYPES, ROWS)}
    assert list(workloads.check_results(collected, expected)) == ["q"]


@pytest.mark.parametrize(
    "got",
    [
        (COLS, SPARK_TYPES, ROWS[:2]),  # dropped row
        (["k", "w"], {"k": "bigint", "w": "double"}, ROWS),  # renamed column
        (COLS, {"k": "bigint", "v": "string"}, ROWS),  # type family
        (COLS, SPARK_TYPES, [(1, 0.5), (2, 1.25), (3, -0.0)]),  # negative zero
    ],
)
def test_query_check_flags(got):
    assert check.check_query(got, (COLS, DUCK_TYPES, ROWS)) is not None


def test_oracle_error_and_hugeint_count_as_failed():
    got = (COLS, SPARK_TYPES, ROWS)
    assert check.check_query(got, RuntimeError("boom")) is not None
    assert check.check_query(got, (COLS, {"k": "HUGEINT", "v": "DOUBLE"}, ROWS)) is not None


def _cdc():
    gen = datagen.CdcStream(seed=3, keys=50)
    for _ in range(3):
        gen.wave(300)
    actual = {k: {f: d[f] for f in check.CDC_FIELDS} for k, d in gen.expected.items()}
    return gen, actual


def test_cdc_check_passes_reference():
    gen, actual = _cdc()
    assert gen.poison_sent > 0
    assert check.compare_cdc(gen.expected, actual, gen.poison_sent, gen.poison_sent) == []


def test_dropped_upsert_key_counts_as_failed():
    gen, actual = _cdc()
    actual.pop(min(actual))
    assert len(check.compare_cdc(gen.expected, actual, gen.poison_sent, gen.poison_sent)) == 1


def test_stale_update_and_lost_dead_letter_count_as_failed():
    gen, actual = _cdc()
    stale = copy.deepcopy(actual)
    stale[min(stale)]["seq"] -= 1
    assert check.compare_cdc(gen.expected, stale, gen.poison_sent, gen.poison_sent)
    assert check.compare_cdc(gen.expected, actual, gen.poison_sent - 1, gen.poison_sent)


def test_cdc_reference_is_last_writer_wins():
    gen = datagen.CdcStream(seed=5, keys=10)
    last = {}
    for value, key in gen.wave(100) + gen.wave(100):
        if key is not None:
            last[key] = json.loads(value)
    assert gen.expected == last


# -- metric declarations --------------------------------------------------------


def _declared(section):
    return {m["name"]: m["unit"] for m in BENCH[section]}


def test_end_to_end_metrics_match_declaration():
    printed = metrics.end_to_end(_result())
    assert {k: u for k, (_, u) in printed.items()} == _declared("end_to_end")
    assert all(v > 0 for v, _ in printed.values())


def test_cpu_times_are_scaled_to_the_reference_host_speed():
    fast = metrics.end_to_end(_result())
    # the same work on a host running at half the speed
    slow = metrics.end_to_end(_result(
        setup_cpu_s=120.0, pass_cpus=[14.0, 14.8], probes=[0.04, 0.036, 0.038],
        setup_probes=[0.06, 0.05],
        op_cpus={"a": [2.0, 4.0], "b": [3.0, 3.4]}))
    for name in ("setup_s", "pass_norm_cpu_s", "query_norm_cpu_p50_s"):
        assert slow[name][0] == pytest.approx(fast[name][0])


def test_per_layer_metrics_match_declaration():
    tr = tracing.Tracer("t", enabled=True)
    with tr.span("bench.pass"):
        with tr.span("plans.query"):
            with tr.span("plans.build"):
                with tr.span("catalog.load_table"):
                    pass
            with tr.span("plans.exec"):
                pass
    res = _result(notes={"progress": [], "events": 0, "payload_bytes": 0})
    printed = metrics.per_layer(tr, res, [], {})
    assert {k: u for k, (_, u) in printed.items()} == _declared("per_layer")
    assert printed["catalog.load_table.calls"][0] == 0.5  # one call over two passes


def test_layer_metric_names_are_kept():
    e2e = set(_declared("end_to_end"))
    assert {"setup_s", "pass_norm_cpu_s", "query_norm_cpu_p50_s", "driver_mem_mb"} <= e2e
    layer = set(_declared("per_layer"))
    assert {
        "session.get_spark_s", "catalog.load_table.calls", "catalog.load_table_s",
        "spark.jobs.schema", "plans.build_s", "plans.exec_s", "plans.driver_gap_s",
        "operators.eager_jobs", "operators.eager_job_s", "spark.jobs", "spark.jobs.aqe_stage",
        "spark.stages", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
        "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
        "spark.spill_bytes", "kafkalog.rows_read_per_event", "streaming.start_s",
        "streaming.latest_offset_s", "streaming.add_batch_s", "streaming.wal_commit_s",
        "normalizer.infer_schema_s", "upsert.calls", "upsert.s", "upsert.bytes_written",
        "upsert.files_written", "upsert.write_amp",
    } <= layer
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


# -- tracing ----------------------------------------------------------------------


def test_self_time_subtracts_children_once():
    tr = tracing.Tracer("t", enabled=True)
    parent = tracing.Span(0, "plans.query", 0.0, 10.0, None, "t")
    kids = [tracing.Span(1, "catalog.load_table", 1.0, 4.0, 0, "t"),
            tracing.Span(2, "catalog.load_table", 3.0, 5.0, 0, "t")]
    out = tr.self_time_by_layer([parent, *kids])
    assert out["plans"] == pytest.approx(6.0)
    assert out["catalog"] == pytest.approx(5.0)


def test_jobs_are_classified_by_span():
    spans = [tracing.Span(0, "plans.build", 0.0, 1.0, None, "t"),
             tracing.Span(1, "operators.eager", 0.5, 0.9, 0, "t", "operators.dedup"),
             tracing.Span(2, "plans.exec", 1.0, 2.0, None, "t")]
    jobs = [tracing.Job(0, "parquet at X", 0.1, 0.2, []),
            tracing.Job(1, "localCheckpoint at X", 0.6, 0.7, []),
            tracing.Job(2, "run at Y", 1.1, 1.3, []),
            tracing.Job(3, "save at Z", 1.4, 1.9, []),
            tracing.Job(4, "parquet at W", 5.0, 5.1, [])]
    tracing.classify(jobs, spans)
    assert [(j.kind, j.module) for j in jobs] == [
        ("schema", None), ("eager", "operators.dedup"), ("aqe_stage", None),
        ("final", None), ("other", None)]


def test_wrappers_replace_name_imported_elsewhere():
    def load_table():
        return 1

    home, user = types.ModuleType("home"), types.ModuleType("user")
    home.load_table = user.load_table = load_table
    tr = tracing.Tracer("t", enabled=True)
    wrapper = tr.wrap(load_table, "catalog.load_table")
    patched = [(m, "load_table", load_table) for m in (home, user)]
    for m, attr, _ in patched:
        setattr(m, attr, wrapper)
    assert user.load_table() == 1 and [s.name for s in tr.spans] == ["catalog.load_table"]
    tracing.uninstall(patched)
    assert home.load_table is load_table and user.load_table is load_table


# -- inputs and command -----------------------------------------------------------------


def test_documents_are_a_function_of_the_seed(tmp_path):
    for name, seed in (("a", 1), ("b", 1), ("c", 2)):
        datagen.write_documents(str(tmp_path / name), seed, 60)

    def read(name):
        return (tmp_path / name / "documents.parquet").read_bytes()

    assert read("a") == read("b") != read("c")


def test_cpu_meter_keeps_the_time_of_exited_children():
    meter = workloads.CpuMeter(interval=0.05)
    try:
        before = meter.read()[0]
        subprocess.run([sys.executable, "-c",
                        "import time\nt = time.process_time()\n"
                        "while time.process_time() - t < 0.6: pass"], check=True)
        assert meter.read()[0] - before >= 0.4
    finally:
        meter.close()


def test_command_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus_dedup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
