"""The touched-partition merge shared by the upsert sink, the sketch
stores and the partitioned rollups (``sources.upsert.touched_partitions``
+ ``overwrite_partitions``): a batch reads back only the partitions it
touches, and the past-the-bound semi join leaves the same stored rows as
the literal-filter path."""

from __future__ import annotations

import glob
import os

from oltp_to_data_warehouse_pipeline_spark.operators import bounded
from oltp_to_data_warehouse_pipeline_spark.plans.incremental_agg import (
    RollupSpec,
    read_rollup,
    refresh_rollup,
)
from oltp_to_data_warehouse_pipeline_spark.sources.upsert import (
    read_upserted,
    upsert_parquet,
)
from oltp_to_data_warehouse_pipeline_spark.streaming.sketchstore import (
    merge_batch_into_store,
)

EVENTS = "event_id long, user_id long, ts string"


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _parquet_scans(spark, action) -> list[tuple[int, int]]:
    """(files read, partitions read) of every executed parquet file scan
    of the SQL executions ``action`` runs, from the scan nodes' metrics in
    the SQL status store (``DataFrame.inputFiles()`` is not pruned)."""
    store = spark._jsparkSession.sharedState().statusStore()
    before = {e.executionId() for e in _seq(store.executionsList())}
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    scans = []
    for e in _seq(store.executionsList()):
        if e.executionId() in before:
            continue
        values = {t._1(): t._2() for t in _seq(store.executionMetrics(e.executionId()).toSeq())}
        for node in _seq(store.planGraph(e.executionId()).allNodes()):
            if node.name().startswith("Scan parquet"):
                m = {x.name(): values.get(x.accumulatorId()) for x in _seq(node.metrics())}
                scans.append(
                    tuple(
                        int(m[name].replace(",", ""))
                        for name in ("number of files read", "number of partitions read")
                    )
                )
    return scans


def _files(path: str, part_col: str, values) -> int:
    return sum(len(glob.glob(os.path.join(path, f"{part_col}={v}", "*.parquet"))) for v in values)


def _events(spark, days: list[int], base: int):
    rows = [
        (base + i, u, f"2020-01-{d:02d}T0{u % 9}:00:00")
        for i, (d, u) in enumerate((d, u) for d in days for u in range(5))
    ]
    return spark.createDataFrame(rows, EVENTS)


def test_sketch_store_merge_reads_only_touched_days(spark, tmp_path):
    store = str(tmp_path / "store")
    merge_batch_into_store(_events(spark, list(range(1, 17)), 0), store, "user_id", "ts", k=8)
    touched = ["2020-01-03", "2020-01-07", "2020-01-11"]
    want_files = _files(store, "d", touched)

    batch = _events(spark, [3, 7, 11], 1000)
    scans = _parquet_scans(
        spark, lambda: merge_batch_into_store(batch, store, "user_id", "ts", k=8)
    )
    assert scans == [(want_files, 3)], scans


def test_rollup_merge_reads_only_touched_partitions(spark, tmp_path):
    path = str(tmp_path / "rollup")
    spec = RollupSpec(keys=("grp",), sums={"total": "x"})
    first = spark.createDataFrame(
        [(f"g{i:02d}", float(i)) for i in range(12)], "grp string, x double"
    )
    refresh_rollup(spark, first, path, spec, batch_id="b0", partition_key="grp")
    want_files = _files(path, "grp", ["g03", "g07"])

    delta = spark.createDataFrame([("g03", 1.0), ("g07", 2.0)], "grp string, x double")
    scans = _parquet_scans(
        spark,
        lambda: refresh_rollup(spark, delta, path, spec, batch_id="b1", partition_key="grp"),
    )
    assert scans == [(want_files, 2)], scans
    got = {r["grp"]: r["total"] for r in read_rollup(spark, path).collect()}
    assert got["g03"] == 4.0 and got["g07"] == 9.0 and got["g05"] == 5.0


def _on_both_paths(monkeypatch, run):
    """``run()``'s stored rows with the default bound and past it (the
    touched set then stays on the executors); asserts they agree."""
    out = []
    for bound in (bounded.DRIVER_MAX_ROWS, 0):
        monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", bound)
        out.append(run(f"bound{bound}"))
    assert out[0] == out[1]
    return out[0]


def test_upsert_past_the_bound_matches_default(spark, tmp_path, monkeypatch):
    schema = "k string, v long, updated_at long"

    def run(name):
        path = str(tmp_path / name)
        b1 = spark.createDataFrame([(f"k{i}", i, 1) for i in range(20)], schema)
        b2 = spark.createDataFrame([("k3", 30, 2), ("k9", 90, 0), ("new", 7, 2)], schema)
        upsert_parquet(spark, b1, path, "k", ["updated_at"])
        upsert_parquet(spark, b2, path, "k", ["updated_at"])
        return sorted(tuple(r) for r in read_upserted(spark, path).collect())

    rows = _on_both_paths(monkeypatch, run)
    got = {r[0]: r[1] for r in rows}
    assert len(rows) == 21 and got["k3"] == 30 and got["k9"] == 9 and got["new"] == 7


def test_sketch_store_past_the_bound_matches_default(spark, tmp_path, monkeypatch):
    def run(name):
        store = str(tmp_path / name)
        merge_batch_into_store(_events(spark, [1, 2, 3, 4], 0), store, "user_id", "ts", k=8)
        merge_batch_into_store(_events(spark, [2, 4, 5], 100), store, "user_id", "ts", k=8)
        return sorted((str(r["d"]), r["h"]) for r in spark.read.parquet(store).collect())

    rows = _on_both_paths(monkeypatch, run)
    assert {d for d, _ in rows} == {f"2020-01-0{d}" for d in range(1, 6)}


def test_rollup_null_partition_past_the_bound_matches_default(spark, tmp_path, monkeypatch):
    """The NULL partition accumulates across batches on both paths (the
    literal filter matches it with ``isNull``, the semi join with
    ``eqNullSafe``)."""
    spec = RollupSpec(keys=("grp",), sums={"total": "x"})

    def run(name):
        path = str(tmp_path / name)
        for i, rows in enumerate(([("a", 1.0), (None, 10.0)], [("a", 2.0), (None, 20.0)])):
            delta = spark.createDataFrame(rows, "grp string, x double")
            refresh_rollup(spark, delta, path, spec, batch_id=f"b{i}", partition_key="grp")
        return {r["grp"]: (r["total"], r["n_rows"]) for r in read_rollup(spark, path).collect()}

    assert _on_both_paths(monkeypatch, run) == {"a": (3.0, 2), None: (30.0, 2)}
