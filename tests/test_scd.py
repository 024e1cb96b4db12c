"""SCD Type 2 merge semantics (operators/scd.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.operators import scd


def _dim(spark):
    snap = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0), (3, "C", 30.0)],
        "k: long, seg: string, bal: double",
    )
    return scd.scd2_init(snap)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_scd2_change_closes_and_appends(spark):
    dim = _dim(spark)
    upd = spark.createDataFrame([(1, "Z", 10.0)], "k: long, seg: string, bal: double")
    out = scd.scd2_apply(dim, upd, "k", ["seg", "bal"], "2020-01-01")
    k1 = sorted(out.where("k = 1").collect(), key=lambda r: (r["is_current"]))
    assert len(k1) == 2
    closed, open_ = k1
    assert closed["seg"] == "A" and str(closed["valid_to"]) == "2020-01-01" and closed["is_current"] == 0
    assert open_["seg"] == "Z" and open_["valid_to"] is None and open_["is_current"] == 1
    # untouched keys unchanged
    assert out.where("k in (2, 3) and is_current = 1").count() == 2
    assert out.count() == 4


def test_scd2_noop_update_does_not_version(spark):
    dim = _dim(spark)
    upd = spark.createDataFrame([(2, "B", 20.0)], "k: long, seg: string, bal: double")
    out = scd.scd2_apply(dim, upd, "k", ["seg", "bal"], "2020-01-01")
    assert _rows(out) == _rows(dim)


def test_scd2_insert_unknown_key(spark):
    dim = _dim(spark)
    upd = spark.createDataFrame([(9, "N", 1.0)], "k: long, seg: string, bal: double")
    out = scd.scd2_apply(dim, upd, "k", ["seg", "bal"], "2020-01-01")
    r = out.where("k = 9").collect()
    assert len(r) == 1 and r[0]["is_current"] == 1 and str(r[0]["valid_from"]) == "2020-01-01"
    assert out.count() == 4


def test_scd2_reapply_is_noop(spark):
    """Re-sending the batch after it applied must not create versions."""
    dim = _dim(spark)
    upd = spark.createDataFrame([(1, "Z", 10.0)], "k: long, seg: string, bal: double")
    once = scd.scd2_apply(dim, upd, "k", ["seg", "bal"], "2020-01-01")
    twice = scd.scd2_apply(once, upd, "k", ["seg", "bal"], "2020-02-01")
    assert _rows(twice) == _rows(once)


def test_scd2_sequential_changes_build_history(spark):
    dim = _dim(spark)
    u1 = spark.createDataFrame([(1, "Z", 10.0)], "k: long, seg: string, bal: double")
    u2 = spark.createDataFrame([(1, "Y", 10.0)], "k: long, seg: string, bal: double")
    out = scd.scd2_apply(
        scd.scd2_apply(dim, u1, "k", ["seg", "bal"], "2020-01-01"),
        u2,
        "k",
        ["seg", "bal"],
        "2021-01-01",
    )
    hist = sorted(out.where("k = 1").collect(), key=lambda r: str(r["valid_from"]))
    assert [r["seg"] for r in hist] == ["A", "Z", "Y"]
    assert [str(r["valid_to"]) for r in hist] == ["2020-01-01", "2021-01-01", "None"]
    assert [r["is_current"] for r in hist] == [0, 0, 1]
    # exactly one open version per key, intervals contiguous
    assert out.where("is_current = 1").groupBy("k").count().where("count > 1").count() == 0


def test_scd2_untracked_attr_change_ignored(spark):
    """Only tracked columns trigger versioning."""
    dim = _dim(spark)
    upd = spark.createDataFrame([(3, "C", 999.0)], "k: long, seg: string, bal: double")
    out = scd.scd2_apply(dim, upd, "k", ["seg"], "2020-01-01")
    assert _rows(out) == _rows(dim)


def test_scd2_sink_builds_versioned_dim(spark, tmp_path):
    from oltp_to_data_warehouse_pipeline_spark.sources.upsert import (
        read_scd2,
        scd2_upsert_parquet,
    )

    path = str(tmp_path / "dim")
    schema = "k: long, seg: string, bal: double, eff: string"
    b1 = spark.createDataFrame([(1, "A", 10.0, "2020-01-01"), (2, "B", 20.0, "2020-01-01")], schema)
    scd2_upsert_parquet(spark, b1, path, "k", ["seg", "bal"], "eff")
    assert read_scd2(spark, path).count() == 2
    assert read_scd2(spark, path, current_only=True).count() == 2

    # batch 2: change k=1, no-op k=2, insert k=3; within-batch double change
    # on k=1 collapses to the latest
    b2 = spark.createDataFrame(
        [
            (1, "X", 10.0, "2020-02-01"),
            (1, "Z", 10.0, "2020-03-01"),
            (2, "B", 20.0, "2020-03-01"),
            (3, "N", 30.0, "2020-03-01"),
        ],
        schema,
    )
    scd2_upsert_parquet(spark, b2, path, "k", ["seg", "bal"], "eff")
    dim = read_scd2(spark, path)
    k1 = sorted(dim.where("k = 1").collect(), key=lambda r: str(r["valid_from"]))
    assert [r["seg"] for r in k1] == ["A", "Z"]
    assert str(k1[0]["valid_to"]) == "2020-03-01" and k1[0]["is_current"] == 0
    assert k1[1]["valid_to"] is None and k1[1]["is_current"] == 1
    assert dim.where("k = 2").count() == 1  # no-op re-send: not versioned
    assert dim.where("k = 3 and is_current = 1").count() == 1
    assert read_scd2(spark, path, current_only=True).count() == 3


def test_scd2_sink_replay_is_idempotent(spark, tmp_path):
    from oltp_to_data_warehouse_pipeline_spark.sources.upsert import (
        read_scd2,
        scd2_upsert_parquet,
    )

    path = str(tmp_path / "dim")
    schema = "k: long, seg: string, bal: double, eff: string"
    b1 = spark.createDataFrame([(1, "A", 10.0, "2020-01-01")], schema)
    b2 = spark.createDataFrame([(1, "Z", 11.0, "2020-02-01")], schema)
    scd2_upsert_parquet(spark, b1, path, "k", ["seg", "bal"], "eff")
    scd2_upsert_parquet(spark, b2, path, "k", ["seg", "bal"], "eff")
    before = {tuple(r) for r in read_scd2(spark, path).collect()}
    # at-least-once delivery: the same batch arrives again
    scd2_upsert_parquet(spark, b2, path, "k", ["seg", "bal"], "eff")
    after = {tuple(r) for r in read_scd2(spark, path).collect()}
    assert after == before
    assert len(after) == 2


def test_scd2_sink_from_real_stream(spark, tmp_path):
    """End-to-end: a file-source stream drives scd2_upsert_parquet through
    foreachBatch — the actual CDC wiring, not direct calls."""
    from oltp_to_data_warehouse_pipeline_spark.sources.upsert import (
        read_scd2,
        scd2_upsert_parquet,
    )

    src = tmp_path / "src"
    dim_path = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    schema = "k: long, seg: string, bal: double, eff: string"
    b1 = spark.createDataFrame([(1, "A", 10.0, "2020-01-01"), (2, "B", 20.0, "2020-01-01")], schema)
    b1.write.parquet(str(src))

    stream = spark.readStream.schema(b1.schema).option("maxFilesPerTrigger", "1").parquet(str(src))
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _id: scd2_upsert_parquet(
                batch.sparkSession, batch, dim_path, "k", ["seg", "bal"], "eff"
            )
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        assert read_scd2(spark, dim_path, current_only=True).count() == 2
        # second file lands while the stream is live: change + insert
        spark.createDataFrame(
            [(1, "Z", 10.0, "2020-02-01"), (3, "N", 30.0, "2020-02-01")], schema
        ).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    dim = read_scd2(spark, dim_path)
    assert dim.count() == 4  # 2 versions of k=1, one each of k=2, k=3
    assert read_scd2(spark, dim_path, current_only=True).count() == 3
    k1 = {r["seg"]: r["is_current"] for r in dim.where("k = 1").collect()}
    assert k1 == {"A": 0, "Z": 1}


def test_scd2_random_batches_match_reference_simulator(spark):
    """Differential property test: random update-batch sequences applied via
    scd2_apply must match a straightforward per-key Python simulator.
    (Deterministic seed — hypothesis' per-example Spark jobs would be
    minutes per case; one seeded 40-batch run covers the same space.)"""
    import random

    rng = random.Random(42)
    keys = list(range(6))
    segs = ["A", "B", "C"]

    snap_rows = [(k, rng.choice(segs), float(rng.randint(1, 3))) for k in keys[:4]]
    dim = scd.scd2_init(
        spark.createDataFrame(snap_rows, "k: long, seg: string, bal: double")
    )

    # reference state: key -> list of [seg, bal, valid_from, valid_to, is_current]
    ref: dict[int, list[list]] = {
        k: [[s, b, "1900-01-01", None, 1]] for k, s, b in snap_rows
    }

    for day in range(1, 8):
        eff = f"2020-01-{day:02d}"
        batch = [
            (k, rng.choice(segs), float(rng.randint(1, 3)))
            for k in rng.sample(keys, rng.randint(1, len(keys)))
        ]
        upd = spark.createDataFrame(batch, "k: long, seg: string, bal: double")
        # truncate lineage between rounds: each apply layers joins over the
        # previous result, and a 7-deep nested plan stalls the driver (the
        # same reason connected_components checkpoints per iteration)
        dim = scd.scd2_apply(dim, upd, "k", ["seg", "bal"], eff).localCheckpoint(eager=True)
        for k, s, b in batch:
            if k not in ref:
                ref[k] = [[s, b, eff, None, 1]]
                continue
            cur = next(v for v in ref[k] if v[4] == 1)
            if (cur[0], cur[1]) != (s, b):
                cur[3], cur[4] = eff, 0
                ref[k].append([s, b, eff, None, 1])

    got = {
        (r["k"], r["seg"], r["bal"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
        for r in dim.collect()
    }
    want = {
        (k, s, b, vf, str(None) if vt is None else vt, cur)
        for k, versions in ref.items()
        for s, b, vf, vt, cur in versions
    }
    assert got == want
