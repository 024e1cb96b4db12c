"""CDC delete tombstones on the LWW upsert sink.

The reference's CDC has no delete handling (upsert-only,
`mongo_postgres_cdc.py:359-380`); tombstones are the standard extension for
Mongo/Debezium `op='d'` events.  Retention semantics under test: tombstones
stay physical (stale replays can't resurrect), reads hide them, newer
inserts override them.
"""

from __future__ import annotations

from oltp_to_data_warehouse_pipeline_spark.sources.upsert import read_upserted, upsert_parquet


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, updated_at long, v string, deleted boolean")


def _state(spark, path):
    return {
        (r["k"], r["v"])
        for r in read_upserted(spark, path, delete_col="deleted").collect()
    }


def test_delete_hides_key_and_survives_stale_replay(spark, tmp_path):
    path = str(tmp_path / "t")
    b1 = _batch(spark, [("a", 1, "v1", False), ("b", 1, "v1", False)])
    upsert_parquet(spark, b1, path, "k", ["updated_at"])

    # delete a at t=2
    upsert_parquet(spark, _batch(spark, [("a", 2, None, True)]), path, "k", ["updated_at"])
    assert _state(spark, path) == {("b", "v1")}

    # stale replay of the t=1 insert: tombstone still outranks it
    upsert_parquet(spark, b1, path, "k", ["updated_at"])
    assert _state(spark, path) == {("b", "v1")}

    # the tombstone is physically retained (replay safety), just hidden
    raw = read_upserted(spark, path)
    assert raw.where("k = 'a' and deleted").count() == 1


def test_reinsert_after_delete_resurfaces(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_parquet(spark, _batch(spark, [("a", 1, "v1", False)]), path, "k", ["updated_at"])
    upsert_parquet(spark, _batch(spark, [("a", 2, None, True)]), path, "k", ["updated_at"])
    upsert_parquet(spark, _batch(spark, [("a", 3, "v3", False)]), path, "k", ["updated_at"])
    assert _state(spark, path) == {("a", "v3")}


def test_delete_batch_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    upsert_parquet(spark, _batch(spark, [("a", 1, "v1", False), ("b", 1, "v1", False)]), path, "k", ["updated_at"])
    d = _batch(spark, [("a", 2, None, True)])
    for _ in range(2):
        upsert_parquet(spark, d, path, "k", ["updated_at"])
        assert _state(spark, path) == {("b", "v1")}


def test_read_without_delete_col_arg_shows_all(spark, tmp_path):
    # backward-compat: callers unaware of tombstones see the raw LWW state
    path = str(tmp_path / "t")
    upsert_parquet(spark, _batch(spark, [("a", 2, None, True)]), path, "k", ["updated_at"])
    assert read_upserted(spark, path).count() == 1


def test_compact_tombstones_purges_past_horizon(spark, tmp_path):
    from oltp_to_data_warehouse_pipeline_spark.sources.upsert import compact_tombstones

    path = str(tmp_path / "t")
    upsert_parquet(
        spark,
        _batch(spark, [("a", 1, "v1", False), ("b", 1, "v1", False)]),
        path, "k", ["updated_at"],
    )
    upsert_parquet(spark, _batch(spark, [("a", 2, None, True)]), path, "k", ["updated_at"])
    upsert_parquet(spark, _batch(spark, [("b", 9, None, True)]), path, "k", ["updated_at"])

    # horizon=5: a's tombstone (t=2) expires, b's (t=9) is retained
    compact_tombstones(spark, path, "deleted", "updated_at", 5)
    raw = read_upserted(spark, path)
    assert raw.where("k = 'a'").count() == 0, "expired tombstone must be purged"
    assert raw.where("k = 'b' and deleted").count() == 1, "live tombstone must survive"
    assert _state(spark, path) == set()


def test_compact_clears_fully_emptied_bucket(spark, tmp_path):
    from oltp_to_data_warehouse_pipeline_spark.sources.upsert import compact_tombstones

    path = str(tmp_path / "t")
    # single bucket -> after compaction the whole bucket partition is empty;
    # the stale files must be physically removed, not left behind
    upsert_parquet(spark, _batch(spark, [("a", 1, None, True)]), path, "k", ["updated_at"])
    compact_tombstones(spark, path, "deleted", "updated_at", 5)
    import glob
    assert not glob.glob(f"{path}/__bucket=*/*.parquet"), "emptied bucket files must be deleted"


def test_compact_rewrites_a_bucket_shared_with_live_rows(spark, tmp_path):
    from oltp_to_data_warehouse_pipeline_spark.sources.upsert import BUCKET_COL, compact_tombstones

    path = str(tmp_path / "t")
    # 100 keys in 64 buckets: some bucket holds two keys
    upsert_parquet(spark, _batch(spark, [(f"k{i}", 1, "v1", False) for i in range(100)]), path, "k", ["updated_at"])
    stored = spark.read.parquet(path)
    shared = stored.groupBy(BUCKET_COL).count().where("count > 1").first()[BUCKET_COL]
    dead, live = [r["k"] for r in stored.where(f"{BUCKET_COL} = {shared}").limit(2).collect()]
    upsert_parquet(spark, _batch(spark, [(dead, 2, None, True)]), path, "k", ["updated_at"])

    compact_tombstones(spark, path, "deleted", "updated_at", 5)
    raw = read_upserted(spark, path)
    assert raw.where(f"k = '{dead}'").count() == 0, "expired tombstone must be purged"
    assert raw.where(f"k = '{live}'").count() == 1, "its bucket's live row must survive"
    assert _state(spark, path) == {(f"k{i}", "v1") for i in range(100)} - {(dead, "v1")}


def test_cdc_delete_marker_end_to_end(spark, tmp_path):
    """A JSON `_deleted: true` message flows through schema inference into a
    boolean landing column; tombstone reads hide the key."""
    import json as _json
    from oltp_to_data_warehouse_pipeline_spark.streaming.cdc import process_microbatch

    wh = str(tmp_path / "wh")
    b1 = spark.createDataFrame(
        [
            (_json.dumps({"id": "1", "name": "alice"}), "users"),
            (_json.dumps({"id": "2", "name": "bob"}), "users"),
        ],
        ["value", "topic"],
    )
    process_microbatch(spark, b1, wh)
    b2 = spark.createDataFrame(
        [(_json.dumps({"id": "1", "_deleted": True}), "users")], ["value", "topic"]
    )
    process_microbatch(spark, b2, wh)
    live = read_upserted(spark, f"{wh}/users", delete_col="_deleted")
    assert {r["kafka_primary_key"] for r in live.collect()} == {"2"}
    # physical tombstone retained for replay safety
    raw = read_upserted(spark, f"{wh}/users")
    assert raw.where("kafka_primary_key = '1' and _deleted").count() == 1
