"""Merge-on-read layout of the LWW upsert: bucketed base, one delta per
later batch, a fold at ``FOLD_AT`` deltas, LWW over base ∪ deltas at read."""

from __future__ import annotations

import glob
import os
import random

import pytest

from oltp_to_data_warehouse_pipeline_spark import fs
from oltp_to_data_warehouse_pipeline_spark.operators.dedup import lww_dedup
from oltp_to_data_warehouse_pipeline_spark.sources import upsert
from oltp_to_data_warehouse_pipeline_spark.sources.upsert import (
    FOLD_AT,
    compact_tombstones,
    read_upserted,
    upsert_parquet,
)

SCHEMA = "k string, updated_at long, v string, deleted boolean"


def _batch(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def _put(spark, path, rows, schema=SCHEMA):
    upsert_parquet(spark, _batch(spark, rows, schema), path, "k", ["updated_at"])


def _deltas(path):
    return sorted(glob.glob(f"{path}/_deltas/__delta=*"))


def _rows(df):
    """Rows as tuples over sorted column names, sorted by repr (NULLs)."""
    cols = sorted(df.columns)
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def _state(spark, path):
    return _rows(read_upserted(spark, path))


def _fold_by_replaying(spark, path, rows):
    """Replay ``rows`` until a write folds the deltas into the base."""
    while _deltas(path):
        _put(spark, path, rows)


def _data_files(path):
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                st = os.stat(os.path.join(d, n))
                out[os.path.join(d, n)] = (st.st_ino, st.st_mtime_ns)
    return out


def _base_files(path):
    return {f: st for f, st in _data_files(path).items() if "/_deltas/" not in f}


def test_key_in_base_and_two_deltas_reads_newest_before_and_after_fold(spark, tmp_path):
    path = str(tmp_path / "t")
    _put(spark, path, [("a", 1, "v1", False), ("b", 1, "v1", False)])
    _put(spark, path, [("a", 3, "v3", False)])
    _put(spark, path, [("a", 2, "v2", False)])  # older, arrives last
    assert len(_deltas(path)) == 2
    want = [(False, "a", 3, "v3"), (False, "b", 1, "v1")]
    assert _state(spark, path) == want

    _fold_by_replaying(spark, path, [("b", 1, "v1", False)])
    assert _state(spark, path) == want
    # the fold rewrote the base: the winner is now stored there
    base = spark.read.parquet(path).where("k = 'a'").select("v").collect()
    assert [r["v"] for r in base] == ["v3"]


def test_reads_equal_one_shot_lww_after_every_batch(spark, tmp_path):
    """2 × FOLD_AT batches with tied timestamps, a tombstone and a column
    added mid-way: after each one the read equals one LWW pass over every
    row sent, with and without the tombstone filter."""
    path = str(tmp_path / "t")
    rnd = random.Random(7)
    wide = SCHEMA + ", extra long"
    sent = None
    for i in range(2 * FOLD_AT):
        rows = [
            (f"k{rnd.randrange(8)}", rnd.randrange(4), f"v{rnd.randrange(3)}", False)
            for _ in range(5)
        ]
        if i == 3:
            rows.append(("k1", 9, None, True))
        if i >= FOLD_AT // 2:
            rows = [r + (rnd.choice([None, i]),) for r in rows]
            batch = _batch(spark, rows, wide)
        else:
            batch = _batch(spark, rows)
        upsert_parquet(spark, batch, path, "k", ["updated_at"])
        sent = batch if sent is None else sent.unionByName(batch, allowMissingColumns=True)
        one_shot = lww_dedup(sent, ["k"], upsert._order_for(sent, ["updated_at"]))
        assert _state(spark, path) == _rows(one_shot), f"batch {i}"
        live = one_shot.where("not deleted").drop("deleted")
        assert _rows(read_upserted(spark, path, delete_col="deleted")) == _rows(live), f"batch {i}"
    assert len(_deltas(path)) == FOLD_AT - 1


def test_same_batch_twice_reads_the_same_before_and_after_fold(spark, tmp_path):
    path = str(tmp_path / "t")
    _put(spark, path, [("a", 1, "v1", False), ("b", 1, "v1", False)])
    batch = [("a", 2, "v2", False), ("c", 1, "v1", False), ("b", 2, None, True)]
    _put(spark, path, batch)
    once = _state(spark, path)
    _put(spark, path, batch)
    assert _state(spark, path) == once
    _fold_by_replaying(spark, path, batch)
    assert _state(spark, path) == once
    _put(spark, path, batch)
    assert len(_deltas(path)) == 1
    assert _state(spark, path) == once


def test_fold_crash_before_deletes_reads_the_same_and_folds_again(spark, tmp_path, monkeypatch):
    crashed, twin = str(tmp_path / "crashed"), str(tmp_path / "twin")
    batches = [[(f"k{j}", i, f"v{i}", False) for j in range(i, i + 3)] for i in range(FOLD_AT + 1)]
    for path in (crashed, twin):
        for rows in batches[:-1]:
            _put(spark, path, rows)
    assert len(_deltas(crashed)) == FOLD_AT - 1

    def boom(*_args, **_kwargs):
        raise OSError("crash inside the fold")

    base_before = _base_files(crashed)
    with monkeypatch.context() as m:
        m.setattr(fs, "delete", boom)
        with pytest.raises(OSError, match="crash inside the fold"):
            _put(spark, crashed, batches[-1])
    _put(spark, twin, batches[-1])
    assert not _deltas(twin)
    # the overwrite committed, its deltas survived: the read is unchanged
    assert len(_deltas(crashed)) == FOLD_AT
    assert _base_files(crashed) != base_before
    assert _state(spark, crashed) == _state(spark, twin)

    nxt = [("k0", 99, "late", False)]
    _put(spark, crashed, nxt)
    _put(spark, twin, nxt)
    assert not _deltas(crashed)
    assert _state(spark, crashed) == _state(spark, twin)
    _fold_by_replaying(spark, twin, nxt)
    assert _rows(spark.read.parquet(crashed)) == _rows(spark.read.parquet(twin))


def test_compact_tombstones_purges_an_expired_tombstone_in_a_delta(spark, tmp_path):
    path = str(tmp_path / "t")
    _put(spark, path, [("a", 1, "v1", False), ("b", 1, "v1", False)])
    _put(spark, path, [("a", 2, None, True)])
    assert len(_deltas(path)) == 1
    compact_tombstones(spark, path, "deleted", "updated_at", 5)
    assert not _deltas(path)
    assert _state(spark, path) == [(False, "b", 1, "v1")]


def test_other_order_cols_or_key_raise(spark, tmp_path):
    path = str(tmp_path / "t")
    _put(spark, path, [("a", 1, "v1", False)])
    batch = _batch(spark, [("a", 2, "v2", False)])
    with pytest.raises(ValueError, match="order columns"):
        upsert_parquet(spark, batch, path, "k", ["updated_at", "v"])
    with pytest.raises(ValueError, match="order columns"):
        upsert_parquet(spark, batch, path, "v", ["updated_at"])
    assert not _deltas(path)


def test_table_without_metadata_records_it_on_its_first_delta(spark, tmp_path):
    path = str(tmp_path / "t")
    _put(spark, path, [("a", 1, "v1", False)])
    os.remove(f"{path}/_upsert.json")  # a base written before the deltas
    _put(spark, path, [("a", 2, "v2", False)])
    assert os.path.exists(f"{path}/_upsert.json")
    assert _state(spark, path) == [(False, "a", 2, "v2")]


def test_second_write_adds_one_file_and_leaves_the_buckets(spark, tmp_path):
    path = str(tmp_path / "t")
    _put(spark, path, [(f"k{i}", 1, "v1", False) for i in range(200)])
    before = _data_files(path)
    assert len(before) > 1
    _put(spark, path, [(f"k{i}", 2, "v2", False) for i in range(0, 200, 2)])
    after = _data_files(path)
    assert {f: st for f, st in after.items() if f in before} == before
    added = sorted(set(after) - set(before))
    assert len(added) == 1 and "/_deltas/" in added[0]
