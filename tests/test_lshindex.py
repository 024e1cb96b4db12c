"""Persisted MinHash-LSH index: write → append → probe parity with the
inline LSH candidate join, exact-Jaccard verification, broadcast-probe
plan shape, and model-file geometry pinning."""

from __future__ import annotations

import pytest

from oltp_to_data_warehouse_pipeline_spark.catalog import load_table
from oltp_to_data_warehouse_pipeline_spark.operators import dedup, lshindex

SF_DIR = "/root/testdata/sf0.001"


def _split(spark):
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    return d.where("doc_id % 10 != 0"), d.where("doc_id % 10 = 0")


def _inline_cross_pairs(spark, corpus, increment):
    """Ground truth: the inline signatures + candidate join over the UNION,
    restricted to pairs with exactly one endpoint in the increment."""
    union = corpus.unionByName(increment)
    sigs = dedup.minhash_signatures(union, "doc_id", "text")
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id")
    inc = {r["doc_id"] for r in increment.collect()}
    out = set()
    for r in pairs.collect():
        a, b = r["doc_a"], r["doc_b"]
        if (a in inc) != (b in inc):  # exactly one side is the increment
            out.add((a, b) if a in inc else (b, a))
    return out


def test_write_probe_matches_inline_candidates(spark, tmp_path):
    corpus, inc = _split(spark)
    path = str(tmp_path / "lsh")
    lshindex.lsh_write_index(corpus, path)
    got = {
        (r["probe_id"], r["index_id"])
        for r in lshindex.lsh_probe(inc, path).collect()
    }
    assert got == _inline_cross_pairs(spark, corpus, inc)
    assert got, "fixture should contain cross near-dups (it has exact dupes)"


def test_append_extends_the_probe_surface(spark, tmp_path):
    corpus, inc = _split(spark)
    first = corpus.where("doc_id % 3 != 0")
    late = corpus.where("doc_id % 3 = 0")
    path = str(tmp_path / "lsh")
    lshindex.lsh_write_index(first, path)
    before = {
        (r["probe_id"], r["index_id"])
        for r in lshindex.lsh_probe(inc, path).collect()
    }
    lshindex.lsh_append(late, path)
    after = {
        (r["probe_id"], r["index_id"])
        for r in lshindex.lsh_probe(inc, path).collect()
    }
    assert after == _inline_cross_pairs(spark, corpus, inc)
    assert before < after  # the appended docs contributed new pairs


def test_append_is_probe_idempotent_under_replay(spark, tmp_path):
    """At-least-once ingestion: appending the same increment twice leaves
    duplicate band rows but the probe's distinct absorbs them — pair
    output identical."""
    corpus, inc = _split(spark)
    late = corpus.where("doc_id % 3 = 0")
    path = str(tmp_path / "lsh")
    lshindex.lsh_write_index(corpus.where("doc_id % 3 != 0"), path)
    lshindex.lsh_append(late, path)
    once = {tuple(r) for r in lshindex.lsh_probe(inc, path).collect()}
    lshindex.lsh_append(late, path)  # replayed ingest
    twice = {tuple(r) for r in lshindex.lsh_probe(inc, path).collect()}
    assert once == twice


def test_probe_verified_matches_exact_jaccard(spark, tmp_path):
    corpus, inc = _split(spark)
    path = str(tmp_path / "lsh")
    lshindex.lsh_write_index(corpus, path)
    got = {
        (r["probe_id"], r["index_id"]): r["jaccard"]
        for r in lshindex.lsh_probe_verified(
            inc, path, corpus, threshold=0.5
        ).collect()
    }
    assert got, "expected verified near-dups across the split"
    # every verified pair's jaccard equals the exact inline computation
    exact = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"])): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            corpus.unionByName(inc), "doc_id", "text", threshold=0.5
        ).collect()
    }
    for (p, i), j in got.items():
        assert exact[(min(p, i), max(p, i))] == pytest.approx(j)
        assert j >= 0.5


def test_probe_plan_broadcasts_increment_never_shuffles_index(
    spark, tmp_path, no_auto_broadcast
):
    """With size-based broadcasting off (an index past the threshold, or an
    increment the planner cannot size), the increment is still the
    broadcast side and the index streams."""
    corpus, inc = _split(spark)
    path = str(tmp_path / "lsh")
    lshindex.lsh_write_index(corpus, path)
    plan = lshindex.lsh_probe(inc, path)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_verified_probe_never_shuffles_index_or_corpus(
    spark, tmp_path, no_auto_broadcast
):
    """The verify join broadcasts the candidate pairs and streams the corpus
    text: per-probe cost follows the increment, not the corpus."""
    corpus, inc = _split(spark)
    path = str(tmp_path / "lsh")
    lshindex.lsh_write_index(corpus, path)
    df = lshindex.lsh_probe_verified(inc, path, corpus)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2
    assert "hashpartitioning(band" not in plan, "index shuffled"
    assert "hashpartitioning(index_id" not in plan, "corpus shuffled"


def test_model_file_pins_geometry(spark, tmp_path):
    corpus, _ = _split(spark)
    path = str(tmp_path / "lsh")
    lshindex.lsh_write_index(corpus, path, num_hashes=6, bands=3, shingle_n=2)
    m = lshindex.lsh_read_model(spark, path)
    assert m == {"num_hashes": 6, "bands": 3, "shingle_n": 2}
    # band ids in the stored index respect the model's band count
    bands = {r["band"] for r in spark.read.parquet(path).select("band").distinct().collect()}
    assert bands == {0, 1, 2}


def test_layout_guards(spark, tmp_path):
    """Flat and per-batch index layouts refuse each other's operations
    loudly instead of corrupting partition discovery (round-11 review)."""
    from oltp_to_data_warehouse_pipeline_spark.streaming.dedup_ingest import (
        dedup_ingest_sink,
    )

    corpus, inc = _split(spark)
    flat = str(tmp_path / "flat")
    lshindex.lsh_write_index(corpus, flat)
    with pytest.raises(ValueError, match="not per-batch partitioned"):
        lshindex.lsh_probe(inc, flat, before_batch_id=3).collect()

    streamed = str(tmp_path / "streamed")
    b = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    dedup_ingest_sink(f"{streamed}/idx", f"{streamed}/corpus")(b, 0)
    with pytest.raises(ValueError, match="per-batch layout"):
        lshindex.lsh_append(corpus, f"{streamed}/idx")
