"""Count-min sketch: exactness of the two-phase heavy-hitter path, the
no-false-negative invariant, and the audit's sizing semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.catalog import load_table
from oltp_to_data_warehouse_pipeline_spark.operators.sketch import (
    cms_candidate_audit,
    cms_counters,
    cms_heavy_hitters,
    exact_heavy_hitters,
)

SF = "/root/testdata/sf0.001"


def test_matches_exact_even_when_sketch_saturates(spark):
    """With width tiny every cell collides (max overcounting) — the exact
    verify phase must still reduce the result to the plain HAVING query."""
    ev = load_table(spark, SF, "events")
    expected = sorted(
        (r["user_id"], r["n_rows"]) for r in exact_heavy_hitters(ev, "user_id", 84).collect()
    )
    assert expected, "fixture must have at least one heavy user for this test to bite"
    for width in (4, 64, 8192):
        got = sorted(
            (r["user_id"], r["n_rows"])
            for r in cms_heavy_hitters(ev, "user_id", 84, width=width).collect()
        )
        assert got == expected, f"width={width}"


def test_estimates_never_undercount(spark):
    """CMS's one-sided error is the correctness foundation: min-of-depth
    counters ≥ true count for every key, at any width."""
    ev = load_table(spark, SF, "events")
    audit = cms_candidate_audit(ev, "user_id", 84, width=64).collect()[0]
    assert audit["max_overestimate"] >= 0
    # candidates is a superset of heavy hitters (no false negatives)
    assert audit["n_candidates"] >= audit["n_heavy"]
    assert audit["n_keys"] >= audit["n_candidates"]


def test_wider_sketch_tightens_candidates(spark):
    ev = load_table(spark, SF, "events")
    tight = cms_candidate_audit(ev, "user_id", 84, width=16).collect()[0]
    roomy = cms_candidate_audit(ev, "user_id", 84, width=1 << 15).collect()[0]
    assert roomy["n_candidates"] <= tight["n_candidates"]
    assert roomy["max_overestimate"] <= tight["max_overestimate"]
    assert roomy["n_heavy"] == tight["n_heavy"], "ground truth must not depend on the sketch"
    # generous sizing: estimates collapse to near-exact
    assert roomy["n_candidates"] == roomy["n_heavy"]


def test_counter_table_is_bounded(spark):
    """The sketch's whole point: the counter relation never exceeds
    width × depth rows regardless of key cardinality."""
    ev = load_table(spark, SF, "events")
    n = cms_counters(ev.select("user_id"), "user_id", width=32, depth=3).count()
    assert n <= 32 * 3


def test_counters_broadcast_in_plan(spark, no_auto_broadcast):
    """The depth counter lookups broadcast even when the planner would not:
    the pinned counters keep the estimate of the data-sized aggregate they
    came from, so at scale only the hint keeps the data unshuffled."""
    ev = load_table(spark, SF, "events")
    df = cms_heavy_hitters(ev, "user_id", 84, width=8192, depth=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") == 3, "depth counter lookups must broadcast"
    assert "SortMergeJoin" not in plan


def test_counters_exclude_null_keys(spark):
    """md5_fold48(NULL) would mint (j, NULL) cells and break the
    width×depth bound by up to `depth` rows — cms_counters must filter
    NULLs itself, not rely on callers (advisor r6 finding)."""
    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",), (None,)], "k string"
    )
    rows = cms_counters(df, "k", width=8, depth=3).collect()
    assert all(r["cell"] is not None for r in rows)
    assert len(rows) <= 8 * 3
    # the non-null mass is fully accounted: 3 rows × 3 depth slices
    assert sum(r["c"] for r in rows) == 3 * 3
