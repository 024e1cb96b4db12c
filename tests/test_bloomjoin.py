"""bloom_semi_join: exactness under false positives, pruning behavior,
and the audit relation's invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.catalog import load_table
from oltp_to_data_warehouse_pipeline_spark.operators.bloomjoin import (
    bloom_semi_join,
    coarse_survivor_stats,
)

SF = "/root/testdata/sf0.001"


def _keys(spark):
    return load_table(spark, SF, "customer").where(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 9000)
    )


def test_matches_plain_semi_join_even_when_bloom_saturates(spark):
    """Result equality is the operator's contract: with num_bits tiny the
    coarse phase admits nearly everything (max false positives), and the
    exact phase must still reduce it to the plain semi join."""
    o = load_table(spark, SF, "orders")
    keys = _keys(spark)
    expected = sorted(
        r["o_orderkey"]
        for r in o.join(keys, o.o_custkey == keys.c_custkey, "semi").select("o_orderkey").collect()
    )
    for num_bits in (16, 4096, 1 << 17):
        got = sorted(
            r["o_orderkey"]
            for r in bloom_semi_join(o, keys, "o_custkey", "c_custkey", num_bits=num_bits)
            .select("o_orderkey")
            .collect()
        )
        assert got == expected, f"num_bits={num_bits}"


def test_audit_invariants(spark):
    """coarse ⊇ exact (no false negatives), and the realized fp rate sits
    in [0, 1]; at generous sizing the rate must be small."""
    o = load_table(spark, SF, "orders")
    keys = _keys(spark)
    tight = coarse_survivor_stats(o, keys, "o_custkey", "c_custkey", num_bits=64).collect()[0]
    roomy = coarse_survivor_stats(o, keys, "o_custkey", "c_custkey", num_bits=1 << 17).collect()[0]
    for row in (tight, roomy):
        assert row["coarse_survivors"] >= row["exact_members"]
        assert 0.0 <= row["false_positive_rate"] <= 1.0
    # monotonicity: more bits → no more false positives
    assert roomy["coarse_survivors"] <= tight["coarse_survivors"]
    assert roomy["false_positive_rate"] < 0.05, "2^17 bits for ~dozens of keys must be near-exact"
    # both see the same ground truth
    assert tight["exact_members"] == roomy["exact_members"]


def test_coarse_relations_are_broadcast_and_bounded(spark, no_auto_broadcast):
    """The plan must show the coarse prunes as BROADCAST joins (that is the
    whole point: O(num_bits) broadcast regardless of build cardinality),
    also for a build too big to auto-broadcast, whose size the bit
    relations' estimate inherits.  The exact verify is then a shuffle join."""
    o = load_table(spark, SF, "orders")
    keys = _keys(spark)
    df = bloom_semi_join(o, keys, "o_custkey", "c_custkey", num_bits=4096)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 2, "coarse prunes must be broadcast semi joins"
    assert plan.count("SortMergeJoin") == 1
    assert "LeftSemi" in plan


def test_materialize_build_matches_and_releases(spark):
    """materialize_build=True must not change the result; it swaps two
    build re-scans for a bounded localCheckpoint pin."""
    o = load_table(spark, SF, "orders")
    keys = _keys(spark)
    plain = sorted(
        r["o_orderkey"]
        for r in bloom_semi_join(o, keys, "o_custkey", "c_custkey", num_bits=4096)
        .select("o_orderkey")
        .collect()
    )
    mat = sorted(
        r["o_orderkey"]
        for r in bloom_semi_join(
            o, keys, "o_custkey", "c_custkey", num_bits=4096, materialize_build=True
        )
        .select("o_orderkey")
        .collect()
    )
    assert mat == plain
    spark.catalog.clearCache()


def test_fp_rate_null_when_every_probe_is_a_member(spark):
    """Degenerate audit: every probe row is a build member → the
    non-member pool is empty and the rate is undefined.  Both engines
    must yield NULL (Spark int/0 → NULL; the oracle guards with NULLIF —
    IEEE double/0 would be NaN/inf and diverge the hash gate).  advisor
    r6 finding."""
    o = load_table(spark, SF, "orders")
    keys = o.select(F.col("o_custkey").alias("c_custkey")).distinct()
    row = coarse_survivor_stats(o, keys, "o_custkey", "c_custkey", num_bits=4096).collect()[0]
    assert row["exact_members"] == row["probe_rows"]
    assert row["false_positive_rate"] is None
