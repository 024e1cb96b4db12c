"""Bloom-pruned semi join — the runtime-filter shape for build sides too
big to broadcast.

Spark's own runtime row-level filtering (`spark.sql.optimizer.runtime.
bloomFilter.enabled`) injects a bloom filter under the probe scan when the
optimizer decides to; this operator makes the same two-phase shape an
explicit, engine-portable primitive:

1. **Coarse phase** — the build keys fold into ``num_hashes`` bit-position
   relations of at most ``num_bits`` DISTINCT rows each (a set-bits
   relation rather than a packed bitmap: same O(num_bits) bound, but it
   stays a plain DataFrame every engine can join).  Each relation is
   broadcast regardless of how many build KEYS there are — 10⁸ build keys
   still compress to ≤ num_bits rows — and the probe side is pruned by one
   broadcast LEFT SEMI join per hash function (bloom AND semantics).
   False positives survive this phase; false negatives are impossible.
2. **Exact phase** — the pruned probe rows semi-join the real build keys.
   At scale this is the shuffle join the bloom exists to protect: only
   coarse survivors pay the exchange, so the fact-side shuffle volume
   drops by the filter's selectivity instead of moving the full table.

Result equality: phase 2 makes the operator EXACTLY a semi join — the
bloom layer changes the plan, never the answer — which is what lets a
plain ``WHERE key IN (...)`` SQL oracle verify it end to end.

Hash family: ``conv(substring(md5('bf{h}|' || key), 1, 12), 16, 10) %
num_bits`` — the same 48-bit md5 fold the table-checksum op uses
(engine-portable, seedable by prefix, uniform enough for bit hashing).

100 TB posture: broadcast volume is O(num_bits · num_hashes) rows — a
couple of MB at the 2¹⁷ default — independent of build-side cardinality;
the coarse prunes evaluate scan-side (below the exact join's exchange).
The expected false-positive rate at n build keys is the textbook
``(1 - e^(-kn/m))^k``; size ``num_bits`` ≥ ~10× the build key count for
k=2 to keep it under ~3%.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.util import md5_fold48


def bloom_bit(key: Column, h: int, num_bits: int) -> Column:
    """Bit position of ``key`` under hash function ``h`` (seeded md5 fold)."""
    return md5_fold48(key, f"bf{h}|") % num_bits


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str | None = None,
    num_bits: int = 1 << 17,
    num_hashes: int = 2,
    materialize_build: bool = False,
) -> DataFrame:
    """Semi join ``probe`` against ``build``'s keys with bloom pre-pruning.

    Returns the probe rows whose ``probe_key`` appears in ``build`` —
    bit-identical to ``probe.join(build, key, "semi")`` (the coarse phase
    admits false positives only, and the exact phase removes them).

    The bit relations are broadcast by hint: each holds at most
    ``num_bits`` rows, but the planner sizes a ``distinct`` over the build
    by the build itself, so a build too big to auto-broadcast would turn
    every coarse prune into a sort-merge join that shuffles the whole
    probe side.  The exact verify is the planner's: it broadcasts only
    when the build keys are small; the large build sides this operator
    exists for sort-merge.

    The build side is scanned ``num_hashes + 1`` times (once per bit
    relation + once for the exact keys) — the same re-scan Spark's own
    injected runtime bloom filter performs, and the right default because
    the build is the already-filtered SMALL side of the join.  When the
    build is expensive to recompute (a subquery, not a scan), pass
    ``materialize_build=True`` to localCheckpoint the key set once and
    derive everything from the materialized blocks; the pin is
    |build keys| rows of a single column — caller's call, since at 10⁸
    keys that is executor memory spent to save two scans.
    """
    build_key = build_key or probe_key
    keys = build.select(F.col(build_key).alias("__bf_key")).distinct()
    if materialize_build:
        keys = keys.localCheckpoint(eager=True)
        bit_source = keys
    else:
        # bit relations straight off the build relation: the intermediate
        # key-distinct would add an exchange per bit relation without
        # changing the (already distinct) bit set
        bit_source = build.select(F.col(build_key).alias("__bf_key"))

    pruned = probe
    for h in range(num_hashes):
        bits_h = bit_source.select(
            bloom_bit(F.col("__bf_key"), h, num_bits).alias("__bf_bit")
        ).distinct()
        pruned = (
            pruned.withColumn("__bf_probe", bloom_bit(F.col(probe_key), h, num_bits))
            # bounded: ≤ num_bits rows
            .join(F.broadcast(bits_h), F.col("__bf_probe") == F.col("__bf_bit"), "semi")
            .drop("__bf_probe")
        )

    return pruned.join(keys, F.col(probe_key) == F.col("__bf_key"), "semi")


def coarse_survivor_stats(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str | None = None,
    num_bits: int = 1 << 17,
    num_hashes: int = 2,
) -> DataFrame:
    """Audit relation for sizing ``num_bits``: probe rows, coarse-phase
    survivors, exact members, and the realized false-positive row rate —
    the numbers that decide whether the bloom pays for itself at a given
    selectivity.  One pass over the probe (the three counts are
    conditional sums over the same scan)."""
    build_key = build_key or probe_key
    keys = build.select(F.col(build_key).alias("__bf_key")).distinct()

    marked = probe.select(F.col(probe_key).alias("k"))
    for h in range(num_hashes):
        bits_h = keys.select(bloom_bit(F.col("__bf_key"), h, num_bits).alias("__bf_bit")).distinct()
        hit_h = F.col("__bf_bit").isNotNull().cast("int")
        marked = (
            marked.withColumn("__p", bloom_bit(F.col("k"), h, num_bits))
            # bounded: ≤ num_bits rows
            .join(F.broadcast(bits_h), F.col("__p") == F.col("__bf_bit"), "left")
            .withColumn(f"__hit{h}", hit_h)
            .drop("__p", "__bf_bit")
        )
    coarse = F.expr(" AND ".join(f"__hit{h} = 1" for h in range(num_hashes))).cast("int")
    exact = F.col("__member").isNotNull().cast("int")
    marked = marked.join(
        keys.withColumn("__member", F.lit(1)),
        F.col("k") == F.col("__bf_key"),
        "left",
    )
    return marked.agg(
        F.count(F.lit(1)).cast("bigint").alias("probe_rows"),
        F.sum(coarse).cast("bigint").alias("coarse_survivors"),
        F.sum(exact).cast("bigint").alias("exact_members"),
        (
            F.round(
                (F.sum(coarse) - F.sum(exact))
                # When every probe row is a build member the non-member pool
                # is empty and the rate is undefined: NULL, explicitly, in
                # BOTH engines (Spark int division by zero yields NULL while
                # IEEE double division yields NaN/inf — the oracle mirrors
                # this guard with NULLIF).
                / F.nullif(F.count(F.lit(1)) - F.sum(exact), F.lit(0)),
                6,
            )
            + F.lit(0.0)
        ).alias("false_positive_rate"),
    )
