"""Skew-mitigation join: explicit key salting.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
session.py) handles most skew at runtime, but it only splits *sort-merge*
partitions.  When a replicated (broadcast-infeasible) dimension meets a fact
table whose join key is pathologically hot — the classic 100 TB failure mode
— explicit salting is the deterministic fix: the hot key's rows spread over
``salts`` shuffle partitions, the small side is replicated ``salts``×.

Result is EXACTLY the plain equi-join (the salt is derived, not random, and
joined on (key, salt)); only the physical distribution changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``large ⋈ small ON on`` with the large side salted.

    The salt must be deterministic but uncorrelated with the join key, so it
    is derived by hashing the large side's full row (xxhash64 over all
    columns); every hot-key row gets a pseudo-uniform salt in [0, salts).
    The small side is exploded ``salts``× (cheap — it's the small side) and
    the join runs on (key, salt): each formerly-hot shuffle partition is now
    ``salts`` partitions.

    Use when: small side too big to broadcast AND key distribution too hot
    for AQE's partition splitting (single-key skew).  Otherwise prefer plain
    ``large.join(small, on)`` — Catalyst/AQE already handle it.

    Only large-side-preserving join types are salt-safe (a right/full outer
    would emit unmatched small rows once per salt).
    """
    if how not in ("inner", "left", "left_outer", "leftouter", "left_semi", "left_anti"):
        raise ValueError(f"salted_join does not support how={how!r} (small side replicated)")
    salt_expr = F.pmod(F.xxhash64(*[F.col(c) for c in large.columns]), F.lit(salts))
    salted_large = large.withColumn("__salt", salt_expr.cast("int"))
    salted_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    # hint the shuffle path: salting exists precisely because the small side
    # is assumed broadcast-infeasible; without the hint Catalyst would just
    # broadcast the (locally tiny) exploded side and no salt would be tested
    return (
        salted_large.join(salted_small.hint("shuffle_hash"), [on, "__salt"], how)
        .drop("__salt")
    )


def skew_profile(df: DataFrame, key_cols: list[str], top_n: int = 20) -> DataFrame:
    """Join-key skew diagnostic: the decision input for `salted_join` vs
    trusting AQE.

    One keyed count + one tiny global aggregate produce, per heavy key:
    its row count, its share of all rows, and the ratio to a perfectly
    uniform key (`skew_x`, rows·distinct/total) — skew_x ≈ 1 means uniform;
    a key at skew_x 500 will put 500× the average partition load on one
    task, which AQE can split for sort-merge joins but nothing can fix for
    a hash-partitioned aggregation except salting.  Output is top_n rows
    (TakeOrderedAndProject), so the diagnostic is safe to run on the full
    100 TB table."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("__total"), F.count(F.lit(1)).alias("__keys")
    )
    return (
        counts.crossJoin(totals)
        .select(
            *key_cols,
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("row_share"),
            F.round(
                F.col("n_rows") * F.col("__keys") / F.col("__total"), 2
            ).alias("skew_x"),
        )
        .orderBy(F.desc("n_rows"), *key_cols)
        .limit(top_n)
    )
