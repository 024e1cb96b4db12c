"""Poisson-bootstrap confidence intervals — uncertainty for eval metrics.

The classical bootstrap resamples n rows WITH REPLACEMENT B times — at
100 TB that is B shuffles of the corpus, a non-starter.  The Poisson
bootstrap replaces resampling with per-(row, replica) weights drawn from
Poisson(1) (for large n, multinomial resample counts converge to
independent Poisson(1)): ONE pass over the data computes every replica's
weighted aggregate simultaneously, with map-side combine collapsing each
task's contribution to B partial rows.  No data shuffle, no replication of
the corpus — the method production systems actually use for CIs at scale.

Determinism (the oracle-replay requirement): the per-(row, replica)
uniform comes from a Park–Miller LCG step over the row's 48-bit md5 fold
(`util.md5_fold48` — integer multiply/mod only, exact in any engine), and
the Poisson(1) inverse CDF is four literal threshold comparisons
(P(0)=e⁻¹, P(≤1)=2e⁻¹, …; weights are capped at 4 — P(X>4) ≈ 0.37%, a
negligible, deterministic-everywhere truncation).  Replica means divide
an exact DECIMAL weighted sum by an exact BIGINT weight count, so every
engine computes the identical double.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.util import ensure_min_parallelism, md5_fold48

# P(Poisson(1) <= k) for k = 0..3; the CASE ladder truncates at weight 4.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
)
_MERSENNE31 = 2147483647


def poisson_weight(h31: Column, replica: Column) -> Column:
    """Deterministic Poisson(1) weight for (row-hash, replica).

    ``u = ((h31·(48271 + replica) + replica) mod (2³¹−1)) / (2³¹−1)`` —
    the replica enters through the MULTIPLIER, so the per-replica stride
    is row-dependent (``h31`` itself).  A common additive stride
    (``h·a + r·c``) shifts every row's uniform by the same amount, making
    all replicas near-copies of one resample — the bootstrap CI collapses
    to a sliver that misses the mean (caught by eyeballing the first
    output; replica-mean sd under this scheme matches the theoretical
    s/√n within 2%).  The trailing ``+ replica`` keeps the h=0 row from
    freezing at u=0.  The multiply stays ≤ 2⁴⁸ so bigint arithmetic is
    exact in every engine; then the inverse-CDF threshold ladder."""
    u = (
        (h31 * (F.lit(48271) + replica) + replica)
        % _MERSENNE31
        / F.lit(float(_MERSENNE31))
    )
    w = F.when(u < POISSON1_CDF[0], 0)
    for k in range(1, len(POISSON1_CDF)):
        w = w.when(u < POISSON1_CDF[k], k)
    return w.otherwise(len(POISSON1_CDF))


def bootstrap_mean_ci(
    df: DataFrame,
    key_col: str,
    value_col: str,
    replicas: int = 100,
    alpha: float = 0.05,
    value_decimal: str = "decimal(18,2)",
    seed: str = "bs|",
) -> DataFrame:
    """One-row relation: exact mean of ``value_col`` plus its percentile
    bootstrap CI from ``replicas`` Poisson replicas.

    Replica −1 carries weight 1 everywhere — it IS the full sample — so
    the exact mean rides the same single pass as the bootstrap instead of
    paying a second scan.  CI bounds are the ``ceil(α/2·B)``-th smallest
    and largest replica means (ranked with a replica-id tiebreak, so the
    pick is total-order deterministic).

    Scale: the explode is ×(B+1) scan-side with map-side combine down to
    B+1 partials per task; the only exchange carries B+1 rows.  Columns:
    ``n_rows``, ``mean_value``, ``ci_lo``, ``ci_hi`` (4 dp, signbit-safe).
    """
    h31 = md5_fold48(F.col(key_col), seed) % _MERSENNE31
    # the ×(B+1) explode is CPU-bound; a compact single-split input would
    # otherwise run it on one task (ensure_min_parallelism is a no-op when
    # the scan already has ≥ core-count splits — measured 4.3 s → sub-1 s
    # at sf0.1 on the one-row-group fixture)
    e = ensure_min_parallelism(df).select(
        h31.alias("__h"), F.col(value_col).cast(value_decimal).alias("__v")
    ).select(
        "__h", "__v", F.explode(F.sequence(F.lit(-1), F.lit(replicas - 1))).alias("r")
    )
    w = F.when(F.col("r") == -1, F.lit(1)).otherwise(
        poisson_weight(F.col("__h"), F.col("r"))
    )
    means = (
        e.select("r", w.alias("w"), "__v")
        .groupBy("r")
        .agg(
            (
                F.sum(F.col("w") * F.col("__v")).cast("double")
                / F.sum("w").cast("bigint")
            ).alias("m"),
            F.sum("w").cast("bigint").alias("nw"),
        )
    )
    import math

    lo_rank = math.ceil(round(alpha / 2 * replicas, 9))  # ceil(α/2·B), float-drift-safe
    # A replica whose weights all drew 0 (possible only for tiny n) has
    # nw = 0 and a NULL mean; Spark's ASC window puts NULLs FIRST while
    # DuckDB's default is NULLS LAST, so ranks would diverge cross-engine.
    # Such a replica carries no information — drop it in BOTH engines
    # (the oracle mirrors the nw > 0 predicate).  advisor r6 finding.
    boot = means.where((F.col("r") >= 0) & (F.col("nw") > 0))
    asc = Window.orderBy(F.col("m").asc(), F.col("r").asc())
    desc = Window.orderBy(F.col("m").desc(), F.col("r").desc())
    ranked = boot.select(
        "m",
        F.row_number().over(asc).alias("ra"),
        F.row_number().over(desc).alias("rd"),
    )
    pick = ranked.agg(
        F.max(F.when(F.col("ra") == lo_rank, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("rd") == lo_rank, F.col("m"))).alias("hi"),
    )
    full = means.where(F.col("r") == -1).select(
        F.col("nw").alias("n_rows"), F.col("m").alias("mean")
    )
    return full.crossJoin(pick).select(
        "n_rows",
        (F.round("mean", 4) + F.lit(0.0)).alias("mean_value"),
        (F.round("lo", 4) + F.lit(0.0)).alias("ci_lo"),
        (F.round("hi", 4) + F.lit(0.0)).alias("ci_hi"),
    )
