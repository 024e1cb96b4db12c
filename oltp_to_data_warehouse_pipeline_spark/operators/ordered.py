"""Distributed order statistics — exact global rank, running totals, and
ntile WITHOUT a data-sized single-partition window.

``Window.orderBy(...)`` with no partition spec moves the whole relation
through ONE task.  For day/segment rollups that is bounded and fine (the
reviewed allowlist in tests/test_plans.py), but the customer/user-grained
analytics (Pareto shares, Gini ranks, RFM quartiles, layout simulations)
ran their windows over relations that GROW WITH THE DATA — at 10⁹ keys a
single partition is a cluster-melter.  This module is the two-phase
decomposition the sweep-line prefix sum (operators/intervals.py) already
uses for time buckets, generalized to ANY ordering:

1. **band**: equal-DEPTH bands from ``percentile_approx`` split points of
   a numeric band key aligned with the target order.  The approximation
   only shapes the DISTRIBUTION — results stay exact — because every row
   lands in exactly one band (bands are ``(s_i, s_{i+1}]`` over distinct
   split values, so ties can never straddle a boundary) and bands are
   totally ordered consistently with the key.  Equal-depth (not
   equal-width) because the inputs are Zipf-shaped — an equal-width grid
   would put ~everything in one hot band.
2. **local pass**: per-band ``row_number`` / running sums — parallel
   across bands.
3. **offsets**: one aggregate row per band (≤ ``n_bands`` rows BY
   CONSTRUCTION — the one global window left is over this bounded
   relation), broadcast back and added.

Exact ntile on top: the standard first-``total % n`` tiles-get-one-extra
formula applied to the exact global rank.

Cost vs the single-partition form: one extra aggregate for the split
points and one broadcast join — both over the already-rolled-up relation.
At fixture scale that is noise; at 10⁹ rows it is the difference between
a working plan and an executor OOM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def split_points(
    df: DataFrame, key: Column, n_bands: int = 64, accuracy: int = 10_000
) -> list[float]:
    """Distinct ``percentile_approx`` split values of ``key`` (numeric).
    One aggregation job; the returned list is ≤ n_bands-1 scalars."""
    if n_bands < 1:
        raise ValueError(f"n_bands must be >= 1, got {n_bands}")
    if n_bands == 1:
        return []
    qs = [i / n_bands for i in range(1, n_bands)]
    row = df.select(
        F.percentile_approx(key, F.array(*[F.lit(q) for q in qs]), F.lit(accuracy)).alias("s")
    ).first()
    vals = row["s"] if row is not None and row["s"] is not None else []
    return sorted({float(v) for v in vals if v is not None})


def with_band(
    df: DataFrame,
    key: Column,
    n_bands: int = 64,
    splits: list[float] | None = None,
) -> DataFrame:
    """Adds ``__band`` (int, ascending with ``key``): the count of split
    points strictly below the row's key — a pure codegen'd comparison sum,
    no join.  Equal keys always share a band.

    ``splits``: precomputed split values — pass them when the key domain
    is known (scaled integer grids, pinned bounds rows) or when several
    rank passes can share ONE ``percentile_approx`` aggregation; each
    omitted call otherwise costs a synchronous aggregation job over the
    full upstream pipeline (round-8: the z-order simulation paid that
    twice, 1.2 s → 6.9 s, fixed by deriving splits from its already-pinned
    bounds).  ANY split values give correct results — they only shape the
    distribution — but equal-depth ones bound the per-band row count."""
    if splits is None:
        splits = split_points(df, key, n_bands)
    band = F.lit(0)
    for s in splits:
        band = band + (key > F.lit(s)).cast("int")
    return df.withColumn("__band", band)


def global_order_stats(
    df: DataFrame,
    key: Column,
    tiebreaks: list[Column],
    rank_col: str = "rank",
    running: dict[str, Column] | None = None,
    n_bands: int = 64,
    splits: list[float] | None = None,
) -> DataFrame:
    """``df`` plus an EXACT global ``rank_col`` (row_number) — and, for
    each ``running`` entry, an exact global running sum including the
    current row — under ``ORDER BY key ASC, *tiebreaks ASC``.  For a
    descending order pass a negated key (and negated tiebreaks as
    needed).  No data-sized relation ever crosses a single partition; the
    only global window ranks the ≤ ``n_bands``-row band-totals relation.
    """
    running = running or {}
    b = with_band(df, key, n_bands, splits=splits)
    order = [key.asc()] + [t.asc() for t in tiebreaks]
    w = Window.partitionBy("__band").orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = b.withColumn("__ln", F.row_number().over(w))
    for name, v in running.items():
        local = local.withColumn(f"__ls_{name}", F.sum(v).over(wrun))
    per = b.groupBy("__band").agg(
        F.count(F.lit(1)).alias("__bn"),
        *[F.sum(v).alias(f"__bs_{name}") for name, v in running.items()],
    )
    woff = Window.orderBy("__band").rowsBetween(Window.unboundedPreceding, -1)
    off = per.select(
        "__band",
        F.coalesce(F.sum("__bn").over(woff), F.lit(0)).alias("__off_n"),
        *[
            F.coalesce(F.sum(f"__bs_{name}").over(woff), F.lit(0)).alias(f"__off_{name}")
            for name in running
        ],
    )
    # null-safe on the band: a NULL key yields a NULL band (a real group —
    # it sorts first, matching the window form's NULLS FIRST), and a plain
    # equi-join would silently drop those rows
    out = local.alias("__l").join(
        # bounded: ≤ n_bands + 1 rows (one per band)
        F.broadcast(off).alias("__o"),
        F.col("__l.__band").eqNullSafe(F.col("__o.__band")),
    ).select("__l.*", *[F.col(f"__o.{c}") for c in off.columns if c != "__band"])
    out = out.withColumn(rank_col, (F.col("__off_n") + F.col("__ln")).cast("bigint"))
    for name in running:
        out = out.withColumn(name, F.col(f"__off_{name}") + F.col(f"__ls_{name}"))
    drop = ["__band", "__ln", "__off_n"] + [
        c for name in running for c in (f"__ls_{name}", f"__off_{name}")
    ]
    return out.drop(*drop)


def ntile_from_rank(rank: Column, total: Column, n: int) -> Column:
    """Exact SQL ``ntile(n)`` from an exact global rank and the total row
    count: the first ``total % n`` tiles hold ``total div n + 1`` rows,
    the rest ``total div n`` — matching both engines' window ntile.  All
    arithmetic stays integral (floor of a positive double ratio is exact
    below 2^53)."""
    size = (total / n).cast("bigint")
    extra = total - size * n
    big = size + 1
    boundary = extra * big
    return (
        F.when(rank <= boundary, F.floor((rank - 1) / big) + 1)
        .otherwise(extra + F.floor((rank - 1 - boundary) / size) + 1)
        .cast("int")
    )
