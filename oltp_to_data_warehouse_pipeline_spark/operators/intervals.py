"""Sweep-line interval analytics — concurrency over half-open intervals
without a pair join.

"How many sessions/calls/jobs were open at each moment" is an interval
overlap question; the naive formulation self-joins intervals on
``a.start < b.end AND b.start < a.end`` — O(n²) candidate pairs and, with
no equi-key, a broadcast-nested-loop plan that cannot survive scale.  The
sweep line answers it with GROUPED aggregations only: every interval
contributes a ``+1`` boundary at its start and a ``-1`` at its end, and
the running sum of per-instant nets IS the concurrency curve (half-open
``[start, end)``: an interval ending at T and one starting at T never
overlap, which falls out of both deltas landing in the same per-``ts``
net before the cumulative sum is taken).

The prefix sum itself is the scale hazard: a single global
``ORDER BY ts`` window puts every boundary in ONE task.  This operator
runs it two-phase, the distributed-prefix-sum shape:

1. within-bucket running sums — ``Window.partitionBy(bucket)`` over
   time-bucketed boundaries (parallel across buckets);
2. bucket offsets — exclusive cumulative of PER-BUCKET TOTALS, a relation
   with one row per bucket (days/hours), small by construction; only this
   tiny relation crosses a single-partition window, and it broadcasts
   back onto phase 1.

The DuckDB twin replays the plain single-window formulation — equality is
the two-phase decomposition's correctness proof, in the same
oracle-replays-the-plain-form contract as :mod:`operators.sketch`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def concurrency_timeline(
    df: DataFrame,
    start_col: str = "session_start",
    end_col: str = "session_end",
    bucket: str = "day",
) -> DataFrame:
    """``(ts, concurrent)`` — open-interval count immediately AFTER each
    boundary instant, half-open ``[start, end)`` semantics.  One row per
    distinct boundary timestamp; ``bucket`` (a ``date_trunc`` unit) sizes
    the parallel phase of the prefix sum — pick it so one bucket's
    boundaries fit a task (hour/day), and so the bucket-count relation
    stays broadcast-small.

    Intervals with a NULL boundary are EXCLUDED up front: an open-ended
    interval has no ``-1`` event, so it has no place on a finite sweep
    line — and left in, its delta would land in a NULL ``date_trunc``
    bucket that Spark's ASC window orders FIRST, silently shifting every
    real bucket's offset (round-7 review finding).  Callers that want
    still-open intervals counted should cap ``end_col`` with an as-of
    instant (``coalesce(end, now)``) — an explicit modeling decision,
    not a default."""
    df = df.where(F.col(start_col).isNotNull() & F.col(end_col).isNotNull())
    # Both boundaries in ONE pass over the interval relation: a union of
    # two selects plans the upstream subtree once per arm (and once more
    # per consumer below) — with a sessionization feeding this operator
    # that was 4 executions of the expensive subtree.  explode emits the
    # +1/-1 rows from a single scan.
    b = df.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).alias("ts"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col(end_col).alias("ts"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("__e")
    ).select("__e.ts", "__e.delta")
    # Per-instant net FIRST: collapsing simultaneous boundaries before any
    # ordering makes the running sum independent of intra-instant order —
    # ties are where naive sweep implementations diverge between engines.
    #
    # The net aggregation is keyed (__b, ts) after an explicit
    # repartition on __b alone: hashpartitioning(__b) satisfies the
    # clustered distribution of BOTH the (__b, ts) aggregation AND the
    # within-bucket window AND the bucket-totals aggregation, so the whole
    # two-phase prefix sum runs off ONE exchange — and because the run and
    # totals branches share that identical exchange subtree, exchange
    # reuse executes the upstream (boundary generation + whatever feeds
    # it) exactly once.  (__b is a function of ts, so grouping by
    # (__b, ts) collapses exactly the per-ts nets.)
    # The explicit isnotnull(__b) is a semantic no-op (boundaries are
    # null-filtered above, and date_trunc of a non-null ts is non-null) —
    # it exists so BOTH consumers of the exchange see the identical
    # filtered subtree: the final inner join pushes isnotnull(__b) into
    # the run branch but cannot push it below the offsets branch's
    # unpartitioned window, and that asymmetry alone defeated exchange
    # reuse (round-11 executed-plan audit: the boundary build ran twice).
    net = (
        b.withColumn("__b", F.date_trunc(bucket, F.col("ts")))
        .where(F.col("__b").isNotNull())
        .repartition("__b")
        .groupBy("__b", "ts")
        .agg(F.sum("delta").cast("bigint").alias("net"))
    )
    w_in = Window.partitionBy("__b").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = net.withColumn("__run", F.sum("net").over(w_in))
    # Exclusive prefix of bucket totals: the ONLY single-partition window,
    # over one row per bucket.
    totals = net.groupBy("__b").agg(F.sum("net").alias("__tot"))
    w_b = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.withColumn(
        "__off", F.coalesce(F.sum("__tot").over(w_b), F.lit(0))
    ).select("__b", "__off")
    return run.join(offsets, "__b").select(
        "ts", (F.col("__off") + F.col("__run")).cast("bigint").alias("concurrent")
    )


def concurrency_peaks(
    df: DataFrame,
    start_col: str = "session_start",
    end_col: str = "session_end",
    top_n: int = 20,
    bucket: str = "day",
) -> DataFrame:
    """The ``top_n`` highest-concurrency boundary instants, ties broken by
    earliest instant — TakeOrdered over the timeline, no global sort."""
    tl = concurrency_timeline(df, start_col, end_col, bucket)
    return tl.orderBy(F.col("concurrent").desc(), F.col("ts").asc()).limit(top_n)
