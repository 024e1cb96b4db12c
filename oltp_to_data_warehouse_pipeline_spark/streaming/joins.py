"""Stream-stream interval join (attribution-window semantics).

Beyond the reference's streaming surface (SURVEY §2.8 — its CDC loop has no
joins at all), but the canonical Structured Streaming companion to the batch
``click_purchase_window_join`` query: match every right-side event that lands
inside a bounded time window after a left-side event, per key.

The SAME builder runs on batch DataFrames (no watermark applied — batch has
complete data), which makes the batch result the oracle for the streaming
path: identical expressions, identical join condition.

Scale/state notes: Spark buffers both sides in the state store until the
watermark passes the join-window bound, so state size is
rate × (watermark + interval) per side — finite because the time bound is
part of the JOIN CONDITION (an unbounded-condition stream-stream join can
never evict).  The equi-key (``on``) partitions the shuffle; the interval is
a residual filter on the matched key group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.util import ensure_ltz


def _ensure_ltz(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermark/interval arithmetic needs TIMESTAMP, not TIMESTAMP_NTZ —
    delegates to the single shared cast (util.ensure_ltz)."""
    return ensure_ltz(df, ts_col)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    interval: str = "6 hours",
    watermark: str = "10 minutes",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """All (left, right) pairs with equal ``on`` key and
    ``left.ts < right.ts <= left.ts + interval``.

    Output columns are prefixed (``l_``/``r_``) so the two sides never
    collide.  On streaming inputs both sides get a watermark (required for
    state eviction in append mode); on batch inputs the watermark is a
    no-op and the result is the streaming query's completeness oracle.
    """
    left, right = _ensure_ltz(left, left_ts), _ensure_ltz(right, right_ts)
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    lp = lw.select([F.col(c).alias(f"{left_prefix}{c}") for c in lw.columns])
    rp = rw.select([F.col(c).alias(f"{right_prefix}{c}") for c in rw.columns])
    lts, rts = f"{left_prefix}{left_ts}", f"{right_prefix}{right_ts}"
    cond = (
        (F.col(f"{left_prefix}{on}") == F.col(f"{right_prefix}{on}"))
        & (F.col(rts) > F.col(lts))
        & (F.col(rts) <= F.col(lts) + F.expr(f"INTERVAL {interval}"))
    )
    return lp.join(rp, cond)


def static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment: join each micro-batch against a
    bounded dimension table.

    The static side is re-planned per micro-batch (so a dimension refreshed
    on disk is picked up without restarting the query), and the planner
    broadcasts it when its size is under the session threshold —
    stream-static joins keep NO state, unlike stream-stream: the stream
    side never waits for the dim, so this is the right tool whenever the
    dimension is slowly-changing and bounded.  ``how`` is left/inner (the
    stream side must be preserved or filtered, never the static side).
    """
    if how not in ("left", "inner"):
        raise ValueError("stream-static enrichment supports how='left'|'inner'")
    return stream.join(dim, on, how)
