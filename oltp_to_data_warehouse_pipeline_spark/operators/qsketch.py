"""Mergeable quantile sketch via deterministic bottom-k row sampling —
order statistics for stored rollups, the quantile sibling of
:mod:`operators.kmv`.

Exact per-window percentiles have the same problem exact distincts do:
every window re-shuffles every raw value it covers (`status_price_median`
et al. are fine per-query; a rollup serving arbitrary windows is not).
Spark's ``approx_percentile`` solves the single-pass case but its
summary is opaque — it cannot be STORED as a relation, MERGED in plain
SQL, or replayed by another engine, so a differential harness can never
certify it.  This module uses the classic sample-based alternative:
bottom-k rows by a uniform hash = a fixed-size simple random sample
without replacement, deterministic given the data.

1. **Sketch** — hash each row's unique key with the engine-portable
   48-bit md5 fold (seed ``"qs|"``) and keep the ``k`` rows with the
   smallest ``(hash, value)`` per group, carrying the VALUE column: ≤ k
   rows per group, uniform over the group's rows because the hash order
   is independent of the values (the value tiebreak only fires on 48-bit
   fold collisions and exists to pin the pick deterministically on both
   engines — at that point the colliding rows are exchangeable for
   sampling purposes up to their values, and the bias of preferring the
   smaller value on a ~n²/2⁴⁹ event is unmeasurable).
2. **Merge** — the k smallest of a union under a total order are a
   subset of the union of each part's k smallest (the KMV merge theorem
   over ROWS; disjoint groups never share rows), so re-ranking unioned
   part-sketches IS the union's bottom-k: month sketches roll up to
   quarters without touching raw data, k rows per part in, k rows out.
3. **Estimate** — the p-quantile of the sample: the element at rank
   ``1 + floor(p·(m−1))`` of the m sample values ordered by
   ``(value, hash)`` — quantile "type 1" on a deterministic sample, the
   identical pick on both engines.

Merge-then-estimate equals estimate-over-raw-bottom-k by the subset
property, which is exactly what the differential oracle exercises: it
replays the sketch from raw rows while the Spark plan merges stored
part-sketches — a hash mismatch catches a broken fold, a broken merge,
or a broken rank pick.

Sample-quantile error is ±O(1/√k) in RANK space (Dvoretzky–Kiefer–
Wolfowitz: P(sup|F̂−F| > ε) ≤ 2e^(−2kε²)); tests/test_qsketch.py asserts
it statistically against a planted distribution — the cross-engine gate
proves agreement, not validity (the round-6 bootstrap lesson).

Scale path (the same coarse-then-exact shape as ``kmv_sketch``, with an
EXACT sizer since row counts, unlike distinct counts, aggregate
map-side): per-group counts size a hash admission threshold
``t = 4k/n · 2^48`` applied SCAN-SIDE, so the rank exchange carries an
expected 4k rows per group instead of the group's full row set; groups
whose active threshold admitted fewer than k rows are rescued with
their unfiltered row set (Binomial(n, 4k/n) < k has cryptographically
small odds, but the rescue makes equality with the plain formulation
structural, not probabilistic).  Nothing is ever data-sized per
partition: the only windows partition by group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.operators.bounded import collect_bounded
from oltp_to_data_warehouse_pipeline_spark.operators.kmv import HASH_SPACE, _ns_join
from oltp_to_data_warehouse_pipeline_spark.util import md5_fold48

_SAFETY = 4  # threshold headroom multiple over k


def qs_hash(key: Column | str) -> Column:
    """The sample hash: seeded engine-portable 48-bit md5 fold."""
    return md5_fold48(key, "qs|")


def _bottom_k(rows: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    w = Window.partitionBy(*group_cols).orderBy("h", "v")
    return (
        rows.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= k)
        .select(*group_cols, "h", "v")
    )


def qsample_sketch_rows(
    df: DataFrame,
    key_col: str,
    value_col: str,
    group_cols: list[str],
    k: int = 256,
) -> list[tuple] | None:
    """Bounded driver path of :func:`qsample_sketch` (``prefilter=True``):
    the same sketch as ``(group…, h, v)`` tuples, or None when any of its
    collects exceeds the shared driver bound — the quantile twin of
    :func:`operators.kmv.kmv_sketch_rows` (see its docstring for the
    job-floor rationale).  Unlike the KMV twin, the survivor stream here
    is ~SAFETY·k ROWS per group (not distinct hashes), so collecting it
    whole measured ~4× the bytes of the final sketch; instead the collect
    job carries the rank window the consumer would pay anyway and ships
    only ``__r ≤ k`` rows plus a per-group survivor COUNT for the audit
    (round-12 profile: 1.3 s → ~1.0 s for the collect job, and the driver
    does no sorting at all).

    Parity argument per step: active thresholds = the ``__n > SAFETY·k``
    rows of the exact sizer; survivors = raw rows with ``h < t``
    (inactive groups unfiltered); ranked = per-group bottom-k of
    survivors by ``(h, v)`` with the group's survivor count riding along;
    audit = active groups with < k survivors (zero-survivor groups are
    absent from ``ranked`` and default to 0); final = ranked rows of
    non-audit groups + audit groups' raw rows ranked ≤ k — kept and
    rescued groups are disjoint, so per-branch ranking equals the
    distributed union rank."""
    g = [F.col(c) for c in group_cols]
    spark = df.sparkSession
    ok = F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
    active = (
        df.where(ok)
        .groupBy(*g)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > _SAFETY * k)
        .select(
            *g,
            (F.lit(float(_SAFETY * k * HASH_SPACE)) / F.col("__n"))
            .cast("bigint")
            .alias("__t"),
        )
    )
    trows = collect_bounded(active)
    if trows is None:
        return None
    raw = df.where(ok).select(
        *g, qs_hash(key_col).alias("h"), F.col(value_col).alias("v")
    )
    if trows:
        lt = spark.createDataFrame(trows, active.schema)
        survivors = (
            # bounded: ≤ DRIVER_MAX_ROWS rows, built on the driver
            _ns_join(raw, F.broadcast(lt), group_cols, "left")
            .where(F.col("h") < F.coalesce(F.col("__t"), F.lit(HASH_SPACE)))
            .select(*group_cols, "h", "v")
        )
    else:
        survivors = raw
    wr = Window.partitionBy(*group_cols).orderBy("h", "v")
    wc = Window.partitionBy(*group_cols)
    ranked = (
        survivors.withColumn("__r", F.row_number().over(wr))
        .withColumn("__cnt", F.count(F.lit(1)).over(wc))
        .where(F.col("__r") <= k)
    )
    srows = collect_bounded(ranked)
    if srows is None:
        return None
    ng = len(group_cols)
    surv: dict[tuple, list] = {}
    cnt: dict[tuple, int] = {}
    for r in srows:
        gk = tuple(r[:ng])
        surv.setdefault(gk, []).append(gk + (r[ng], r[ng + 1]))
        cnt[gk] = r[ng + 3]
    thr = {tuple(r[:ng]) for r in trows}
    audit = [gk for gk in thr if cnt.get(gk, 0) < k]
    out_rows: list[tuple] = []
    if audit:
        la = spark.createDataFrame(audit, active.select(*group_cols).schema)
        resc = collect_bounded(
            _bottom_k(
                # bounded: ≤ DRIVER_MAX_ROWS rows, built on the driver
                _ns_join(raw, F.broadcast(la), group_cols, "left_semi").select(
                    *group_cols, "h", "v"
                ),
                group_cols,
                k,
            )
        )
        if resc is None:
            return None
        out_rows.extend(tuple(r) for r in resc)
        for gk in audit:
            surv.pop(gk, None)
    for rows in surv.values():
        out_rows.extend(rows)
    return out_rows


def qsample_sketch(
    df: DataFrame,
    key_col: str,
    value_col: str,
    group_cols: list[str],
    k: int = 256,
    prefilter: bool = True,
    pin: bool = True,
) -> DataFrame:
    """Build per-group bottom-k row samples: ``group_cols + (h, v)``,
    ≤ k rows per group.  ``key_col`` must uniquely identify a row within
    its group (it seeds the sample hash; a duplicated key would make its
    rows rise or fall together — still a valid sample of distinct keys,
    not of rows).  NULL values are excluded (order statistics over NULL
    are undefined on both engines).

    ``prefilter=True`` is the scale path (exact-count-sized hash
    threshold + under-k rescue, module docstring); ``False`` is the
    plain formulation the oracle replays.  Same relation either way by
    construction.  ``pin`` materializes the two bounded intermediates
    (one row per group; ~4k rows per group) exactly as ``kmv_sketch``
    does — without it the kept/audit/rescue branches re-derive them and
    the plan explodes (measured on the KMV twin: ~18 scans → 3).

    NULL keys are excluded alongside NULL values (kmv_sketch's guard): a
    NULL key hashes to h = NULL, which ascending-sorts FIRST in Spark but
    is dropped by the prefilter's ``h < t`` — admitting it would break
    the prefilter/plain structural equality AND diverge from the oracle's
    NULLS-LAST ordering.

    The distributed build always runs here; callers with a bounded group
    set try :func:`qsample_sketch_rows` first, which returns the same
    sketch as driver-held rows when it fits the shared driver bound.
    Precondition, as for :func:`operators.kmv.kmv_sketch`: the group
    domain is bounded.  Two one-row-per-group relations (survivor counts,
    audit groups) are broadcast, so every caller groups by a calendar key
    (day, quarter/month).
    """
    g = [F.col(c) for c in group_cols]
    ok = F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
    raw = df.where(ok).select(
        *g, qs_hash(key_col).alias("h"), F.col(value_col).alias("v")
    )
    if not prefilter:
        return _bottom_k(raw, group_cols, k)
    thresholds = (
        df.where(ok)
        .groupBy(*g)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "__t",
            F.when(F.col("__n") <= _SAFETY * k, F.lit(HASH_SPACE)).otherwise(
                (F.lit(float(_SAFETY * k * HASH_SPACE)) / F.col("__n")).cast(
                    "bigint"
                )
            ),
        )
        .select(*g, "__t")
    )
    if pin:
        thresholds = thresholds.localCheckpoint(eager=True)
    survivors = (
        _ns_join(raw, thresholds, group_cols, "inner")
        .where(F.col("h") < F.col("__t"))
        .select(*group_cols, "h", "v")
    )
    if pin:
        survivors = survivors.localCheckpoint(eager=True)
    # A group whose ACTIVE threshold (< HASH_SPACE) admitted fewer than k
    # rows could have lost part of its true bottom-k; rescue it with its
    # unfiltered rows.  Start from THRESHOLDS (complete, one row per
    # group) left-joined to survivor counts, so a zero-survivor group is
    # audited rather than silently dropped (the kmv_sketch lesson).
    audit = (
        _ns_join(
            thresholds,
            # survivors is a pinned join, so the planner sizes this
            # aggregate at the join's product and would sort-merge it
            # bounded: one row per group; every caller groups by a calendar key
            F.broadcast(
                survivors.groupBy(*g).agg(F.count(F.lit(1)).alias("__nsurv"))
            ),
            group_cols,
            "left",
        )
        .where(
            (F.coalesce(F.col("__nsurv"), F.lit(0)) < k)
            & (F.col("__t") < HASH_SPACE)
        )
        .select(*group_cols)
    )
    # bounded: one row per group; every caller groups by a calendar key
    kept = _ns_join(survivors, F.broadcast(audit), group_cols, "left_anti")
    # bounded: one row per group; every caller groups by a calendar key
    rescued = _ns_join(raw, F.broadcast(audit), group_cols, "left_semi").select(
        *group_cols, "h", "v"
    )
    return _bottom_k(kept.unionByName(rescued), group_cols, k)


def _vkey(v):
    """Ascending sort key matching Spark's value order: float NaN sorts
    GREATER than every non-NaN (Python's ``nan < x`` is always False, so
    NaN is lifted into a second rank explicitly).  Values are non-NULL by
    the sketch contract."""
    return (1, 0.0) if isinstance(v, float) and v != v else (0, v)


def qsample_merge_rows(
    rows: list[tuple], fine_cols: list[str], group_cols: list[str], k: int
) -> list[tuple]:
    """Driver-side twin of :func:`qsample_merge` for a sketch the bounded
    driver path already holds as rows (tuples in ``fine_cols + [h, v]``
    order): re-group to ``group_cols`` (a subset of ``fine_cols``) and
    keep each coarse group's bottom-k by ``(h, v)`` — a Python sort over
    ≤ k·|fine groups| tuples, replicating the rank window exactly
    (row_number ties on equal ``(h, v)`` pick an arbitrary one of
    identical tuples, so the output multiset is the same either way).
    Returns tuples in ``group_cols + [h, v]`` order."""
    idx = [fine_cols.index(c) for c in group_cols]
    ng = len(fine_cols)
    out: dict[tuple, list] = {}
    for r in rows:
        gk = tuple(r[i] for i in idx)
        out.setdefault(gk, []).append((r[ng], r[ng + 1]))
    merged: list[tuple] = []
    for gk, hv in out.items():
        hv.sort(key=lambda t: (t[0], _vkey(t[1])))
        merged.extend(gk + t for t in hv[:k])
    return merged


def qsample_quantiles_rows(
    spark,
    rows: list[tuple],
    group_fields,
    value_field,
    probs: dict[str, float],
) -> DataFrame:
    """Driver-side twin of :func:`qsample_quantiles` over local sketch
    rows (tuples in ``group… + (h, v)`` order): per group, the sample
    value at rank ``1 + floor(p·(m−1))`` ordered by ``(v, h)``.  The rank
    arithmetic replicates the SQL exactly — ``floor`` of the same IEEE
    double product — and the pick is a lookup, so the output matches the
    distributed aggregation bit-for-bit.  ``group_fields``/``value_field``
    are the sketch schema's StructFields (the output schema must carry
    the same types the distributed groupBy would).  The distributed
    version's plan over a ≤ k·|groups|-row LOCAL relation still pays two
    window exchanges plus the re-upload of the sketch rows (~0.5 s of
    fixed overhead at local[32], round-12 profile); this is the same
    arithmetic without the jobs."""
    import math

    from pyspark.sql import types as T

    ng = len(group_fields)
    by_g: dict[tuple, list] = {}
    for r in rows:
        by_g.setdefault(tuple(r[:ng]), []).append((r[ng], r[ng + 1]))
    out_rows: list[tuple] = []
    for gk, hv in by_g.items():
        hv.sort(key=lambda t: (_vkey(t[1]), t[0]))
        m = len(hv)
        picks = tuple(
            hv[int(math.floor(p * (m - 1)))][1] for p in probs.values()
        )
        out_rows.append(gk + (m,) + picks)
    schema = T.StructType(
        list(group_fields)
        + [T.StructField("m", T.LongType())]
        + [T.StructField(name, value_field.dataType) for name in probs]
    )
    return spark.createDataFrame(out_rows, schema)


def qsample_merge(
    sketch: DataFrame, group_cols: list[str], k: int
) -> DataFrame:
    """Re-group part-sketches to coarser groups (e.g. month → quarter):
    re-rank the unioned samples by ``(h, v)``, keep k.  Valid because
    disjoint parts never share rows (module docstring, point 2).  Input
    is ≤ k rows per fine group, so the rank shuffle is sketch-sized."""
    return _bottom_k(sketch.select(*group_cols, "h", "v"), group_cols, k)


def qsample_quantiles(
    sketch: DataFrame,
    group_cols: list[str],
    probs: dict[str, float],
) -> DataFrame:
    """Per-group sample quantiles: for each ``name → p`` emit the sample
    value at rank ``1 + floor(p·(m−1))`` ordered by ``(v, h)`` — one
    output row per group with ``m`` (sample size) and one column per
    quantile.  The hash tiebreak pins the pick under duplicate values so
    the selection is deterministic and engine-portable.  The window
    partitions by group (sketch-sized partitions, ≤ k rows each)."""
    wr = Window.partitionBy(*group_cols).orderBy("v", "h")
    wm = Window.partitionBy(*group_cols)
    ranked = sketch.select(
        *group_cols,
        "v",
        F.row_number().over(wr).alias("__rk"),
        F.count(F.lit(1)).over(wm).alias("__m"),
    )
    aggs = [F.max("__m").cast("bigint").alias("m")]
    for name, p in probs.items():
        target = F.floor(F.lit(p) * (F.col("__m") - 1)).cast("bigint") + 1
        aggs.append(
            F.max(F.when(F.col("__rk") == target, F.col("v"))).alias(name)
        )
    return ranked.groupBy(*group_cols).agg(*aggs)
