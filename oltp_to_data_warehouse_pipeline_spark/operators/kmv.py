"""K-minimum-values (KMV) distinct sketch — mergeable, ORACLE-EXACT
cardinality estimation for rollups that must not rescan raw data.

The exact way to serve "distinct users per arbitrary date window" is a
full ``COUNT(DISTINCT)`` per window: every window re-shuffles every
distinct key it covers, and windows cannot share work.  At 100 TB with
per-day/per-hour rollups that is the dominant recurring cost.  A KMV
sketch (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07 "distinct-value
synopses") replaces it with a bounded relation:

1. **Sketch** — hash each key with the engine-portable 48-bit md5 fold
   (``util.md5_fold48``, seed ``"kmv|"``) and keep the ``k`` SMALLEST
   distinct hash values per group: ≤ k rows per group, no matter how many
   distinct keys exist.
2. **Merge** — the k smallest hashes of a union are a subset of the union
   of each part's k smallest, so re-ranking unioned day sketches yields a
   week/month/window sketch WITHOUT touching raw data: k rows per day in,
   k rows per window out.
3. **Estimate** — with m = |sketch| < k the sketch is exhaustive and the
   estimate is exact (= m); otherwise the k-th smallest hash ``h_k``
   estimates density and ``est = (k-1) · 2^48 div h_k`` (integer
   division — both engines floor positive quotients identically, so the
   DuckDB twin replays the estimate bit-for-bit).

Because merge-then-estimate is IDENTICAL to estimate-over-raw by the
subset property above, the differential oracle computes from raw rows
while the Spark plan merges stored day sketches — a hash mismatch would
catch either a broken fold or a broken merge.

Scale path: building the sketch naively ranks ALL distinct (group, hash)
pairs — the same shuffle as one exact COUNT(DISTINCT), acceptable once
but not what a sketch build should cost.  ``kmv_sketch(prefilter=True)``
bounds it coarse-then-exact, in the house style of
:mod:`operators.bloomjoin` / :mod:`operators.sketch`:

- a map-side-partial ``approx_count_distinct`` (HLL, rsd 2%) sizes each
  group, and only hashes below ``t = 4k/est · 2^48`` enter the
  distinct+rank (expected ≈ 4k survivors per group — the exchange carries
  O(k) rows per group instead of every distinct key);
- the threshold only needs to keep the true k smallest, i.e. ``est < 4n``
  — impossible to violate at rsd 2% — but the plan still VERIFIES it:
  groups whose survivor count lands under k while their threshold was
  active are rescued with their unfiltered hash set (a plan-side
  anti/semi split on the tiny per-group audit relation), so the output is
  bit-identical to the unfiltered formulation by construction, not by
  probabilistic argument.

Estimator error is the standard KMV ~1/sqrt(k-2) relative sd
(tests/test_kmv.py asserts it statistically — the round-6 bootstrap
lesson: the cross-engine gate proves agreement, not validity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.operators.bounded import collect_bounded
from oltp_to_data_warehouse_pipeline_spark.util import md5_fold48

HASH_SPACE = 1 << 48  # md5_fold48 range: [0, 2^48)
_SAFETY = 4  # threshold headroom over the HLL estimate (rsd 0.02)


def _ns_join(
    left: DataFrame, right: DataFrame, group_cols: list[str], how: str
) -> DataFrame:
    """Null-safe equi-join on the group columns, keeping LEFT's copy.

    groupBy/Window treat a NULL group key as a real group, but a plain
    equi-join never matches NULL = NULL — so the prefilter path's three
    group-key joins silently dropped NULL-keyed groups that the plain
    formulation keeps (round-7 review finding; e.g. a day column derived
    from a NULL timestamp).  ``<=>`` keys are still hash-joinable, so the
    broadcast shapes are unchanged."""
    lt, rt = left.alias("__l"), right.alias("__r")
    cond = None
    for c in group_cols:
        term = F.col(f"__l.{c}").eqNullSafe(F.col(f"__r.{c}"))
        cond = term if cond is None else cond & term
    joined = lt.join(rt, cond, how)
    if how in ("left_semi", "left_anti"):
        return joined
    keep = [F.col(f"__l.{c}") for c in left.columns] + [
        F.col(f"__r.{c}") for c in right.columns if c not in left.columns
    ]
    return joined.select(*keep)


def kmv_hash(key: Column | str) -> Column:
    """The sketch hash: seeded engine-portable 48-bit md5 fold."""
    return md5_fold48(key, "kmv|")


def kmv_sketch_rows(
    df: DataFrame, key: str, group_cols: list[str], k: int = 64
) -> list[tuple] | None:
    """Bounded driver path of :func:`kmv_sketch` (``prefilter=True``): the
    same ≤ k-rows-per-group sketch as ``(group…, h)`` tuples, or None when
    any of its collects exceeds the shared driver bound
    (:func:`operators.bounded.collect_bounded`) — the caller then builds
    the distributed sketch.  Each eager ``localCheckpoint`` pin of the
    distributed build costs ~0.5 s of fixed job overhead at sf0.1, while
    for bounded group sets every intermediate here is a few rows per
    group, so collects are the cheaper barriers.

    Step-for-step parity with the distributed formulation (each step is
    the same relation, so the output is bit-identical by construction):
    active thresholds = the ``__t < HASH_SPACE`` rows of ``thresholds``;
    survivors = raw ∩ (h < t, inactive groups unfiltered), distinct;
    audit = active groups with < k survivors (zero-survivor active groups
    INCLUDED — they are absent from the survivor dict and default to 0);
    rescued = per-audit-group distinct raw hashes, ranked ≤ k
    distributed-side; final = per-group k smallest over kept ∪ rescued
    (disjoint by group, so per-branch ranking equals the union rank).
    """
    g = [F.col(c) for c in group_cols]
    spark = df.sparkSession
    active = (
        df.where(F.col(key).isNotNull())
        .groupBy(*g)
        .agg(F.approx_count_distinct(key, rsd=0.02).alias("__acd"))
        .where(F.col("__acd") > _SAFETY * k)
        .select(
            *g,
            (F.lit(float(_SAFETY * k * HASH_SPACE)) / F.col("__acd"))
            .cast("bigint")
            .alias("__t"),
        )
    )
    trows = collect_bounded(active)
    if trows is None:
        return None
    raw = df.where(F.col(key).isNotNull()).select(*g, kmv_hash(key).alias("h"))
    if trows:
        lt = spark.createDataFrame(trows, active.schema)
        survivors = (
            # bounded: ≤ DRIVER_MAX_ROWS rows, built on the driver
            _ns_join(raw, F.broadcast(lt), group_cols, "left")
            .where(F.col("h") < F.coalesce(F.col("__t"), F.lit(HASH_SPACE)))
            .select(*group_cols, "h")
            .distinct()
        )
    else:
        survivors = raw.distinct()
    srows = collect_bounded(survivors)
    if srows is None:
        return None
    ng = len(group_cols)
    surv: dict[tuple, list] = {}
    for r in srows:
        surv.setdefault(tuple(r[:ng]), []).append(r[ng])
    thr = {tuple(r[:ng]): r[ng] for r in trows}
    audit = [gk for gk in thr if len(surv.get(gk, ())) < k]
    out_rows: list[tuple] = []
    if audit:
        la = spark.createDataFrame(
            audit, active.select(*group_cols).schema
        )
        w = Window.partitionBy(*group_cols).orderBy("h")
        resc = collect_bounded(
            # bounded: ≤ DRIVER_MAX_ROWS rows, built on the driver
            _ns_join(raw, F.broadcast(la), group_cols, "left_semi")
            .select(*group_cols, "h")
            .distinct()
            .withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= k)
            .select(*group_cols, "h")
        )
        if resc is None:
            return None
        out_rows.extend(tuple(r) for r in resc)
        for gk in audit:
            surv.pop(gk, None)
    for gk, hs in surv.items():
        hs.sort()
        out_rows.extend(gk + (h,) for h in hs[:k])
    return out_rows


def kmv_sketch(
    df: DataFrame,
    key: str,
    group_cols: list[str],
    k: int = 64,
    prefilter: bool = True,
    pin: bool = True,
) -> DataFrame:
    """``(group…, h)`` — the ≤ k smallest distinct key hashes per group.

    ``prefilter=True`` is the scale path (HLL-sized hash threshold +
    under-k rescue, module docstring); ``False`` is the plain formulation
    the oracle replays.  Both return the same relation by construction.

    ``pin=True`` materializes the two BOUNDED intermediates
    (``thresholds``: one row per group; ``survivors``: ~SAFETY·k rows per
    group) via ``localCheckpoint`` — without it the kept/audit/rescue
    branches each re-derive them and the physical plan explodes to ~18
    input scans / 42 exchanges (measured: 2.0 s → this fix → ~0.5 s at
    sf0.1).  Leave True unless the GROUP count itself is too large to
    cache (e.g. sketches per user over 10⁹ users), where recomputation —
    or a caller-owned persist — is the right trade.

    The distributed build always runs here; callers with a bounded group
    set try :func:`kmv_sketch_rows` first, which returns the same sketch
    as driver-held rows when it fits the shared driver bound.

    Precondition: the group domain is bounded.  The distributed build
    broadcasts two one-row-per-group relations (survivor counts, audit
    groups) that the planner cannot size, so every caller groups by a
    calendar key (day, year, quarter/month); a high-cardinality
    ``group_cols`` would force both through the driver.
    """
    g = [F.col(c) for c in group_cols]
    raw = df.where(F.col(key).isNotNull()).select(*g, kmv_hash(key).alias("h"))
    if prefilter:
        # Coarse: per-group HLL estimate -> hash admission threshold.
        # Map-side partial aggregation; the exchange carries one HLL
        # register set per group, independent of key cardinality.  The
        # threshold filter applies SCAN-SIDE, before any distinct shuffle —
        # that ordering is the whole point of the sketch build.
        thresholds = (
            df.where(F.col(key).isNotNull())
            .groupBy(*g)
            .agg(F.approx_count_distinct(key, rsd=0.02).alias("__acd"))
            .withColumn(
                "__t",
                F.when(F.col("__acd") <= _SAFETY * k, F.lit(HASH_SPACE)).otherwise(
                    (F.lit(float(_SAFETY * k * HASH_SPACE)) / F.col("__acd")).cast("bigint")
                ),
            )
            .select(*g, "__t")
        )
        if pin:
            thresholds = thresholds.localCheckpoint(eager=True)
        survivors = (
            _ns_join(raw, thresholds, group_cols, "inner")
            .where(F.col("h") < F.col("__t"))
            .select(*group_cols, "h")
            .distinct()
        )
        if pin:
            survivors = survivors.localCheckpoint(eager=True)
        # Exact-verify the coarse step: a group whose active threshold
        # (< HASH_SPACE) admitted fewer than k distinct hashes COULD have
        # lost part of its true k-minimum set; rescue it with its
        # unfiltered hash set.  The audit starts from THRESHOLDS (one row
        # per group, complete by construction) left-joined to survivor
        # counts — starting from survivors would silently DROP a group
        # whose every hash landed above its threshold (zero survivors ⇒ no
        # groupBy row ⇒ neither kept nor rescued; md5_fold48 and the HLL
        # sizer hash differently, so such inputs exist).  At rsd 2% the
        # rescue branch is empty; it exists so the equality with the plain
        # formulation is structural, not probabilistic.
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
        rescued = (
            # bounded: one row per group; every caller groups by a calendar key
            _ns_join(raw, F.broadcast(audit), group_cols, "left_semi")
            .select(*group_cols, "h")
            .distinct()
        )
        hashes = kept.select(*group_cols, "h").unionByName(rescued)
    else:
        hashes = raw.select(*group_cols, "h").distinct()
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        hashes.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= k)
        .select(*group_cols, "h")
    )


def kmv_merge(sketch: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """Re-sketch a union of sketches under a coarser grouping — e.g. day
    sketches whose ``month`` column replaces ``day`` in ``group_cols``.
    Input is ≤ k rows per fine group, so the rank shuffle is sketch-sized.
    ``distinct()`` first: the same key hash can appear under many fine
    groups."""
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        sketch.select(*group_cols, "h")
        .distinct()
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= k)
        .select(*group_cols, "h")
    )


def kmv_intersect_estimate(
    sketch_a: DataFrame, sketch_b: DataFrame, k: int
) -> DataFrame:
    """One-row ``(union_m, n_common, est_union, est_common)`` — the KMV
    set-operation estimator (Beyer et al. SIGMOD'07 §4): from two stored
    k-min sketches, estimate |A ∪ B| and |A ∩ B| WITHOUT touching raw data.

    Let S be the k smallest of S_A ∪ S_B (the valid KMV sketch of A ∪ B by
    the merge subset property) with m = |S| and h_k its k-th value, and
    K∩ = |{h ∈ S : h ∈ S_A ∧ h ∈ S_B}|.  Then

    - ``est_union``  = m if m < k (sketch exhaustive ⇒ exact), else
      ``(k-1)·2^48 div h_k``;
    - ``est_common`` = K∩ if m < k (both parts exhaustive ⇒ K∩ IS the
      exact intersection), else ``(K∩ · est_union) div k`` — the fraction
      of the union sample that lies in both sets, scaled by the union
      estimate.  All BIGINT ops; est_union is clamped to the hash domain
      2^48 (no set has more distinct keys than hash values), so
      K∩ · est_union ≤ k · 2^48 stays inside int64 for any k < 2^15 —
      even against adversarially small h_k.  Empty sketches estimate 0
      (the n_common SUM coalesces, never NULL).  The DuckDB twin replays
      the arithmetic bit-for-bit.

    Inputs are ≤ k-row relations, so the global (unpartitioned) rank
    window is sketch-sized by construction — never data-sized.
    """
    # distinct() makes the function safe against multi-group sketches
    # passed un-filtered (duplicate h values would fan the ranked join out
    # and silently inflate union_m/n_common — round-7 review finding).
    ua = sketch_a.select("h").distinct().withColumn("__a", F.lit(1))
    ub = sketch_b.select("h").distinct().withColumn("__b", F.lit(1))
    union = ua.select("h").unionByName(ub.select("h")).distinct()
    w = Window.orderBy("h")  # ≤ 2k rows: single-partition by design
    ranked = union.withColumn("__r", F.row_number().over(w)).where(F.col("__r") <= k)
    marked = (
        ranked.join(ua.select("h", "__a"), "h", "left")
        .join(ub.select("h", "__b"), "h", "left")
    )
    agg = marked.agg(
        F.count(F.lit(1)).alias("union_m"),
        F.max(F.when(F.col("__r") == k, F.col("h"))).alias("__hk"),
        # coalesce: SUM over zero rows is NULL — empty sketches must
        # estimate 0, not break the one-row bigint contract.
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__a").isNotNull() & F.col("__b").isNotNull(), 1
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_common"),
    )
    num = (k - 1) * HASH_SPACE
    # est_union clamped to HASH_SPACE (no set can exceed the hash domain):
    # keeps n_common·est_union < k·2^48 — inside BIGINT for any k < 2^15,
    # independent of how adversarially small __hk is.
    est_union_expr = (
        f"least(CAST({num} AS BIGINT) div greatest(__hk, CAST(1 AS BIGINT)),"
        f" CAST({HASH_SPACE} AS BIGINT))"
    )
    est_union = (
        F.when(F.col("union_m") < k, F.col("union_m"))
        .otherwise(F.expr(est_union_expr))
        .cast("bigint")
    )
    return agg.select(
        F.col("union_m").cast("bigint").alias("union_m"),
        F.col("n_common").cast("bigint").alias("n_common"),
        est_union.alias("est_union"),
        F.when(F.col("union_m") < k, F.col("n_common"))
        .otherwise(
            F.expr(f"(n_common * {est_union_expr}) div CAST({k} AS BIGINT)")
        )
        .cast("bigint")
        .alias("est_common"),
    )


def kmv_intersect_estimate_rows(
    spark, hashes_a: list[int], hashes_b: list[int], k: int
) -> DataFrame:
    """Driver-side twin of :func:`kmv_intersect_estimate` for sketches the
    bounded driver path already holds as rows (≤ k hashes each): the
    distributed version's plan — union + distinct + global rank window +
    two broadcast joins + aggregate — costs ~1.2 s of pure per-exchange
    fixed overhead at local[32] over ≤ 2k-row inputs (round-12 profile),
    while the arithmetic is a few hundred exact integer ops.  Python ints
    replicate the BIGINT math bit-for-bit: ``//`` floors positive
    quotients exactly like SQL ``div``, and Python ints cannot overflow,
    so ``n_common · est_union ≤ k · 2^48`` needs no clamping argument
    beyond the domain clamp the SQL version applies.  Same output schema
    (one row: union_m, n_common, est_union, est_common — BIGINT)."""
    from pyspark.sql import types as T

    sa, sb = set(hashes_a), set(hashes_b)
    union = sorted(sa | sb)[:k]
    m = len(union)
    n_common = sum(1 for h in union if h in sa and h in sb)
    if m < k:
        est_union, est_common = m, n_common
    else:
        hk = union[k - 1]
        est_union = min(((k - 1) * HASH_SPACE) // max(hk, 1), HASH_SPACE)
        est_common = (n_common * est_union) // k
    schema = T.StructType(
        [
            T.StructField("union_m", T.LongType()),
            T.StructField("n_common", T.LongType()),
            T.StructField("est_union", T.LongType()),
            T.StructField("est_common", T.LongType()),
        ]
    )
    return spark.createDataFrame(
        [(m, n_common, est_union, est_common)], schema
    )


def kmv_estimate(sketch: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """``(group…, est_distinct)`` from a ≤ k-row-per-group sketch.

    ``m < k`` ⇒ the sketch is the full hash set ⇒ estimate exact.
    Otherwise ``(k-1)·2^48 div h_k`` — BIGINT integer division, identical
    in both engines for positive operands (``h_k ≥ 1``: the fold of any
    key is ≥ 0 and a 0 hash would need md5 = '000000000000…', guarded with
    greatest() anyway)."""
    w = Window.partitionBy(*group_cols).orderBy("h")
    ranked = sketch.withColumn("__r", F.row_number().over(w)).where(F.col("__r") <= k)
    per = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__m"),
        F.max(F.when(F.col("__r") == k, F.col("h"))).alias("__hk"),
    )
    # (k-1)*2^48 exceeds 2^53 — `/` (double) would lose low bits, so the
    # quotient runs in BIGINT `div`, which both engines floor identically.
    num = (k - 1) * HASH_SPACE
    return per.select(
        *group_cols,
        F.when(F.col("__m") < k, F.col("__m"))
        .otherwise(
            F.expr(f"CAST({num} AS BIGINT) div greatest(__hk, CAST(1 AS BIGINT))")
        )
        .cast("bigint")
        .alias("est_distinct"),
    )
