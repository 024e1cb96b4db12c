"""KMV distinct sketch: prefilter losslessness, merge-theorem equality,
rescue-path exactness, and (the round-6 bootstrap lesson) the ESTIMATOR'S
statistical validity — the cross-engine gate proves agreement, not that
the estimate means anything."""

from __future__ import annotations

from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.catalog import load_table
from oltp_to_data_warehouse_pipeline_spark.operators import bounded, kmv

SF = "/root/testdata/sf0.001"
K = 64


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_prefilter_is_lossless(spark):
    """The HLL-sized hash threshold must produce the SAME sketch as the
    plain rank-everything formulation — the operator's whole contract."""
    ev = load_table(spark, SF, "events").withColumn("d", F.col("ts").cast("date"))
    fast = kmv.kmv_sketch(ev, "user_id", ["d"], k=K, prefilter=True)
    plain = kmv.kmv_sketch(ev, "user_id", ["d"], k=K, prefilter=False)
    assert _rows(fast) == _rows(plain)


def test_sketch_is_bounded(spark):
    ev = load_table(spark, SF, "events").withColumn("d", F.col("ts").cast("date"))
    sk = kmv.kmv_sketch(ev, "user_id", ["d"], k=K)
    per = sk.groupBy("d").count().agg(F.max("count")).collect()[0][0]
    assert per <= K


def test_rescue_path_exactness(spark):
    """Force the coarse threshold to under-admit (safety factor can't save
    a deliberately broken estimate, but the under-k rescue must): shrink k
    so thresholds activate, and check against the plain formulation on a
    skewed synthetic where one group is 100x another."""
    rows = [(g, v) for g in ("a", "b") for v in range(2000 if g == "a" else 20)]
    df = spark.createDataFrame(rows, "g string, v int")
    for k in (4, 16):
        fast = kmv.kmv_sketch(df, "v", ["g"], k=k, prefilter=True)
        plain = kmv.kmv_sketch(df, "v", ["g"], k=k, prefilter=False)
        assert _rows(fast) == _rows(plain), f"k={k}"


def test_merge_equals_direct(spark):
    """The merge theorem over the real fold: re-sketching unioned per-day
    sketches under a coarser group == sketching the raw rows under it."""
    ev = load_table(spark, SF, "events").withColumn("d", F.col("ts").cast("date"))
    ev = ev.withColumn("w", F.weekofyear("d"))
    day_sk = kmv.kmv_sketch(ev, "user_id", ["d", "w"], k=K)
    merged = kmv.kmv_merge(day_sk.select("w", "h"), ["w"], k=K)
    direct = kmv.kmv_sketch(ev, "user_id", ["w"], k=K, prefilter=False)
    assert _rows(merged.select("w", "h")) == _rows(direct.select("w", "h"))


def test_small_groups_are_exact(spark):
    """m < k ⇒ the sketch is exhaustive and the estimate IS the exact
    distinct count."""
    ev = load_table(spark, SF, "events")
    n_users = ev.where(F.col("user_id").isNotNull()).select("user_id").distinct().count()
    k = n_users + 10
    one = ev.withColumn("g", F.lit(1))
    sk = kmv.kmv_sketch(one, "user_id", ["g"], k=k)
    est = kmv.kmv_estimate(sk, ["g"], k=k).collect()[0]["est_distinct"]
    assert est == n_users


def test_estimator_statistical_validity(spark):
    """On n >> k synthetic distinct values the estimate must land within
    a few standard errors of truth (KMV rel. sd ~ 1/sqrt(k-2)), and a
    larger k must not do worse by more than noise.  Deterministic: the
    'sample' is the md5 fold of a fixed value set."""
    n = 200_000
    df = spark.range(n).select(
        F.lit(1).alias("g"), F.col("id").cast("string").alias("v")
    )
    for k, tol_sd in ((64, 4.0), (512, 4.0)):
        sk = kmv.kmv_sketch(df, "v", ["g"], k=k)
        est = kmv.kmv_estimate(sk, ["g"], k=k).collect()[0]["est_distinct"]
        rel = abs(est - n) / n
        sd = 1.0 / (k - 2) ** 0.5
        assert rel < tol_sd * sd, f"k={k}: rel err {rel:.3f} vs {tol_sd} sd {tol_sd*sd:.3f}"
    # and the k=512 estimate is strictly tighter than k=64's bound allows
    sk = kmv.kmv_sketch(df, "v", ["g"], k=512)
    est = kmv.kmv_estimate(sk, ["g"], k=512).collect()[0]["est_distinct"]
    assert abs(est - n) / n < 4.0 / (512 - 2) ** 0.5


def test_null_keys_ignored(spark):
    df = spark.createDataFrame(
        [("a", None), ("a", "x"), ("a", "y")], "g string, v string"
    )
    sk = kmv.kmv_sketch(df, "v", ["g"], k=8)
    assert sk.count() == 2


def test_intersect_exact_when_exhaustive(spark):
    """m < k ⇒ both parts exhaustive ⇒ n_common IS the exact intersection
    and est_common returns it unscaled."""
    a = spark.createDataFrame([(v,) for v in range(30)], "v int")
    b = spark.createDataFrame([(v,) for v in range(20, 50)], "v int")
    k = 128  # > |A ∪ B| = 50
    ga = a.withColumn("g", F.lit(1))
    gb = b.withColumn("g", F.lit(1))
    sa = kmv.kmv_sketch(ga, "v", ["g"], k=k)
    sb = kmv.kmv_sketch(gb, "v", ["g"], k=k)
    row = kmv.kmv_intersect_estimate(sa, sb, k=k).collect()[0]
    assert row["union_m"] == 50
    assert row["est_union"] == 50
    assert row["n_common"] == 10
    assert row["est_common"] == 10


def test_intersect_statistical_validity(spark):
    """Estimator branch (union >> k): A = [0, 100k), B = [50k, 150k) —
    |∩| = 50k, |∪| = 150k, J = 1/3.  K∩ ~ Binomial(k, J), so the
    intersection estimate's relative sd is ≈ sqrt((1-J)/(k·J)) plus the
    union estimator's ~1/sqrt(k-2); assert within 4 combined sd.
    Deterministic (the 'sample' is the md5 fold of a fixed value set)."""
    n, ov = 100_000, 50_000
    a = spark.range(n).select(F.lit(1).alias("g"), F.col("id").cast("string").alias("v"))
    b = spark.range(n - ov, 2 * n - ov).select(
        F.lit(1).alias("g"), F.col("id").cast("string").alias("v")
    )
    k = 512
    sa = kmv.kmv_sketch(a, "v", ["g"], k=k)
    sb = kmv.kmv_sketch(b, "v", ["g"], k=k)
    row = kmv.kmv_intersect_estimate(sa, sb, k=k).collect()[0]
    union_true, j = 2 * n - ov, ov / (2 * n - ov)
    sd = ((1 - j) / (k * j)) ** 0.5 + 1.0 / (k - 2) ** 0.5
    rel_union = abs(row["est_union"] - union_true) / union_true
    rel_common = abs(row["est_common"] - ov) / ov
    assert rel_union < 4.0 / (k - 2) ** 0.5, f"union rel {rel_union:.3f}"
    assert rel_common < 4.0 * sd, f"common rel {rel_common:.3f} vs 4sd {4*sd:.3f}"
    assert 0 < row["est_common"] < row["est_union"]


def test_intersect_disjoint_sets(spark):
    """Zero overlap must estimate zero (K∩ = 0 scales to 0 in the
    estimator branch too — no false intersection mass)."""
    a = spark.range(10_000).select(F.lit(1).alias("g"), F.col("id").cast("string").alias("v"))
    b = spark.range(20_000, 30_000).select(
        F.lit(1).alias("g"), F.col("id").cast("string").alias("v")
    )
    k = 64
    sa = kmv.kmv_sketch(a, "v", ["g"], k=k)
    sb = kmv.kmv_sketch(b, "v", ["g"], k=k)
    row = kmv.kmv_intersect_estimate(sa, sb, k=k).collect()[0]
    assert row["n_common"] == 0
    assert row["est_common"] == 0


def test_rescue_covers_zero_survivor_groups(spark):
    """A group whose EVERY kmv-hash lands above its admission threshold
    has zero survivors; the audit must still rescue it (it used to start
    from the survivor relation, where such a group has no row at all, and
    the group silently vanished from the sketch).  Adversarial input:
    k=1 with 8 distinct keys whose md5 folds all sit in the top half of
    the hash space, so the active threshold 4k·2^48/est = 2^47 admits
    none of them."""
    import hashlib

    def fold(s: str) -> int:
        return int(hashlib.md5(f"kmv|{s}".encode()).hexdigest()[:12], 16)

    top = [s for s in (f"key{i}" for i in range(1000)) if fold(s) >= 1 << 47][:8]
    assert len(top) == 8
    df = spark.createDataFrame([("g", s) for s in top], "g string, v string")
    fast = kmv.kmv_sketch(df, "v", ["g"], k=1, prefilter=True)
    plain = kmv.kmv_sketch(df, "v", ["g"], k=1, prefilter=False)
    assert _rows(fast) == _rows(plain)
    assert len(_rows(fast)) == 1  # the group is present, k=1 row


def test_prefilter_keeps_null_group_keys(spark):
    """groupBy treats a NULL group key as a real group; the prefilter
    path's equi-joins used to drop it (NULL never equi-matches — round-7
    review finding).  Both paths must agree, NULL group included."""
    rows = [(None if v % 3 == 0 else f"g{v % 2}", str(v)) for v in range(300)]
    df = spark.createDataFrame(rows, "g string, v string")
    fast = kmv.kmv_sketch(df, "v", ["g"], k=8, prefilter=True)
    plain = kmv.kmv_sketch(df, "v", ["g"], k=8, prefilter=False)

    def rows_nullsafe(d):
        return sorted((r[0] or "", r[1]) for r in d.collect())

    assert rows_nullsafe(fast) == rows_nullsafe(plain)
    assert any(r["g"] is None for r in fast.collect())


def test_intersect_safe_on_duplicate_hashes(spark):
    """A multi-group sketch passed without filtering must not fan the
    ranked join out and inflate the counts — inputs are made distinct."""
    a = spark.createDataFrame([(g, v) for g in ("x", "y") for v in range(20)],
                              "g string, v int")
    k = 64
    sk = kmv.kmv_sketch(a, "v", ["g"], k=k)  # same 20 hashes under 2 groups
    row = kmv.kmv_intersect_estimate(sk, sk, k=k).collect()[0]
    assert row["union_m"] == 20
    assert row["n_common"] == 20
    assert row["est_common"] == 20


# ---------------------------------------------------------------------------
# Bounded driver path (kmv_sketch_rows under operators.bounded's one row
# bound): the checkpoint-pin job floor replaced by bounded collects, with
# the distributed path as the past-the-bound fallback.
# ---------------------------------------------------------------------------


def _nsort(rows):
    # None-aware sort for fixtures with NULL group keys
    return sorted(
        (tuple(r) for r in rows),
        key=lambda t: tuple((x is None, 0 if x is None else x) for x in t),
    )


def _nrows(df):
    return _nsort(df.collect())


def test_driver_path_matches_plain(spark):
    """The bounded driver path must return the EXACT relation of the plain
    formulation (which the oracle replays) — including NULL group keys
    (a real group for groupBy) and the skewed case where thresholds
    activate."""
    ev = load_table(spark, SF, "events").withColumn("d", F.col("ts").cast("date"))
    drv = kmv.kmv_sketch_rows(ev, "user_id", ["d"], k=K)
    assert drv is not None
    plain = kmv.kmv_sketch(ev, "user_id", ["d"], k=K, prefilter=False)
    assert _nsort(drv) == _nrows(plain)

    rows = [(g, v) for g in ("a", "b") for v in range(2000 if g == "a" else 20)]
    rows += [(None, v) for v in range(500)]  # NULL group key is a group
    df = spark.createDataFrame(rows, "g string, v int")
    for k in (4, 16):
        drv = kmv.kmv_sketch_rows(df, "v", ["g"], k=k)
        assert drv is not None
        plain = kmv.kmv_sketch(df, "v", ["g"], k=k, prefilter=False)
        assert _nsort(drv) == _nrows(plain), f"k={k}"


def test_driver_path_falls_back_past_bound(spark, monkeypatch):
    """A zero row bound trips the first collect: the driver path must
    return None (not a truncated sketch), and the distributed sketch the
    caller builds instead is the plain formulation."""
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 0)
    rows = [("a", v) for v in range(100)]
    df = spark.createDataFrame(rows, "g string, v int")
    assert kmv.kmv_sketch_rows(df, "v", ["g"], k=8) is None
    out = kmv.kmv_sketch(df, "v", ["g"], k=8)
    plain = kmv.kmv_sketch(df, "v", ["g"], k=8, prefilter=False)
    assert _nrows(out) == _nrows(plain)


def test_driver_path_bounds_the_rescue_collect(spark, monkeypatch):
    """The rescue collect is bounded too.  A low _SAFETY admits ~2
    survivors per group, so every group is audited and rescued with k
    raw hashes: thresholds (4 rows) and survivors (16) fit under a 32-row
    bound, the rescue (4 x 16 rows) does not — the driver path must give
    up rather than hold it, and the distributed sketch (which runs the
    same audit) still equals the plain formulation."""
    monkeypatch.setattr(kmv, "_SAFETY", 0.125)
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 32)
    rows = [(g, v) for g in "abcd" for v in range(500)]
    df = spark.createDataFrame(rows, "g string, v int")
    k = 16
    assert kmv.kmv_sketch_rows(df, "v", ["g"], k=k) is None
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 100_000)
    assert _nsort(kmv.kmv_sketch_rows(df, "v", ["g"], k=k)) == _nrows(
        kmv.kmv_sketch(df, "v", ["g"], k=k, prefilter=False)
    )
    out = kmv.kmv_sketch(df, "v", ["g"], k=k)
    plain = kmv.kmv_sketch(df, "v", ["g"], k=k, prefilter=False)
    assert _nrows(out) == _nrows(plain)


def test_cohort_overlap_query_paths_agree(spark, monkeypatch):
    """The cohort-overlap twins share one sketch->estimate helper: its
    driver-rows branch and its pinned distributed fallback (forced with a
    zero row bound) must return the same estimate."""
    from oltp_to_data_warehouse_pipeline_spark.plans.queryset import registry

    q, _ = registry()
    got = []
    for bound in (bounded.DRIVER_MAX_ROWS, 0):
        monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", bound)
        got.append(_rows(q["kmv_cohort_overlap_sketch"](spark, SF)))
    assert got[0] == got[1]
