"""Quantile sketch: merge theorem over rows, prefilter structural
equality, DKW rank-error validity, NULL exclusion, and the exhaustive
degenerate case."""

from __future__ import annotations

from pyspark.sql import functions as F

from oltp_to_data_warehouse_pipeline_spark.operators import bounded, qsketch
from tests.conftest import SF_DIR


def _fixture(spark, n=8000, groups=8):
    """Deterministic skewed fixture: value = (key² mod p) gives a
    scrambled but reproducible spread; month/quarter grouping."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("key"),
            (F.col("id") % groups).alias("mth"),
            ((F.col("id") % groups) / 2).cast("int").alias("qtr"),
            ((F.col("id") * F.col("id")) % 99991).cast("double").alias("val"),
        )
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_equals_direct_build(spark):
    """Month sketches merged to quarters == quarter sketches built from
    raw — the bottom-k merge theorem over rows."""
    d = _fixture(spark)
    fine = qsketch.qsample_sketch(d, "key", "val", ["qtr", "mth"], k=128)
    merged = qsketch.qsample_merge(fine, ["qtr"], k=128)
    direct = qsketch.qsample_sketch(d, "key", "val", ["qtr"], k=128)
    assert _rows(merged) == _rows(direct)
    assert merged.count() == 4 * 128  # real sampling, not exhaustive


def test_prefilter_equals_plain(spark):
    d = _fixture(spark)
    fast = qsketch.qsample_sketch(
        d, "key", "val", ["mth"], k=64, prefilter=True
    )
    plain = qsketch.qsample_sketch(
        d, "key", "val", ["mth"], k=64, prefilter=False
    )
    assert _rows(fast) == _rows(plain)
    # one 3,000-key group beside a 10-key group, k far below the big one
    rows = [("a", i, i * 2) for i in range(3000)] + [("b", i, i) for i in range(10)]
    d = spark.createDataFrame(rows, "g string, key int, val int")
    fast = qsketch.qsample_sketch(d, "key", "val", ["g"], k=4)
    plain = qsketch.qsample_sketch(d, "key", "val", ["g"], k=4, prefilter=False)
    assert _rows(fast) == _rows(plain)


def test_quantiles_dkw_rank_error(spark):
    """Planted uniform 0..n-1 values: the sample p-quantile's TRUE rank
    must sit within the DKW band around p (k=512 → 3/√k ≈ 0.13 allows a
    ~1-in-10⁷ flake; values ARE ranks here so the check is direct)."""
    n, k = 20000, 512
    d = spark.range(n).select(
        F.col("id").alias("key"),
        F.lit(0).alias("g"),
        F.col("id").cast("double").alias("val"),
    )
    sk = qsketch.qsample_sketch(d, "key", "val", ["g"], k=k)
    q = qsketch.qsample_quantiles(
        sk, ["g"], {"q10": 0.1, "q50": 0.5, "q90": 0.9}
    ).collect()[0]
    assert q["m"] == k
    eps = 3.0 / (k**0.5)
    for name, p in (("q10", 0.1), ("q50", 0.5), ("q90", 0.9)):
        true_rank = q[name] / (n - 1)
        assert abs(true_rank - p) < eps, (name, q[name], true_rank)


def test_exhaustive_sample_is_exact(spark):
    """k ≥ group size → the sketch is the whole group and the type-1
    quantile is the exact order statistic."""
    vals = [10.0, 20.0, 30.0, 40.0, 50.0]
    d = spark.createDataFrame(
        [(i, 0, v) for i, v in enumerate(vals)], "key long, g int, val double"
    )
    sk = qsketch.qsample_sketch(d, "key", "val", ["g"], k=100)
    q = qsketch.qsample_quantiles(sk, ["g"], {"q50": 0.5, "q0": 0.0, "q100": 1.0}).collect()[0]
    assert q["m"] == 5
    assert q["q0"] == 10.0
    assert q["q50"] == 30.0  # rank 1 + floor(0.5*4) = 3
    assert q["q100"] == 50.0


def test_null_values_excluded(spark):
    d = spark.createDataFrame(
        [(1, 0, 5.0), (2, 0, None), (3, 0, 7.0)],
        "key long, g int, val double",
    )
    sk = qsketch.qsample_sketch(d, "key", "val", ["g"], k=10)
    assert sk.count() == 2
    q = qsketch.qsample_quantiles(sk, ["g"], {"q100": 1.0}).collect()[0]
    assert q["m"] == 2 and q["q100"] == 7.0


def test_null_keys_excluded_prefilter_parity(spark):
    """A NULL key hashes to h=NULL (sorts FIRST in Spark, dropped by the
    prefilter's h < t) — both modes must exclude it or they diverge
    (review finding)."""
    rows = [(i, 0, float(i)) for i in range(300)] + [(None, 0, 999.0)]
    d = spark.createDataFrame(rows, "key long, g int, val double")
    fast = qsketch.qsample_sketch(d, "key", "val", ["g"], k=8, prefilter=True)
    plain = qsketch.qsample_sketch(d, "key", "val", ["g"], k=8, prefilter=False)
    assert _rows(fast) == _rows(plain)
    assert all(r["v"] != 999.0 for r in plain.collect())


# ---------------------------------------------------------------------------
# Bounded driver path (qsample_sketch_rows), the kmv twin.
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
    d = _fixture(spark)
    drv = qsketch.qsample_sketch_rows(d, "key", "val", ["qtr", "mth"], k=64)
    assert drv is not None
    plain = qsketch.qsample_sketch(
        d, "key", "val", ["qtr", "mth"], k=64, prefilter=False
    )
    assert _nsort(drv) == _nrows(plain)


def test_driver_path_skewed_and_null_groups(spark):
    """Thresholds active on the big group, NULL group key kept, ties on
    (h, v) resolved identically to the distributed rank."""
    rows = [("a", i, float(i % 7)) for i in range(3000)]
    rows += [("b", i, float(i)) for i in range(10)]
    rows += [(None, i, 1.5) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, key int, val double")
    for k in (4, 32):
        drv = qsketch.qsample_sketch_rows(df, "key", "val", ["g"], k=k)
        plain = qsketch.qsample_sketch(
            df, "key", "val", ["g"], k=k, prefilter=False
        )
        assert _nsort(drv) == _nrows(plain), f"k={k}"


def test_driver_path_falls_back_past_bound(spark, monkeypatch):
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 0)
    rows = [("a", i, i * 2) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, key int, val int")
    assert qsketch.qsample_sketch_rows(df, "key", "val", ["g"], k=8) is None
    out = qsketch.qsample_sketch(df, "key", "val", ["g"], k=8)
    plain = qsketch.qsample_sketch(df, "key", "val", ["g"], k=8, prefilter=False)
    assert _nrows(out) == _nrows(plain)


def test_driver_path_bounds_the_rescue_collect(spark, monkeypatch):
    """The kmv twin's rescue-bound check: with a low _SAFETY every group
    is audited, thresholds (4 rows) and ranked survivors fit under a
    32-row bound, the rescue (4 x 16 rows) does not, so the driver path
    returns None; the distributed sketch still equals the plain one."""
    monkeypatch.setattr(qsketch, "_SAFETY", 0.125)
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 32)
    rows = [(g, i, float(i % 97)) for g in "abcd" for i in range(500)]
    df = spark.createDataFrame(rows, "g string, key int, val double")
    k = 16
    assert qsketch.qsample_sketch_rows(df, "key", "val", ["g"], k=k) is None
    monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", 100_000)
    plain = qsketch.qsample_sketch(df, "key", "val", ["g"], k=k, prefilter=False)
    assert _nsort(qsketch.qsample_sketch_rows(df, "key", "val", ["g"], k=k)) == (
        _nrows(plain)
    )
    out = qsketch.qsample_sketch(df, "key", "val", ["g"], k=k)
    assert _nrows(out) == _nrows(plain)


def test_price_quantiles_query_paths_agree(spark, monkeypatch):
    """The price-quantile twins share one sketch->estimate helper: its
    driver-rows branch and its distributed fallback (forced with a zero
    row bound) must return the same quantiles."""
    from oltp_to_data_warehouse_pipeline_spark.plans.queryset import registry

    q, _ = registry()
    got = []
    for bound in (bounded.DRIVER_MAX_ROWS, 0):
        monkeypatch.setattr(bounded, "DRIVER_MAX_ROWS", bound)
        got.append(_rows(q["qsketch_price_quantiles_sketch"](spark, SF_DIR)))
    assert got[0] == got[1]
