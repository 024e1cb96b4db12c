"""Oracle-exact Z-order (Morton) expressions — the AUDIT layer.

The production z-ordered WRITER lives in ``sources.files`` (`zorder_key`
+ `write_zordered`: double-scaled quantization, NULL-to-bucket-0, clamp —
the right trade-offs for laying out arbitrary columns).  This module is
its cross-engine-REPLAYABLE counterpart: every step is exact integer
arithmetic, so a SQL oracle reproduces the z-values bit for bit — which
is what lets `orders_zorder_locality` and `zorder_skipping_gain` put the
layout's data-skipping claims under the differential hash gate instead
of taking them on faith.

- :func:`scaled` maps an integer column into ``[0, 2^bits)`` with exact
  integer arithmetic (no double division anywhere — a floor of a double
  quotient can flip on x.9999995 boundaries between engines; the writer
  can tolerate that, an oracle-hashed audit cannot).
- :func:`zvalue` interleaves the scaled columns' bits into one bigint
  (column j's bit i lands at position ``i*n + (n-1-j)``), a pure narrow
  expression — zero shuffle to compute.
- :func:`with_zvalue` attaches the z-value with bounds from a 1-row
  aggregate broadcast (the scalar-without-collect pattern, as
  balance_opportunity_segments).

The two layers' bit orders intentionally differ only in column direction;
each is self-consistent, and nothing requires a writer file boundary to
equal an audit bucket boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scaled(c: Column, cmin: Column, cmax: Column, bits: int = 16) -> Column:
    """Map integer ``c`` with range [cmin, cmax] into [0, 2^bits) exactly.

    ``(c - cmin) * (2^bits - 1) DIV (cmax - cmin)`` in integer space: the
    numerator stays ≤ range · 65535 (< 2^53 for any 32-bit key range), and
    the floor division is spelled ``(a - a mod b) / b`` — the numerator is
    then exactly divisible, so the double division is exact and engine-
    independent (a DuckDB twin can use ``//`` directly).  Degenerate
    single-value ranges map to 0.
    """
    a = (c.cast("bigint") - cmin.cast("bigint")) * F.lit((1 << bits) - 1)
    b = cmax.cast("bigint") - cmin.cast("bigint")
    return F.when(b == 0, F.lit(0)).otherwise(
        ((a - F.pmod(a, b)) / b).cast("bigint")
    )


def zvalue(cols: list[Column], bits: int = 16) -> Column:
    """Morton/Z value: bit-interleave ``len(cols)`` already-scaled columns
    (each in [0, 2^bits)) into one bigint.  With n columns and 16 bits the
    result uses n·16 bits — keep n·bits ≤ 62."""
    n = len(cols)
    assert n >= 2 and n * bits <= 62, "need ≥2 columns and n*bits ≤ 62"
    out = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("bigint"), i).bitwiseAND(F.lit(1))
            out = out + F.shiftleft(bit, i * n + (n - 1 - j))
    return out.cast("bigint")


def with_zvalue(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    out_col: str = "zval",
    bounds: DataFrame | None = None,
) -> DataFrame:
    """Attach the z-value of ``cols`` (integer columns) as ``out_col``.

    Bounds come from ONE 1-row aggregate broadcast-cross-joined back (no
    collect; at 100 TB substitute catalog statistics as literals).  A
    caller that also needs the bounds for its own arithmetic passes the
    relation in via ``bounds`` (columns ``__min_<c>``/``__max_<c>``) so
    the aggregate's scan isn't paid twice (round-6 review finding —
    zorder_skipping_gain was re-scanning orders for its slice bounds).
    """
    if bounds is None:
        bounds = df.agg(
            *[
                f(c).alias(f"__{n}_{c}")
                for c in cols
                for n, f in (("min", F.min), ("max", F.max))
            ]
        )
    j = df.crossJoin(bounds)
    parts = [
        scaled(F.col(c), F.col(f"__min_{c}"), F.col(f"__max_{c}"), bits) for c in cols
    ]
    return j.withColumn(out_col, zvalue(parts, bits)).drop(
        *[f"__{n}_{c}" for c in cols for n in ("min", "max")]
    )
