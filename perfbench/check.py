"""Output checks.  A query's result must equal its DuckDB oracle twin under
the STRICT canon of ``tools/diffcheck.py`` (row count, column names, type
families, no negative zeros, order-insensitive value hash).  The CDC
table must equal the generator's last-writer-wins reference, and the
dead-letter rows must equal the poison messages sent."""

from __future__ import annotations

import os
import sys

_TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
if _TOOLS not in sys.path:
    sys.path.insert(0, _TOOLS)

from _common import connect_views  # noqa: E402
from diffcheck import (  # noqa: E402
    canon_cell_strict,
    duck_family,
    is_neg_zero,
    spark_family,
    table_hash,
)


def oracle_results(data_dir: str, names, oracles: dict[str, str]) -> dict:
    """``name -> (columns, duckdb types, rows)``, or the exception the
    oracle raised.  Computed once per input."""
    con = connect_views(data_dir)
    out: dict = {}
    for name in names:
        try:
            sql = oracles[name]
            types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
            res = con.execute(sql)
            out[name] = ([d[0] for d in res.description], types, res.fetchall())
        except Exception as e:
            out[name] = e
    con.close()
    return out


def check_query(got: tuple, expected) -> str | None:
    """``got`` is ``(columns, spark dtypes, rows)``.  Returns the first
    problem found, or None when the result matches."""
    if isinstance(expected, Exception):
        return f"oracle error: {expected}"
    scols, stypes, srows = got
    dcols, dtypes, drows = expected
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} oracle={len(drows)}"
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} oracle={sorted(dcols)}"
    for c in scols:
        fs, fd = spark_family(stypes[c]), duck_family(dtypes[c])
        if fd == "int128" or fs != fd:
            return f"type {c}: spark={stypes[c]} oracle={dtypes[c]}"
    if any(is_neg_zero(v) for rows in (srows, drows) for r in rows for v in r):
        return "negative-zero cell"
    hs = table_hash(scols, srows, canon_cell_strict)
    hd = table_hash(dcols, drows, canon_cell_strict)
    return None if hs == hd else f"hash spark={hs} oracle={hd}"


# Payload fields the CDC table must carry besides the key.
CDC_FIELDS = ("name", "score", "active", "seq")


def compare_cdc(expected: dict, actual: dict, dead_letters: int, poison_sent: int) -> list[str]:
    """``expected``/``actual``: ``key -> {field: value}``."""
    problems = []
    missing, extra = expected.keys() - actual.keys(), actual.keys() - expected.keys()
    if missing or extra:
        problems.append(f"{len(missing)} keys missing, {len(extra)} unexpected")
    wrong = [k for k in expected.keys() & actual.keys()
             if any(expected[k][f] != actual[k][f] for f in CDC_FIELDS)]
    if wrong:
        problems.append(f"{len(wrong)} keys with a stale or wrong value, e.g. {min(wrong)}")
    if dead_letters != poison_sent:
        problems.append(f"dead letters {dead_letters} != poison messages {poison_sent}")
    return problems


def check_cdc(spark, warehouse: str, gen, read_upserted) -> list[str]:
    from oltp_to_data_warehouse_pipeline_spark.streaming.normalizer import topic_to_table

    from datagen import CDC_TOPIC

    table = topic_to_table(CDC_TOPIC)
    actual, dead = {}, 0
    path = os.path.join(warehouse, table)
    if os.path.isdir(path):
        rows = read_upserted(spark, path).select("kafka_primary_key", *CDC_FIELDS).collect()
        actual = {r[0]: dict(zip(CDC_FIELDS, r[1:])) for r in rows}
    dl = os.path.join(warehouse, "_dead_letter", table)
    if os.path.isdir(dl):
        dead = spark.read.parquet(dl).count()
    return compare_cdc(gen.expected, actual, dead, gen.poison_sent)
