"""Driver-contract smoke: entry(), queries()/oracle_sql() registry shape."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.columns == ["region", "nation", "total_revenue", "num_orders"]
    assert df.count() > 0


def test_registry_alignment(spark):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert len(qs) >= 30
    # every oracle key has a query; every query carries an oracle (the
    # iterative IVF path is made oracle-checkable via full-probe exactness)
    assert set(oracles) <= set(qs)
    missing = set(qs) - set(oracles)
    assert missing == set(), f"queries without oracle (document if intended): {missing}"


def test_each_query_has_distinct_column_names(spark):
    """The driver sorts columns by name before hashing — duplicate names
    would silently corrupt the comparison."""
    qs = entrymod.queries()
    for name, fn in qs.items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert len(df.columns) == len(set(df.columns)), name


def test_driver_parity_every_query_sampled_or_in_next_window():
    """Driver-parity guard (round-4 verdict ask #1): the per-round driver
    samples only the FIRST 50 names of the registration order, so a query
    registered outside both (a) the union of names already sampled in a
    committed CORRECTNESS_r*.json and (b) the current first-50 window would
    never receive a driver verdict — the exact process gap that left 32
    queries driver-unverified for three rounds.  This test makes reopening
    that gap a test failure: register new queries at the FRONT of
    _VERIFY_FIRST (plans/queryset.py) until a committed round record has
    sampled them."""
    import json
    import subprocess
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    # COMMITTED records only (advisor round-5 finding: a working-tree glob
    # lets an uncommitted record satisfy the guard while the shipped tree
    # still has never-sampled queries outside the 50-name window); fall
    # back to the glob when git isn't available (e.g. an exported tree).
    try:
        tracked = subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            cwd=repo,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
        records = sorted(repo / p for p in tracked)
    except (OSError, subprocess.CalledProcessError):
        records = sorted(repo.glob("CORRECTNESS_r*.json"))
    assert records, "no committed CORRECTNESS_r*.json found next to tests/"
    sampled: set[str] = set()
    for p in records:
        sampled |= set(json.loads(p.read_text()))

    names = list(entrymod.queries())
    window = set(names[:50])
    orphans = [n for n in names if n not in sampled and n not in window]
    assert orphans == [], (
        "registered queries that neither appear in any committed driver "
        "correctness record nor sit inside the driver's next 50-name sample "
        f"window: {orphans} — move them to the front of _VERIFY_FIRST"
    )


def test_registry_order_is_pinned():
    """The correctness sample reads a prefix of the registration order, so
    a refactor must keep every name and position.  Pinned: the sha256 of
    the newline-joined names.  A deliberate change (a new query, a
    reordered _VERIFY_FIRST) updates the digest in the same commit."""
    import hashlib

    from oltp_to_data_warehouse_pipeline_spark.plans.queryset import registry

    names, _ = registry()
    assert len(names) == 233
    digest = hashlib.sha256("\n".join(names).encode()).hexdigest()
    assert digest == "03397c04ebc89006a773aaa2e1c33c657977f4179522d7bdeddde116f325e9f9"
