"""Plan audit: physical-plan characteristics of every registered query.

Writes a markdown table (stdout or PLANS.md) with, per query: join
strategies, exchange count, whether filters are pushed into the scan, and
the columns read — the properties that determine scale behavior.  Run after any
operator change; tests/test_plans.py pins the critical subset.

Usage:  python tools/plan_audit.py [sf_dir] [--write]
"""

from __future__ import annotations

import hashlib
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_REPO = Path(__file__).resolve().parent.parent
_PACKAGE = _REPO / "oltp_to_data_warehouse_pipeline_spark"


def source_fingerprint() -> str:
    """Stable hash of every .py file in the package, by relative path.

    Embedded in PLANS.md's header and re-derived by the freshness test
    (tests/test_plans.py), so a plan-affecting source change that isn't
    followed by a PLANS.md regeneration fails CI instead of shipping a
    stale plan audit (the round-4 hygiene miss).  A content hash is used
    rather than a git commit hash because PLANS.md is committed TOGETHER
    with the change it describes — a HEAD hash would always be one commit
    behind itself.
    """
    h = hashlib.sha256()
    for p in sorted(_PACKAGE.rglob("*.py")):
        h.update(str(p.relative_to(_REPO)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def recorded_fingerprint(plans_md: Path | None = None) -> str | None:
    """The fingerprint recorded in PLANS.md's header, or None if absent."""
    text = (plans_md or _REPO / "PLANS.md").read_text()
    m = re.search(r"Source fingerprint: `([0-9a-f]+)`", text)
    return m.group(1) if m else None


def plan_operators(plan: str) -> str:
    """Each operator of a ``formatted`` explain once, one name a line.

    ``formatted`` draws the main tree and each subquery's tree, then lists
    every operator again under a numbered ``(n) Name`` details header.
    Counting names over the whole text counts each operator twice;
    counting over the main tree misses the subqueries, and counting over
    every drawn tree counts a subquery twice when two operators host it
    (a filter and the scan it is pushed into).  The details headers name
    each operator id exactly once."""
    return "\n".join(dict(re.findall(r"^\((\d+)\) (.+)$", plan, re.M)).values())


def audit(sf_dir: str = "/root/testdata/sf0.001") -> str:
    from oltp_to_data_warehouse_pipeline_spark.plans.queryset import registry
    from oltp_to_data_warehouse_pipeline_spark.session import get_spark

    spark = get_spark("plan-audit", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = registry()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    lines = [
        "# Plan audit (generated by tools/plan_audit.py)",
        "",
        f"Source fingerprint: `{source_fingerprint()}` (sha256 over the "
        "package's .py files; tests/test_plans.py fails when this no longer "
        "matches the working tree — regenerate with "
        "`python tools/plan_audit.py --write`).",
        "",
        f"Per-query physical plan characteristics at `{sf_dir}`.",
        "BHJ=BroadcastHashJoin SMJ=SortMergeJoin SHJ=ShuffledHashJoin "
        "BNLJ=BroadcastNestedLoopJoin Exch=Exchange (shuffle or broadcast).",
        "",
        "| query | BHJ | SMJ | SHJ | BNLJ | Exch | pushed filters | notes |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name in sorted(queries):
        try:
            plan = queries[name](spark, sf_dir)._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001 - audit must cover every query
            lines.append(f"| {name} | — | — | — | — | — | — | ERROR: {e} |")
            continue
        ops = plan_operators(plan)
        pushed = sorted(
            set(re.findall(r"PushedFilters: \[([^\]]+)\]", plan)) - {""}
        )
        pushed_s = "yes" if pushed else "—"
        notes = []
        if "CartesianProduct" in ops:
            notes.append("CARTESIAN")
        if "mapInPandas" in ops or "MapInPandas" in ops:
            notes.append("arrow-batch python")
        if "LocalTableScan" in ops:
            notes.append("local")
        lines.append(
            "| {} | {} | {} | {} | {} | {} | {} | {} |".format(
                name,
                ops.count("BroadcastHashJoin"),
                ops.count("SortMergeJoin"),
                ops.count("ShuffledHashJoin"),
                ops.count("BroadcastNestedLoopJoin"),
                ops.count("Exchange"),
                pushed_s,
                " ".join(notes),
            )
        )
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    report = audit(args[0] if args else "/root/testdata/sf0.001")
    if "--write" in sys.argv:
        Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(report)
        print("wrote PLANS.md")
    else:
        print(report)
