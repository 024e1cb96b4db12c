"""Join strategy is the session's decision (``autoBroadcastJoinThreshold``
plus AQE, see ``session.py``).  A broadcast hint overrides it, so every
``broadcast(...)`` call left in the package must say why its relation is
bounded: a ``# bounded:`` comment on the call's line or the line directly
above.  Static check (``ast`` + ``tokenize``), no Spark."""

from __future__ import annotations

import ast
import io
import tokenize
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "oltp_to_data_warehouse_pipeline_spark"


def _broadcast_calls(tree: ast.AST):
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if (isinstance(f, ast.Attribute) and f.attr == "broadcast") or (
            isinstance(f, ast.Name) and f.id == "broadcast"
        ):
            yield node


def _bounded_comment_lines(src: str) -> set[int]:
    return {
        tok.start[0]
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type == tokenize.COMMENT and tok.string.startswith("# bounded:")
    }


def test_every_broadcast_hint_is_annotated_bounded():
    missing = []
    n_calls = 0
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        noted = _bounded_comment_lines(src)
        for call in _broadcast_calls(ast.parse(src)):
            n_calls += 1
            if call.lineno not in noted and call.lineno - 1 not in noted:
                missing.append(f"{path.relative_to(PACKAGE.parent)}:{call.lineno}")
    assert not missing, (
        "broadcast hints without a '# bounded:' note (leave the join to the "
        "planner, or say why the relation is bounded): " + ", ".join(missing)
    )
    assert n_calls > 0, "the scan found no broadcast calls at all"
