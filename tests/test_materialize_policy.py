"""One materialization policy: only ``plans/inspect.py`` checkpoints.

Static check (no Spark): parse every module of the package and fail on
any ``.localCheckpoint(`` call or ``1 << 30`` size-gate literal outside
the module that owns ``materialize`` / ``sort_past_boundary``. A new
operator that hand-rolls its own checkpoint or gate fails here instead
of drifting from the shared policy.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "real_time_data_anomaly_detection_spark"
POLICY_MODULE = PKG / "plans" / "inspect.py"


def _is_checkpoint_call(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    )


def _is_gate_literal(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.LShift)
        and isinstance(node.left, ast.Constant)
        and node.left.value == 1
        and isinstance(node.right, ast.Constant)
        and node.right.value == 30
    )


def policy_violations(pkg: Path) -> list[str]:
    """``path:line: what`` for each checkpoint call or gate literal
    outside the package's plans/inspect.py."""
    out = []
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg) == POLICY_MODULE.relative_to(PKG):
            continue
        rel = path.relative_to(pkg.parent)
        for node in ast.walk(ast.parse(path.read_text())):
            if _is_checkpoint_call(node):
                out.append(f"{rel}:{node.lineno}: .localCheckpoint(")
            elif _is_gate_literal(node):
                out.append(f"{rel}:{node.lineno}: 1 << 30")
    return out


def test_checkpoints_go_through_the_policy_module():
    bad = policy_violations(PKG)
    hint = "use plans.inspect.materialize / sort_past_boundary"
    assert not bad, hint + ":\n" + "\n".join(bad)


def test_policy_module_holds_the_checkpoint_and_the_gate():
    """The scan must see what it forbids: the policy module itself has
    both, so an AST shape change cannot make the guard vacuous."""
    nodes = list(ast.walk(ast.parse(POLICY_MODULE.read_text())))
    calls = [n for n in nodes if _is_checkpoint_call(n)]
    gates = [n for n in nodes if _is_gate_literal(n)]
    assert len(calls) == 2 and len(gates) == 1, (len(calls), len(gates))
