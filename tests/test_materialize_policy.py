"""One materialization policy, one broadcast policy and one bounded
driver fetch: only ``plans/inspect.py`` checkpoints, gates a broadcast
on a size estimate or fetches a relation as Arrow.

Static check (no Spark): parse every module of the package and fail on
any ``.localCheckpoint(`` call or ``1 << 30`` size-gate literal outside
the module that owns ``materialize`` / ``sort_past_boundary``, on
any ``plan_size_bytes(`` call, ``64 << 20`` size-gate literal or
``broadcast_*`` / ``max_broadcast_bytes`` parameter outside the module
that owns ``broadcast_if_small``, and on any ``.toArrow(`` call outside
the module that owns ``fetch_if_small``. A new operator that hand-rolls
its own checkpoint, gate or driver fetch fails here instead of drifting
from the shared policy.
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


def _is_shift_literal(node: ast.AST, left: int, right: int) -> bool:
    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.LShift)
        and isinstance(node.left, ast.Constant)
        and node.left.value == left
        and isinstance(node.right, ast.Constant)
        and node.right.value == right
    )


def _is_gate_literal(node: ast.AST) -> bool:
    return _is_shift_literal(node, 1, 30)


def _is_size_estimate_call(node: ast.AST) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return name == "plan_size_bytes"


def _is_arrow_fetch(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "toArrow"
    )


def _broadcast_params(node: ast.AST) -> list[str]:
    if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return []
    a = node.args
    return [
        p.arg
        for p in (*a.posonlyargs, *a.args, *a.kwonlyargs)
        if p.arg.startswith("broadcast_") or p.arg == "max_broadcast_bytes"
    ]


def _package_nodes(pkg: Path):
    """(relative path, AST node) for every module outside plans/inspect.py."""
    for path in sorted(pkg.rglob("*.py")):
        if path.relative_to(pkg) == POLICY_MODULE.relative_to(PKG):
            continue
        rel = path.relative_to(pkg.parent)
        for node in ast.walk(ast.parse(path.read_text())):
            yield rel, node


def policy_violations(pkg: Path) -> list[str]:
    """``path:line: what`` for each checkpoint call or gate literal
    outside the package's plans/inspect.py."""
    out = []
    for rel, node in _package_nodes(pkg):
        if _is_checkpoint_call(node):
            out.append(f"{rel}:{node.lineno}: .localCheckpoint(")
        elif _is_gate_literal(node):
            out.append(f"{rel}:{node.lineno}: 1 << 30")
    return out


def broadcast_violations(pkg: Path) -> list[str]:
    """``path:line: what`` for each size-estimate call, broadcast gate
    literal or broadcast parameter outside the package's
    plans/inspect.py."""
    out = []
    for rel, node in _package_nodes(pkg):
        if _is_size_estimate_call(node):
            out.append(f"{rel}:{node.lineno}: plan_size_bytes(")
        elif _is_shift_literal(node, 64, 20):
            out.append(f"{rel}:{node.lineno}: 64 << 20")
        for p in _broadcast_params(node):
            out.append(f"{rel}:{node.lineno}: parameter {p}")
    return out


def fetch_violations(pkg: Path) -> list[str]:
    """``path:line: .toArrow(`` for each Arrow fetch outside the
    package's plans/inspect.py."""
    return [
        f"{rel}:{node.lineno}: .toArrow("
        for rel, node in _package_nodes(pkg)
        if _is_arrow_fetch(node)
    ]


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


def test_broadcast_gates_go_through_the_policy_module():
    bad = broadcast_violations(PKG)
    hint = "use plans.inspect.broadcast_if_small(df, gate_on)"
    assert not bad, hint + ":\n" + "\n".join(bad)


def test_policy_module_holds_the_broadcast_gate():
    """As above for the broadcast scan: the policy module's two size
    estimates and its one gate literal are visible to the scan's
    predicates, and so are the parameters of a def that hand-rolls
    the knob."""
    nodes = list(ast.walk(ast.parse(POLICY_MODULE.read_text())))
    calls = [n for n in nodes if _is_size_estimate_call(n)]
    gates = [n for n in nodes if _is_shift_literal(n, 64, 20)]
    assert len(calls) == 2 and len(gates) == 1, (len(calls), len(gates))
    probe = ast.parse("def f(df, broadcast_keys=None, max_broadcast_bytes=0): ...")
    assert _broadcast_params(probe.body[0]) == [
        "broadcast_keys",
        "max_broadcast_bytes",
    ]


def test_driver_fetches_go_through_the_policy_module():
    bad = fetch_violations(PKG)
    hint = "use plans.inspect.fetch_if_small(df)"
    assert not bad, hint + ":\n" + "\n".join(bad)


def test_policy_module_holds_the_bounded_fetch():
    """As above for the fetch scan: the policy module's one Arrow fetch
    is visible to the scan's predicate."""
    nodes = list(ast.walk(ast.parse(POLICY_MODULE.read_text())))
    assert len([n for n in nodes if _is_arrow_fetch(n)]) == 1
