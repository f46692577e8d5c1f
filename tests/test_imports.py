"""Every engine import in the repo's scripts and tests resolves.

Static check (no Spark, no imports executed): parse tools/, bench.py,
perfbench/, tests/ and __spark_entry__.py, and require that each
``real_time_data_anomaly_detection_spark`` import — module level or
inside a function — names an existing module and, for ``from X import
name``, a name that module defines or a submodule of it. A deleted
function then fails here instead of at the first run of the script
that still imports it. A second scan of the same files fails on any
string literal naming an absolute path inside a checkout of this repo:
scripts and tests find the repo from their own ``__file__``, so a copy
run from elsewhere tests and writes itself.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "real_time_data_anomaly_detection_spark"


def _module_path(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    if base.with_suffix(".py").is_file():
        return base.with_suffix(".py")
    if (base / "__init__.py").is_file():
        return base / "__init__.py"
    return None


def _defined_names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
    return names


def _sources() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("tools", "perfbench", "tests"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _engine_imports(path: Path):
    """(lineno, module, imported name or None) per engine import."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module == PKG or node.module.startswith(PKG + "."):
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name == PKG or alias.name.startswith(PKG + "."):
                    yield node.lineno, alias.name, None


def test_engine_imports_resolve():
    broken = []
    seen = 0
    for path in _sources():
        rel = path.relative_to(ROOT)
        for lineno, module, name in _engine_imports(path):
            seen += 1
            mod_path = _module_path(module)
            if mod_path is None:
                broken.append(f"{rel}:{lineno}: no module {module}")
            elif name is not None and name != "*":
                if name not in _defined_names(mod_path) and (
                    _module_path(f"{module}.{name}") is None
                ):
                    broken.append(f"{rel}:{lineno}: {module} has no {name}")
    assert seen > 100, "the scan must see the scripts' engine imports"
    assert not broken, "\n".join(broken)


def _checkout_literals(path: Path):
    """(lineno, literal) per string constant naming an absolute path in
    a checkout of this repo — the literal itself or one of its parents
    holds the package. Such a script imports or writes that checkout
    whichever copy it was started from."""
    for node in ast.walk(ast.parse(path.read_text())):
        if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
            continue
        s = node.value
        if not s.startswith("/") or len(s) > 256 or any(c.isspace() for c in s):
            continue
        p = Path(s)
        if any((q / PKG).is_dir() for q in (p, *p.parents)):
            yield node.lineno, s


def test_scripts_find_the_repo_from_their_own_path():
    hits = [
        f"{path.relative_to(ROOT)}:{lineno}: {s}"
        for path in _sources()
        for lineno, s in _checkout_literals(path)
    ]
    assert not hits, "derive the root from __file__:\n" + "\n".join(hits)
