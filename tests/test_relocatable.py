"""The repo runs from any checkout path: no Python file may put an
absolute path literal on ``sys.path`` or load a module from one. Each
file computes the repo root from its own ``__file__`` instead."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOADERS = {"spec_from_file_location", "SourceFileLoader", "run_path"}


def _absolute_literals(node: ast.AST, consts: dict[str, bool]) -> bool:
    for sub in ast.walk(node):
        if (isinstance(sub, ast.Constant) and isinstance(sub.value, str)
                and os.path.isabs(sub.value)):
            return True
        if isinstance(sub, ast.Name) and consts.get(sub.id):
            return True
    return False


def _is_sys_path(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "path"
            and isinstance(node.value, ast.Name) and node.value.id == "sys")


def hard_coded_imports(source: str) -> list[int]:
    """Line numbers where ``source`` puts an absolute path literal (or a
    module-level name bound to one) on sys.path or loads a module from
    it."""
    tree = ast.parse(source)
    consts: dict[str, bool] = {}
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign):
            for target in stmt.targets:
                if isinstance(target, ast.Name):
                    consts[target.id] = _absolute_literals(stmt.value, {})
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            func = node.func
            name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
            on_path = isinstance(func, ast.Attribute) and _is_sys_path(func.value)
            if (on_path or name in LOADERS) and any(
                _absolute_literals(a, consts) for a in node.args
            ):
                bad.append(node.lineno)
        elif isinstance(node, (ast.Assign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            if any(_is_sys_path(t) or (isinstance(t, ast.Subscript) and _is_sys_path(t.value))
                   for t in targets) and _absolute_literals(node.value, consts):
                bad.append(node.lineno)
    return bad


def _python_files():
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if not d.startswith(".") and d != "__pycache__"]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def test_detector_flags_each_hard_coded_form():
    flagged = [
        'import sys\nsys.path.insert(0, "/srv/app")',
        'import sys\nsys.path.append(f"/srv/app/{1}")',
        'import sys\nsys.path[:0] = ["/srv/app"]',
        'import sys\nROOT = "/srv/app"\nsys.path.insert(0, ROOT)',
        'import importlib.util as u\nu.spec_from_file_location("m", "/srv/app/m.py")',
    ]
    for src in flagged:
        assert hard_coded_imports(src), src
    assert not hard_coded_imports(
        'import os, sys\nsys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))'
    )
    assert not hard_coded_imports('TMP = "/srv/app/.tmp"\nopen(TMP)')


def test_no_hard_coded_repo_root_on_import_paths():
    bad = {}
    for path in _python_files():
        with open(path, encoding="utf-8") as fh:
            lines = hard_coded_imports(fh.read())
        if lines:
            bad[os.path.relpath(path, ROOT)] = lines
    assert not bad, f"absolute path literals on sys.path / module loads: {bad}"
