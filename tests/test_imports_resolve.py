"""Every repo-local import names a module and a name that exist.

A deleted module or function leaves lazy imports behind (inside a
function body) that fail only when that function is called, so no other
test notices them. This test parses every tracked .py file and resolves
each import of ``pdf_to_text_spark.*``, ``tools.*``, ``perfbench.*`` and
every relative import statically, function-local imports included.
"""

from __future__ import annotations

import ast
import pathlib
import subprocess

ROOT = pathlib.Path(__file__).resolve().parent.parent
LOCAL = ("pdf_to_text_spark", "tools", "perfbench")


def _tracked_py(root: pathlib.Path) -> list[pathlib.Path]:
    try:
        out = subprocess.run(["git", "ls-files", "*.py"], cwd=root,
                             capture_output=True, text=True, check=True).stdout
        files = [root / f for f in out.split()]
    except (OSError, subprocess.CalledProcessError):
        files = [p for p in root.rglob("*.py") if "__pycache__" not in p.parts]
    return [p for p in files if p.exists()]


def _module_name(root: pathlib.Path, path: pathlib.Path) -> str:
    parts = list(path.relative_to(root).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _bound_names(tree: ast.Module) -> set[str]:
    """Names a module binds at top level, including inside top-level
    if/try/with blocks."""
    names: set[str] = set()
    stack: list[ast.stmt] = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.If, ast.Try, ast.With, ast.For, ast.While)):
            for field in ("body", "orelse", "finalbody"):
                stack.extend(getattr(node, field, []))
            for h in getattr(node, "handlers", []):
                stack.extend(h.body)
    return names


def dangling_imports(root: pathlib.Path) -> list[str]:
    """'<file>:<line>: <what>' for every repo-local import that does not
    resolve to an existing module, or to a name that module binds."""
    files = {_module_name(root, p): p for p in _tracked_py(root)}
    trees = {m: ast.parse(p.read_text(), str(p)) for m, p in files.items()}
    bound = {m: _bound_names(t) for m, t in trees.items()}
    bad = []
    for mod, tree in trees.items():
        where = files[mod].relative_to(root)
        is_pkg = files[mod].name == "__init__.py"
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] in LOCAL and a.name not in files:
                        bad.append(f"{where}:{node.lineno}: import {a.name}")
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    pkg = mod.split(".") if is_pkg else mod.split(".")[:-1]
                    pkg = pkg[:len(pkg) - (node.level - 1)]
                    base = ".".join(pkg + ([node.module] if node.module else []))
                elif (node.module or "").split(".")[0] in LOCAL:
                    base = node.module
                else:
                    continue
                if base not in files:
                    bad.append(f"{where}:{node.lineno}: from {base} import ...")
                    continue
                for a in node.names:
                    if a.name not in bound[base] and f"{base}.{a.name}" not in files:
                        bad.append(f"{where}:{node.lineno}: from {base} import {a.name}")
    return bad


def test_repo_local_imports_resolve():
    assert dangling_imports(ROOT) == []
