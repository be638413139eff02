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


def _parse_all(root: pathlib.Path):
    files = {_module_name(root, p): p for p in _tracked_py(root)}
    return files, {m: ast.parse(p.read_text(), str(p)) for m, p in files.items()}


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


def _from_base(mod: str, is_pkg: bool, node: ast.ImportFrom) -> str | None:
    """The absolute module a repo-local `from X import ...` in `mod`
    names, or None when X is not repo-local."""
    if node.level:
        pkg = mod.split(".") if is_pkg else mod.split(".")[:-1]
        pkg = pkg[:len(pkg) - (node.level - 1)]
        return ".".join(pkg + ([node.module] if node.module else []))
    if (node.module or "").split(".")[0] in LOCAL:
        return node.module
    return None


def dangling_imports(root: pathlib.Path) -> list[str]:
    """'<file>:<line>: <what>' for every repo-local import that does not
    resolve to an existing module, or to a name that module binds."""
    files, trees = _parse_all(root)
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
                base = _from_base(mod, is_pkg, node)
                if base is None:
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


# The engine's entry points: code no import chain from these reaches is
# dead weight (tests alone do not keep a module alive).
ROOTS = ("pdf_to_text_spark/pipeline.py", "pdf_to_text_spark/run.py",
         "pdf_to_text_spark/streaming", "perfbench")

# Engine modules no root reaches that stay on purpose, each with its
# reason. Anything else unreached is deleted, not added here.
UNREACHED_OK = {
    # media codecs: only their tests decode media; they go codec by codec
    "pdf_to_text_spark.kernels.media",
    # stand-alone chunk enrichment: whether it stays is still open
    "pdf_to_text_spark.operators.enrichment",
    # the tests' loader for the generated sf testdata tables
    "pdf_to_text_spark.sources.catalog",
}


def reachable_modules(root: pathlib.Path) -> set[str]:
    """Repo-local modules reachable by import from ROOTS: each import
    pulls in the named module, its parent packages and, for
    `from pkg import sub`, the submodule. Function-local imports count."""
    files, trees = _parse_all(root)
    todo = [m for m, p in files.items()
            if any(str(p.relative_to(root)).startswith(r) for r in ROOTS)]
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in seen or mod not in files:
            continue
        seen.add(mod)
        parts = mod.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]
        is_pkg = files[mod].name == "__init__.py"
        for node in ast.walk(trees[mod]):
            if isinstance(node, ast.Import):
                todo += [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = _from_base(mod, is_pkg, node)
                if base is not None:
                    todo += [base] + [f"{base}.{a.name}" for a in node.names]
    return seen


def test_every_engine_module_is_reachable_from_a_root():
    files, _ = _parse_all(ROOT)
    engine = {m for m in files if m.split(".")[0] == "pdf_to_text_spark"}
    unreached = engine - reachable_modules(ROOT)
    assert sorted(unreached - UNREACHED_OK) == []
    # an allowlisted module that a root reaches again leaves the list
    assert sorted(UNREACHED_OK - unreached) == []
