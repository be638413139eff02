"""Every repo-local import names a module and a name that exist, and
the engine holds only what its entry points reach.

A deleted module or function leaves lazy imports behind (inside a
function body) that fail only when that function is called, so no other
test notices them. This test parses every tracked .py file and resolves
each import of ``pdf_to_text_spark.*``, ``tools.*``, ``perfbench.*`` and
every relative import statically, function-local imports included.

Two reachability guards follow: every engine module is imported from a
root, and every top-level function, class or module-level name of such
a module is named by the code the roots reach (a test alone does not
keep code alive).
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
         "perfbench")

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
    assert sorted(engine - reachable_modules(ROOT)) == []


# The entry points a deployment calls by name: every public top-level
# name of these modules.
ENTRY_MODULES = ("pdf_to_text_spark.pipeline", "pdf_to_text_spark.run")

# Root-reached definitions and module-level names that only tests name,
# kept on purpose, each with its reason. Anything else that only tests
# name is deleted, not added here.
UNNAMED_OK = {
    # the T-table AES's reference: tests compare the fast path against it
    "pdf_to_text_spark.kernels.crypto._crypt_block",
    # the join-form MinHash reference of dedup_corpus's hot-bucket test
    "pdf_to_text_spark.operators.dedup.minhash_dedup_pairs",
    # the exact n-gram Jaccard that the MinHash estimate is checked against
    "pdf_to_text_spark.operators.dedup.ngram_jaccard_pairs",
    # the component operators text_profile's fused pass is checked against
    "pdf_to_text_spark.operators.text_analysis.token_counts",
    "pdf_to_text_spark.operators.text_analysis.quality_score",
    "pdf_to_text_spark.operators.text_analysis.language_id",
    # the regex that test_text_analysis checks the decomposed BPE token
    # count against
    "pdf_to_text_spark.operators.text_analysis.BPE_TOKEN_RE",
    # the public view of the kernel's shingle rule, which
    # test_minhash_batch pins against its frozen formula
    "pdf_to_text_spark.kernels.textstats.word_shingles",
    # the test-only parquet writer over pages_df, and the engine's only
    # name for it: the synthetic generator that tests and the verify
    # recipe drive
    "pdf_to_text_spark.sources.pages.write_pages",
}


def _named(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Identifiers `tree` names (a Name, an attribute, an imported
    name), leaving out what lies inside `skip`."""
    out: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.split(".")[-1])
        stack.extend(ast.iter_child_nodes(node))
    return out


def _definitions(tree: ast.Module):
    """(name, statement) for every top-level def/class and every
    non-dunder target of a top-level assignment."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not (
                            n.id.startswith("__") and n.id.endswith("__")):
                        yield n.id, node


def unnamed_definitions(root: pathlib.Path) -> set[str]:
    """'<module>.<name>' for every top-level def/class or module-level
    name of a root-reached engine module that no root-reached module and
    no tools/ module names outside the defining statement. Public names
    of ENTRY_MODULES are entry points."""
    files, trees = _parse_all(root)
    reached = reachable_modules(root)
    scope = [m for m in files if m in reached or m.split(".")[0] == "tools"]
    names_in = {m: _named(trees[m]) for m in scope}
    bad = set()
    for mod in sorted(reached):
        if mod.split(".")[0] != "pdf_to_text_spark":
            continue
        for name, node in _definitions(trees[mod]):
            if mod in ENTRY_MODULES and not name.startswith("_"):
                continue
            if name in _named(trees[mod], skip=node):
                continue
            if any(name in names_in[m] for m in scope if m != mod):
                continue
            bad.add(f"{mod}.{name}")
    return bad


def test_every_engine_definition_is_named_by_the_engine():
    unnamed = unnamed_definitions(ROOT)
    assert sorted(unnamed - UNNAMED_OK) == []
    # an allowlisted definition that the engine names again leaves the list
    assert sorted(UNNAMED_OK - unnamed) == []
