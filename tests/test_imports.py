"""Every internal import resolves, function-local ones included.

Most of the package imports its own modules inside functions, so a
deleted module or name fails only when that function runs. This walks
the source with ``ast`` instead of importing it, and needs no Spark
session.
"""

import ast
import functools
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "vamana_spark"


def _sources():
    yield os.path.join(ROOT, "__spark_entry__.py")
    for top in (PKG, "tests", "perfbench"):
        for dirpath, _, files in os.walk(os.path.join(ROOT, top)):
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.join(dirpath, f)


def _module_file(module):
    """Path of ``module``'s source, or None if no such module exists."""
    base = os.path.join(ROOT, *module.split("."))
    for path in (os.path.join(base, "__init__.py"), base + ".py"):
        if os.path.isfile(path):
            return path
    return None


@functools.lru_cache(maxsize=None)
def _top_level_names(path):
    """Names bound at module level: defs, classes, assignments and
    imports, including those inside top-level if/try/with blocks."""
    names = set()

    def bind(target):
        if isinstance(target, ast.Name):
            names.add(target.id)
        elif isinstance(target, (ast.Tuple, ast.List)):
            for t in target.elts:
                bind(t)

    def visit(body):
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    bind(t)
            elif isinstance(node, (ast.AnnAssign, ast.AugAssign, ast.For)):
                bind(node.target)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    names.add(a.asname or a.name.split(".")[0])
            for field in ("body", "orelse", "finalbody", "handlers"):
                sub = getattr(node, field, None)
                if isinstance(sub, list) and not isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    visit(sub)

    with open(path) as f:
        visit(ast.parse(f.read(), path).body)
    return frozenset(names)


def _unresolved(path):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    rel = os.path.relpath(path, ROOT)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
            imported = []
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            mods = [node.module]
            imported = [a.name for a in node.names if a.name != "*"]
        else:
            continue
        for mod in mods:
            if mod != PKG and not mod.startswith(PKG + "."):
                continue
            src = _module_file(mod)
            if src is None:
                yield f"{rel}:{node.lineno}: no module {mod}"
                continue
            for name in imported:
                if _module_file(f"{mod}.{name}"):
                    continue
                # a package's __init__ importing from itself binds the
                # name it asks for, so only a submodule satisfies it
                if src == path or name not in _top_level_names(src):
                    yield f"{rel}:{node.lineno}: {mod} has no name {name}"


def test_internal_imports_resolve():
    bad = [msg for path in _sources() for msg in _unresolved(path)]
    assert not bad, "\n".join(bad)

