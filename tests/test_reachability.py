"""Every module under ``vtshaver_spark/`` is imported, directly or
transitively, from code that is not a test: ``__spark_entry__.py``,
the CLI, the package ``__init__`` (with its lazy names), the benchmark,
the tools and the bench scripts. A module only tests reach is dead weight;
this walk names it. Spark-free: it reads the sources with ``ast``."""

import ast
import functools
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "vtshaver_spark"
ROOT_MODULES = (PKG, f"{PKG}.cli")
ROOT_FILES = ("__spark_entry__.py", "perfbench/*.py", "tools/*.py", "bench*.py")


def package_modules():
    """{dotted module name: (path, is_package)} for every .py in PKG."""
    out = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"), recursive=True):
        parts = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
        is_pkg = parts[-1] == "__init__"
        if is_pkg:
            parts = parts[:-1]
        out[".".join(parts)] = (path, is_pkg)
    return out


def imported_names(path, module=None, is_pkg=False):
    """Dotted names a file may import: every import statement at any
    depth (function-local ones too), with relative imports resolved,
    plus the module names held in a ``_LAZY`` map (PEP 562 lazy names).
    ``from a import b`` yields both ``a`` and ``a.b``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = module if is_pkg else module.rpartition(".")[0]
                for _ in range(node.level - 1):
                    pkg = pkg.rpartition(".")[0]
                base = f"{pkg}.{base}" if base else pkg
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_LAZY" for t in node.targets
        ):
            names.update(ast.literal_eval(node.value).values())
    return names


def reached_modules():
    modules = package_modules()
    todo = set(ROOT_MODULES)
    for pattern in ROOT_FILES:
        paths = glob.glob(os.path.join(REPO, pattern))
        assert paths, f"no root file matches {pattern}"
        for path in paths:
            todo |= imported_names(path)
    seen = set()
    while todo:
        name = todo.pop()
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in modules and mod not in seen:
                seen.add(mod)
                path, is_pkg = modules[mod]
                todo |= imported_names(path, mod, is_pkg)
    return seen, set(modules)


def test_every_engine_module_is_reached():
    seen, modules = reached_modules()
    unreached = sorted(modules - seen)
    assert not unreached, f"only tests import: {', '.join(unreached)}"


@functools.lru_cache(maxsize=None)
def bound_names(path):
    """Names a module binds at top level: defs, classes, assignment
    targets and imports, also inside top-level ``if``/``try``/``with``
    blocks, plus the keys of a ``_LAZY`` map (PEP 562 lazy names)."""
    with open(path) as f:
        todo = list(ast.parse(f.read(), path).body)
    names = set()
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                names.update(n.id for n in ast.walk(target) if isinstance(n, ast.Name))
                if isinstance(target, ast.Name) and target.id == "_LAZY":
                    names.update(ast.literal_eval(node.value))
        else:
            for field in ("body", "orelse", "finalbody", "handlers"):
                for child in getattr(node, field, ()):
                    todo += child.body if isinstance(child, ast.ExceptHandler) else [child]
    return names


def test_no_dangling_engine_imports():
    """Every absolute ``import vtshaver_spark.X`` and ``from
    vtshaver_spark.X import a``, function-local ones included, names a
    module file, and X binds ``a`` at top level or has a submodule
    ``a``. The walk above skips names that resolve to no module, so a
    lazy import of a deleted module or function inside a kernel would
    otherwise surface only when the kernel runs."""
    modules = package_modules()
    paths = [path for path, _ in modules.values()]
    for pattern in ROOT_FILES + ("tests/**/*.py",):
        paths += glob.glob(os.path.join(REPO, pattern), recursive=True)
    dangling = []
    for path in sorted(set(paths)):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [alias.name for alias in node.names]
            elif isinstance(node, ast.ImportFrom) and not node.level:
                mod = node.module
                if mod not in modules:
                    names = [mod]
                else:
                    bound = bound_names(modules[mod][0])
                    names = [
                        f"{mod}.{alias.name}"
                        for alias in node.names
                        if alias.name not in bound
                    ]
            else:
                continue
            dangling += [
                f"{os.path.relpath(path, REPO)}:{node.lineno} {name}"
                for name in names
                if name.split(".")[0] == PKG and name not in modules
            ]
    assert not dangling, "imports of nothing: " + ", ".join(dangling)


def test_every_operator_is_reached():
    """Every public top-level def or class in ``vtshaver_spark/operators``
    is referenced (as a name, an attribute or a ``from ... import``
    name) somewhere in the files the module walk reads: the package and
    the non-test roots. An operator only tests call is a second path
    nothing runs."""
    paths = [path for path, _ in package_modules().values()]
    for pattern in ROOT_FILES:
        paths += glob.glob(os.path.join(REPO, pattern))
    used = set()
    for path in set(paths):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                used.update(alias.name for alias in node.names)
    unused = []
    for path in sorted(glob.glob(os.path.join(REPO, PKG, "operators", "*.py"))):
        with open(path) as f:
            body = ast.parse(f.read(), path).body
        unused += [
            f"{os.path.relpath(path, REPO)}:{node.lineno} {node.name}"
            for node in body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and not node.name.startswith("_")
            and node.name not in used
        ]
    assert not unused, "only tests call: " + ", ".join(unused)
