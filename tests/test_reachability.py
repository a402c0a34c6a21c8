"""Every module under ``vtshaver_spark/`` is imported, directly or
transitively, from code that is not a test: ``__spark_entry__.py``,
the CLI, the package ``__init__`` (with its lazy names), the benchmark,
the tools and the bench scripts. A module only tests reach is dead weight;
this walk names it. Spark-free: it reads the sources with ``ast``."""

import ast
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


def test_no_dangling_engine_imports():
    """Every absolute ``import vtshaver_spark.X`` and ``from
    vtshaver_spark.X import ...``, function-local ones included,
    names a module file. The walk above skips names that resolve to
    no module, so a lazy import of a deleted module inside a kernel
    would otherwise surface only when the kernel runs."""
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
                names = [node.module]
            else:
                continue
            dangling += [
                f"{os.path.relpath(path, REPO)}:{node.lineno} {name}"
                for name in names
                if name.split(".")[0] == PKG and name not in modules
            ]
    assert not dangling, "imports of no module: " + ", ".join(dangling)
