"""Every ``extractor`` module must be imported, directly or through other
modules, from an entry point: the driver contract, the spark-submit
scripts, the benchmarks.  A module only tests import serves no workload,
so this fails when one appears."""

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENTRY_POINTS = (
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "scripts/*.py",
    "perfbench/*.py",
)

# lint helpers over physical plans, run by the plan tests as tooling
TEST_TOOLING = {"extractor.plan_lint"}


def _module_file(name):
    base = os.path.join(REPO, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _imported(path, name):
    """``extractor`` modules *path* (module *name*) imports, at any depth
    of the file: package ``__init__``s included, relative imports
    resolved."""
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    found = []
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
        if isinstance(node, ast.Import):
            found += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parts = parts[: len(parts) - node.level + 1]
                base = ".".join(parts + ([base] if base else []))
            found.append(base)
            found += [f"{base}.{a.name}" for a in node.names]
    out = set()
    for mod in found:
        parts = mod.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix.split(".")[0] == "extractor" and _module_file(prefix):
                out.add(prefix)
    return out


def _reachable():
    todo = [
        (path, "__main__")
        for pattern in ENTRY_POINTS
        for path in glob.glob(os.path.join(REPO, pattern))
    ]
    seen = set()
    while todo:
        path, name = todo.pop()
        for mod in _imported(path, name) - seen:
            seen.add(mod)
            todo.append((_module_file(mod), mod))
    return seen


def _all_modules():
    out = set()
    for path in glob.glob(os.path.join(REPO, "extractor", "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        out.add(".".join(rel))
    return out


def test_every_extractor_module_is_reached_from_an_entry_point():
    assert sorted(_all_modules() - _reachable() - TEST_TOOLING) == []
