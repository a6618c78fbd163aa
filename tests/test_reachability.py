"""Every ``extractor`` module, and every top-level ``def`` and ``class`` in
one, must be reached from an entry point: the contract module
(``__spark_entry__.py``), the spark-submit scripts, the benchmarks.  Code
only tests run serves no workload, so these fail when some appears.  The
same holds for a parameter's non-default values: a default-valued
parameter no entry point sets is a constant."""

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


# defs only tests call, kept on purpose: the reference's own form of a
# function the pipeline runs in a faster shape, and small test-input and
# read-back helpers
EXTRA_ROOTS = {
    "_escape_md_section_unguarded",
    "relative_image_path",
    "read_export_manifest",
    "oversized_case",
}


def _referenced(nodes):
    """Names *nodes* refer to: loaded or assigned names, attribute names
    and imported names.  The strings of an ``__all__`` list are not
    references: a module exporting a name does not make anything call
    it."""
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rpartition(".")[2])
    return out


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read())


def _unreached_defs():
    """Top-level defs and classes of reachable ``extractor`` modules that no
    entry point reaches through a chain of name references.

    The walk matches by name only: a reference to ``f`` reaches every
    top-level ``f`` in ``extractor``, so it can miss a dead def that shares
    its name with a live one; it never reports a live def as dead."""
    defs = {}  # name -> [(module, body nodes)]
    roots = set(EXTRA_ROOTS)
    for mod in _reachable() - TEST_TOOLING:
        for node in _parse(_module_file(mod)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((mod, node))
            else:
                roots |= _referenced([node])
    for pattern in ENTRY_POINTS:
        for path in glob.glob(os.path.join(REPO, pattern)):
            roots |= _referenced([_parse(path)])

    seen, todo = set(), [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        body = [node for _, node in defs[name]]
        todo += [n for n in _referenced(body) - seen if n in defs]
    return sorted(
        f"{mod}.{name}"
        for name, found in defs.items()
        if name not in seen
        for mod, _ in found
    )


def test_every_extractor_def_is_reached_from_an_entry_point():
    assert _unreached_defs() == []


def test_every_extra_root_is_an_extractor_def():
    """A root whose def is gone would silently keep nothing alive."""
    names = {
        node.name
        for path in glob.glob(
            os.path.join(REPO, "extractor", "**", "*.py"), recursive=True
        )
        for node in _parse(path).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }
    assert sorted(EXTRA_ROOTS - names) == []


# default-valued parameters no entry point varies, kept on purpose
# ("module.def.param" -> reason)
FIXED_PARAMETER_ALLOWLIST = {
    **{
        f"extractor.ops.maintenance.{op}.base_dir": "deployment path"
        for op in (
            "backfill_partition_overwrite",
            "dpp_partition_prune",
            "jsonl_corrupt_read",
            "schema_evolution_read",
        )
    },
    **{
        f"extractor.ops.links.{op}.materialize": "plan-position test seam"
        for op in ("pagerank", "hits", "kcore")
    },
    "extractor.plan_lint.assert_clean.allow": "test tooling",
    "extractor.paths.relative_image_path.images_folder": "a reference form",
    "extractor.paths.relative_image_path.pathmod": "a reference form",
    "extractor.pdf.lzw_encode.early_change": "decoder test input",
    "extractor.pdf.png_predict_encode.colors": "decoder test input",
    "extractor.pdf.png_predict_encode.bpc": "decoder test input",
    "extractor.pdf.png_predict_encode.filter_type": "decoder test input",
    "extractor.transcripts.transcripts_df.seed": "bench.py passes it by keyword",
}


def _callee(call):
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _signature(node):
    """(positional names, {name: default AST}) of a def, or of a
    dataclass's generated ``__init__``."""
    if isinstance(node, ast.ClassDef):
        fields = [
            s
            for s in node.body
            if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)
        ]
        return (
            [s.target.id for s in fields],
            {s.target.id: s.value for s in fields if s.value is not None},
        )
    a = node.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    defaults.update(
        (p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    )
    return positional, defaults


def _defaulted_parameters():
    """{(module, qualname, param): default AST} over top-level defs,
    methods and dataclasses of ``extractor/**`` and the contract module,
    plus {callee name: [((module, qualname), positional names)]}; a
    method's positional names leave out ``self``."""
    params, by_name = {}, {}
    paths = glob.glob(os.path.join(REPO, "extractor", "**", "*.py"), recursive=True)
    paths.append(os.path.join(REPO, "__spark_entry__.py"))
    for path in paths:
        mod = os.path.relpath(path, REPO)[: -len(".py")].replace(os.sep, ".")
        mod = mod.removesuffix(".__init__")
        for node in _parse(path).body:
            defs = []
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.append((node.name, node.name, node, False))
            elif isinstance(node, ast.ClassDef):
                if any("dataclass" in ast.dump(d) for d in node.decorator_list):
                    defs.append((node.name, node.name, node, False))
                for sub in node.body:
                    if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        static = any(
                            "staticmethod" in ast.dump(d) for d in sub.decorator_list
                        )
                        call_name = node.name if sub.name == "__init__" else sub.name
                        defs.append(
                            (f"{node.name}.{sub.name}", call_name, sub, not static)
                        )
            for qual, call_name, d, is_method in defs:
                positional, defaults = _signature(d)
                if is_method:
                    positional = positional[1:]
                for p, default in defaults.items():
                    params[(mod, qual, p)] = default
                if defaults:
                    by_name.setdefault(call_name, []).append(
                        ((mod, qual), positional)
                    )
    return params, by_name


def _fixed_parameters():
    """Default-valued parameters that no call in an entry point or in
    ``extractor/`` passes a value other than the default's AST.  Calls
    match defs by name only, and ``*args``/``**kw`` vary nothing."""
    params, by_name = _defaulted_parameters()
    varied = set()
    callers = glob.glob(os.path.join(REPO, "extractor", "**", "*.py"), recursive=True)
    for pattern in ENTRY_POINTS:
        callers += glob.glob(os.path.join(REPO, pattern))
    for path in callers:
        for call in ast.walk(_parse(path)):
            if not isinstance(call, ast.Call) or _callee(call) not in by_name:
                continue
            for key, positional in by_name[_callee(call)]:
                passed = []
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred) or i >= len(positional):
                        break
                    passed.append((positional[i], arg))
                passed += [(k.arg, k.value) for k in call.keywords if k.arg]
                for p, value in passed:
                    default = params.get(key + (p,))
                    if default is not None and ast.dump(value) != ast.dump(default):
                        varied.add(key + (p,))
    return sorted(".".join(k) for k in params if k not in varied)


def test_every_default_parameter_is_set_by_an_entry_point():
    """A default no caller changes is a constant spelt as an option: only
    tests can reach its other values, and the code those values select.
    An allowlist entry that names no parameter would keep nothing."""
    fixed = set(_fixed_parameters())
    assert sorted(fixed - set(FIXED_PARAMETER_ALLOWLIST)) == []
    params, _ = _defaulted_parameters()
    named = {".".join(k) for k in params}
    assert sorted(set(FIXED_PARAMETER_ALLOWLIST) - named) == []
