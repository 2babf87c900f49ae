"""Regrowth guard: every package module is reached from a surface.

The surfaces are the driver contract (`__spark_entry__.py`), the CLI (the
package `__main__.py`), `bench.py` with `bench/`, and the repo benchmark
`perfbench/` (its own tests excluded). The test follows every `import` and
`from ... import` statement from those files, lazy ones inside functions
included and relative ones resolved, and asserts that the transitive closure
covers every module of the package. A module only tests import fails it.
"""
import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "_intelligent_document_ai_for_field_extraction_from_invoices_spark"

# Package modules no surface imports, kept on purpose.
ALLOWED_UNREACHED = {
    # the independent relational twin that test_differential_fuzz and
    # test_nodes_native compare golden.py against (a reference implementation)
    f"{PKG}.operators.nodes",
    # stream_to_catalog, the streaming sink to the catalog that
    # test_streaming_stateful pins byte-identical to batch extraction
    f"{PKG}.streaming.extract_stream",
}


def _module_file(name: str) -> str | None:
    base = os.path.join(ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _package_modules() -> set[str]:
    out = set()
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        rel = os.path.relpath(dirpath, ROOT).replace(os.sep, ".")
        for f in files:
            if f.endswith(".py"):
                out.add(rel if f == "__init__.py" else f"{rel}.{f[:-3]}")
    return out


def _imports(path: str, name: str) -> set[str]:
    """Modules one file imports, resolved to dotted names."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    is_pkg = path.endswith("__init__.py")
    here = name if is_pkg else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = here.split(".")
                parts = parts[:len(parts) - node.level + 1]
                base = ".".join(parts + ([base] if base else []))
            out.add(base)
            # `from pkg import sub` names a submodule, not only an attribute
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _surface_files() -> list[tuple[str, str]]:
    files = [(os.path.join(ROOT, "__spark_entry__.py"), "__spark_entry__"),
             (os.path.join(ROOT, PKG, "__main__.py"), f"{PKG}.__main__"),
             (os.path.join(ROOT, "bench.py"), "bench")]
    for d in ("bench", "perfbench"):
        for f in sorted(os.listdir(os.path.join(ROOT, d))):
            if f.endswith(".py") and not f.startswith("test_"):
                files.append((os.path.join(ROOT, d, f), f"{d}.{f[:-3]}"))
    return files


def _reached() -> set[str]:
    todo = _surface_files()
    seen = {name for _, name in todo}
    while todo:
        path, name = todo.pop()
        for mod in _imports(path, name):
            parts = mod.split(".")
            # importing a.b.c also imports the packages a and a.b
            for i in range(1, len(parts) + 1):
                dotted = ".".join(parts[:i])
                if dotted in seen or not dotted.startswith(PKG):
                    continue
                f = _module_file(dotted)
                if f is not None:
                    seen.add(dotted)
                    todo.append((f, dotted))
    return seen


def test_every_package_module_has_a_surface_caller():
    unreached = _package_modules() - _reached() - ALLOWED_UNREACHED
    assert not unreached, (
        "package modules no surface imports (give each a surface caller or "
        f"delete it): {sorted(unreached)}")


def test_allow_list_names_existing_unreached_modules():
    modules, reached = _package_modules(), _reached()
    assert ALLOWED_UNREACHED <= modules
    assert not ALLOWED_UNREACHED & reached


# Defaulted public parameters no surface passes, kept on purpose:
# "<module>.<function or Class.method>.<parameter>" (package prefix
# dropped) -> why it stays.
ALLOWED_UNPASSED = {
    "sources.tables.Catalog.scan_files.where":
        "tests observe read(where=)'s manifest pruning through scan_files; "
        "the scan stats are planned to come back with the file list",
    "__main__.main.argv":
        "the CLI entry point: `python -m` reads sys.argv, tests pass argv",
    "streaming.extract_stream.stream_to_catalog.files_per_trigger":
        "the file source's rate limit, a deployment setting of the stream",
}


def _public_defaults() -> dict[str, list[tuple[str, list[str], set[str]]]]:
    """Callable name -> [(qualified name, the parameters a positional
    argument fills, the defaulted parameters)] for every public function
    and public-class method of the package with a defaulted parameter."""
    out: dict[str, list] = {}

    def add(fn: ast.FunctionDef, qual: str, bound: bool) -> None:
        a = fn.args
        pos = a.posonlyargs + a.args
        defaulted = {p.arg for p in pos[len(pos) - len(a.defaults):]}
        defaulted |= {p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
                      if d is not None}
        if defaulted:
            out.setdefault(fn.name, []).append(
                (qual, [p.arg for p in pos[bound:]], defaulted))

    for mod in _package_modules():
        path = _module_file(mod)
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        short = mod[len(PKG) + 1:]
        for node in tree.body:
            if node.name.startswith("_") if hasattr(node, "name") else True:
                continue
            if isinstance(node, ast.FunctionDef):
                add(node, f"{short}.{node.name}", False)
            elif isinstance(node, ast.ClassDef):
                for fn in node.body:
                    if (isinstance(fn, ast.FunctionDef)
                            and not fn.name.startswith("_")):
                        static = any(isinstance(d, ast.Name)
                                     and d.id == "staticmethod"
                                     for d in fn.decorator_list)
                        add(fn, f"{short}.{node.name}.{fn.name}", not static)
    return out


def _unpassed() -> set[str]:
    """`qualified.param` for every defaulted public parameter that no call
    in the surface closure (the surface files and every package module they
    reach) passes, by position or by name. A call is matched by the name it
    calls (`f(...)` or `x.f(...)`), so a parameter counts as passed when any
    callable of that name receives it."""
    defs = _public_defaults()
    files = [path for path, _ in _surface_files()]
    files += [_module_file(m) for m in _reached() if m.startswith(PKG)]
    passed: set[tuple[str, str]] = set()
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = (fn.id if isinstance(fn, ast.Name)
                    else fn.attr if isinstance(fn, ast.Attribute) else None)
            if name not in defs:
                continue
            n_pos = sum(not isinstance(x, ast.Starred) for x in node.args)
            for _, params, _ in defs[name]:
                passed.update((name, p) for p in params[:n_pos])
            passed.update((name, k.arg) for k in node.keywords if k.arg)
    return {f"{qual}.{p}" for name, entries in defs.items()
            for qual, _, defaulted in entries for p in defaulted
            if (name, p) not in passed}


def test_every_default_is_passed_by_a_surface():
    unpassed = _unpassed()
    stray = unpassed - set(ALLOWED_UNPASSED)
    assert not stray, (
        "defaulted public parameters no surface passes (give each a surface "
        f"caller or delete it with the branches it selects): {sorted(stray)}")
    assert set(ALLOWED_UNPASSED) <= unpassed, (
        "allow-listed parameters a surface now passes (drop the entry): "
        f"{sorted(set(ALLOWED_UNPASSED) - unpassed)}")
    assert all(why.strip() for why in ALLOWED_UNPASSED.values())
