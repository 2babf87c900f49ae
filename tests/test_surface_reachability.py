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


# Defaulted `Catalog` parameters no surface passes, kept on purpose.
ALLOWED_UNPASSED = {
    # tests observe read(where=)'s manifest pruning through scan_files; the
    # scan stats are planned to come back with the file list instead
    "scan_files.where",
}


def _catalog_defaults() -> dict[str, tuple[list[str], set[str]]]:
    """Public `Catalog` method -> (its positional parameters after self,
    its defaulted parameters), for every method with a defaulted one."""
    path = os.path.join(ROOT, PKG, "sources", "tables.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    cls = next(n for n in tree.body
               if isinstance(n, ast.ClassDef) and n.name == "Catalog")
    out = {}
    for fn in cls.body:
        if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
            continue
        a = fn.args
        pos = a.posonlyargs + a.args
        defaulted = {p.arg for p in pos[len(pos) - len(a.defaults):]}
        defaulted |= {p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
                      if d is not None}
        if defaulted:
            out[fn.name] = ([p.arg for p in pos[1:]], defaulted)
    return out


def _passed(methods: dict[str, tuple[list[str], set[str]]]) -> set[str]:
    """`method.param` for every parameter some call `x.method(...)` in the
    surface closure passes, by position or by name."""
    files = [path for path, _ in _surface_files()]
    files += [_module_file(m) for m in _reached() if m.startswith(PKG)]
    out: set[str] = set()
    for path in files:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in methods):
                continue
            m = node.func.attr
            n_pos = sum(not isinstance(x, ast.Starred) for x in node.args)
            out.update(f"{m}.{p}" for p in methods[m][0][:n_pos])
            out.update(f"{m}.{k.arg}" for k in node.keywords if k.arg)
    return out


def test_every_catalog_default_is_passed_by_a_surface():
    methods = _catalog_defaults()
    declared = {f"{m}.{p}" for m, (_, d) in methods.items() for p in d}
    passed = _passed(methods)
    unpassed = declared - passed - ALLOWED_UNPASSED
    assert not unpassed, (
        "defaulted Catalog parameters no surface passes (give each a "
        f"surface caller or delete it): {sorted(unpassed)}")
    assert ALLOWED_UNPASSED <= declared - passed
