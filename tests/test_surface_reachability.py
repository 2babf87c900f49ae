"""Regrowth guards: every package module, public function and defaulted
parameter earns its place through a surface.

The surfaces are the driver contract (`__spark_entry__.py`), the CLI (the
package `__main__.py`), `bench.py` with `bench/`, and the repo benchmark
`perfbench/` (its own tests excluded). The module guard follows every
`import` and `from ... import` statement from those files, lazy ones inside
functions included and relative ones resolved, and asserts that the
transitive closure covers every module of the package. A module only tests
import fails it. The function guard asserts that the closure references
every public function of the modules it reaches, and the parameter guard
that every defaulted public parameter takes at least two values across the
closure's calls.
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


def _from_base(node: ast.ImportFrom, path: str, name: str) -> str:
    """The dotted module a `from ... import` statement imports from."""
    base = node.module or ""
    if node.level:
        here = name if path.endswith("__init__.py") else name.rpartition(".")[0]
        parts = here.split(".")
        parts = parts[:len(parts) - node.level + 1]
        base = ".".join(parts + ([base] if base else []))
    return base


def _imports(path: str, name: str) -> set[str]:
    """Modules one file imports, resolved to dotted names."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = _from_base(node, path, name)
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


def _closure_files() -> list[tuple[str, str]]:
    """(path, module name) of the surface files and of every package
    module they reach."""
    return _surface_files() + [(_module_file(m), m) for m in _reached()
                               if m.startswith(PKG)]


def _public_functions(mod: str) -> set[str]:
    with open(_module_file(mod)) as f:
        tree = ast.parse(f.read())
    return {n.name for n in tree.body
            if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")}


# Public functions of reached modules that nothing in the surface closure
# references, kept on purpose: "<module>.<function>" -> why it stays.
ALLOWED_UNREFERENCED = {
    "datagen.expected_body":
        "the tests' expected-body oracle: the body text each seeded page "
        "must extract to",
}


def _referenced_names() -> set[str]:
    """Every name the surface closure uses as a variable or an attribute,
    except where it names a module: `from .operators import sessionize`
    binds the module, so `sessionize.session_counts` does not reference a
    function called `sessionize`."""
    modules = _package_modules()
    out: set[str] = set()
    for path, name in _closure_files():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        bound: dict[str, str] = {}  # local name -> the module it binds
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    local = a.asname or a.name.split(".")[0]
                    bound[local] = a.name if a.asname else local
            elif isinstance(node, ast.ImportFrom):
                base = _from_base(node, path, name)
                bound.update((a.asname or a.name, f"{base}.{a.name}")
                             for a in node.names
                             if f"{base}.{a.name}" in modules)

        def module(e: ast.expr) -> str | None:
            if isinstance(e, ast.Name):
                return bound.get(e.id)
            if isinstance(e, ast.Attribute) and module(e.value):
                dotted = f"{module(e.value)}.{e.attr}"
                return dotted if dotted in modules else None
            return None

        for node in ast.walk(tree):
            if isinstance(node, (ast.Name, ast.Attribute)) and not module(node):
                out.add(node.id if isinstance(node, ast.Name) else node.attr)
    return out


def _unreferenced() -> set[str]:
    used = _referenced_names()
    return {f"{mod[len(PKG) + 1:]}.{fn}"
            for mod in _reached() if mod.startswith(PKG)
            for fn in _public_functions(mod) if fn not in used}


def test_every_public_function_has_a_surface_reference():
    unreferenced = _unreferenced()
    stray = unreferenced - set(ALLOWED_UNREFERENCED)
    assert not stray, (
        "public functions nothing in the surface closure references (give "
        f"each a surface caller or delete it): {sorted(stray)}")
    assert set(ALLOWED_UNREFERENCED) <= unreferenced, (
        "allow-listed functions the surface closure now references (drop "
        f"the entry): {sorted(set(ALLOWED_UNREFERENCED) - unreferenced)}")
    assert all(why.strip() for why in ALLOWED_UNREFERENCED.values())


# Defaulted public parameters that take one value across the surface
# closure, kept on purpose: "<module>.<function or Class.method>.<parameter>"
# (package prefix dropped) -> why it stays.
ALLOWED_SINGLE_VALUED = {
    "sources.tables.Catalog.scan_files.where":
        "tests observe read(where=)'s manifest pruning through scan_files; "
        "the scan stats are planned to come back with the file list",
    "__main__.main.argv":
        "the CLI entry point: `python -m` reads sys.argv, tests pass argv",
    "streaming.extract_stream.stream_to_catalog.files_per_trigger":
        "the file source's rate limit, a deployment setting of the stream",
    "operators.dedup.connected_components.pairs_canonical":
        "every surface passes True, perfbench's curate workload included; "
        "the sym.distinct() branch it skips goes with a benchmark change",
    "sources.tables.Catalog.vacuum.min_age_secs":
        "the 600 s age gate is concurrency safety: it keeps files a racing "
        "writer has staged; the CLI passes 0 only as no-writer maintenance",
    "operators.similarity.cosine_knn.k":
        "the result size of a top-k query; tests compare it against "
        "ivf_ann_query's k",
}


def _public_defaults() -> dict[str, list[tuple[str, list[str], dict]]]:
    """Callable name -> [(qualified name, the parameters a positional
    argument fills, defaulted parameter -> its default's source text)] for
    every public function and public-class method of the package with a
    defaulted parameter."""
    out: dict[str, list] = {}

    def add(fn: ast.FunctionDef, qual: str, bound: bool) -> None:
        a = fn.args
        pos = a.posonlyargs + a.args
        defaults = dict(zip([p.arg for p in pos[len(pos) - len(a.defaults):]],
                            map(ast.unparse, a.defaults)))
        defaults.update((p.arg, ast.unparse(d))
                        for p, d in zip(a.kwonlyargs, a.kw_defaults)
                        if d is not None)
        if defaults:
            out.setdefault(fn.name, []).append(
                (qual, [p.arg for p in pos[bound:]], defaults))

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


VARYING = None  # the value of an argument that is not a literal


def _value(arg: ast.expr) -> str | None:
    """A literal argument's source text, else VARYING."""
    try:
        ast.literal_eval(arg)
    except ValueError:
        return VARYING
    return ast.unparse(arg)


def _single_valued() -> set[str]:
    """`qualified.param` for every defaulted public parameter that takes
    fewer than two values across the calls of the surface closure (the
    surface files and every package module they reach). An omitted argument
    counts as its default's source text, a literal as its own source text,
    and anything else as varying; so a parameter no call passes has one
    value. A call is matched by the name it calls (`f(...)` or `x.f(...)`),
    so every callable of that name sees it."""
    defs = _public_defaults()
    values: dict[str, set[str | None]] = {}
    for path, _ in _closure_files():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = (fn.id if isinstance(fn, ast.Name)
                    else fn.attr if isinstance(fn, ast.Attribute) else None)
            for qual, params, defaults in defs.get(name, []):
                given, splat = {}, False
                for p, arg in zip(params, node.args):
                    if isinstance(arg, ast.Starred):
                        splat = True
                        break
                    given[p] = _value(arg)
                for k in node.keywords:
                    if k.arg is None:
                        splat = True
                    else:
                        given[k.arg] = _value(k.value)
                for p, default in defaults.items():
                    # a */** splat may fill any parameter not given by name
                    values.setdefault(f"{qual}.{p}", set()).add(
                        given.get(p, VARYING if splat else default))
    return {f"{qual}.{p}" for entries in defs.values()
            for qual, _, defaults in entries for p in defaults
            if VARYING not in values.get(f"{qual}.{p}", set())
            and len(values.get(f"{qual}.{p}", set())) < 2}


def test_every_default_takes_two_values_across_surfaces():
    single = _single_valued()
    stray = single - set(ALLOWED_SINGLE_VALUED)
    assert not stray, (
        "defaulted public parameters that take one value across the "
        "surfaces (fold each into a constant with the branches it selects): "
        f"{sorted(stray)}")
    assert set(ALLOWED_SINGLE_VALUED) <= single, (
        "allow-listed parameters that now take two values (drop the entry): "
        f"{sorted(set(ALLOWED_SINGLE_VALUED) - single)}")
    assert all(why.strip() for why in ALLOWED_SINGLE_VALUED.values())
