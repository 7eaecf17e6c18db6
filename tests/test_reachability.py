"""Every package module, and every top-level def or class in it, is
reached from an entrypoint: the service, the query registry, the driver
contract, the bench CLIs, the Python worker entry or `perfbench/`.
A module nothing reaches is deleted. A symbol is reached when a
reachable module names it (an `ast` Name, Attribute or import) outside
the symbol's own body, or the plan registry's `@register` decorates it;
`__init__` re-exports do not count, and neither does a Name the
enclosing function binds itself (a parameter, assignment target, loop
variable, local import or nested def). Nothing is exempt: code only
tests call lives under `tests/` or is deleted.
Static `ast` graph, no Spark; function-level imports, `__init__`
re-exports and parent packages all count as module edges."""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "kafka_elasticsearch_injector_spark"
ROOT_SCRIPTS = ("__spark_entry__.py", "bench.py", "bench_streaming.py",
                "pyspark_injector_worker.py")
ROOT_MODULES = (f"{PKG}.__main__", f"{PKG}.plans")
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _package_modules() -> dict[str, Path]:
    rel = ((p, p.relative_to(REPO).with_suffix("").parts)
           for p in (REPO / PKG).rglob("*.py"))
    return {".".join(t[:-1] if t[-1] == "__init__" else t): p for p, t in rel}


def _imported_names(path: Path, name: str):
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                base = package.rsplit(".", node.level - 1)[0]
                mod = f"{base}.{mod}" if mod else base
            yield mod
            yield from (f"{mod}.{alias.name}" for alias in node.names)


def _reached(mods: dict[str, Path]) -> set[str]:
    stack = [(REPO / s, s[:-3]) for s in ROOT_SCRIPTS]
    stack += [(p, f"perfbench.{p.stem}") for p in (REPO / "perfbench").glob("*.py")]
    stack += [(mods[m], m) for m in ROOT_MODULES]
    seen = set(ROOT_MODULES)
    while stack:
        path, name = stack.pop()
        for imported in _imported_names(path, name):
            parts = imported.split(".")
            for prefix in (".".join(parts[:i]) for i in range(1, len(parts) + 1)):
                if prefix in mods and prefix not in seen:
                    seen.add(prefix)
                    stack.append((mods[prefix], prefix))
    return seen


def test_every_package_module_is_reached_from_an_entrypoint():
    mods = _package_modules()
    unreached = sorted(set(mods) - _reached(mods))
    assert not unreached, f"modules no entrypoint imports: {unreached}"


def _bound(fn: ast.AST) -> set[str]:
    """Names a function or lambda binds in its own scope."""
    a = fn.args
    bound = {x.arg for x in (*a.posonlyargs, *a.args, *a.kwonlyargs,
                             a.vararg, a.kwarg) if x}
    declared, stack = set(), [fn.body] if isinstance(fn, ast.Lambda) \
        else list(fn.body)
    while stack:
        n = stack.pop()
        if isinstance(n, (ast.Global, ast.Nonlocal)):
            declared.update(n.names)
        elif isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
            bound.add(n.id)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            bound.update((a.asname or a.name).partition(".")[0]
                         for a in n.names)
        if isinstance(n, DEFS):
            bound.add(n.name)
        elif not isinstance(n, ast.Lambda):
            stack.extend(ast.iter_child_nodes(n))
    return bound - declared


def _names(node: ast.AST, reexport: bool, bound: frozenset = frozenset()):
    if isinstance(node, ast.Name):
        if node.id not in bound:
            yield node.id
    elif isinstance(node, ast.Attribute):
        yield node.attr
    elif isinstance(node, (ast.Import, ast.ImportFrom)) and not reexport:
        yield from (a.name.rpartition(".")[2] for a in node.names)
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
        bound = bound | _bound(node)
    for child in ast.iter_child_nodes(node):
        yield from _names(child, reexport, bound)


def _uses(path: Path) -> dict[str, set]:
    """name -> the top-level defs using it (None: module level, or the
    registry for a `@register`-decorated query)."""
    reexport = path.name == "__init__.py"
    uses: dict[str, set] = {}
    for top in ast.parse(path.read_text(), str(path)).body:
        owner = top.name if isinstance(top, DEFS) else None
        for name in _names(top, reexport):
            uses.setdefault(name, set()).add(owner)
        if any(isinstance(d, ast.Call) and getattr(d.func, "id", None)
               == "register" for d in getattr(top, "decorator_list", ())):
            uses.setdefault(owner, set()).add(None)
    return uses


def test_every_top_level_symbol_is_reached():
    mods = _package_modules()
    sources = {m: mods[m] for m in _reached(mods)}
    sources.update({s[:-3]: REPO / s for s in ROOT_SCRIPTS})
    sources.update({f"perfbench.{p.stem}": p
                    for p in (REPO / "perfbench").glob("*.py")})
    uses = {m: _uses(p) for m, p in sources.items()}
    unreached = []
    for mod, path in sorted(mods.items()):
        for node in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(node, DEFS):
                continue
            name = node.name
            reached = any(name in u for m, u in uses.items() if m != mod) \
                or bool(uses.get(mod, {}).get(name, set()) - {name})
            if not reached:
                unreached.append(f"{mod}.{name}")
    assert not unreached, f"symbols no entrypoint reaches: {unreached}"
