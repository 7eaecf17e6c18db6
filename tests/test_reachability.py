"""Every package module, and every top-level def or class in it, is
reached from an entrypoint: the service, the query registry, the driver
contract, the bench CLIs, the Python worker entry or `perfbench/`.
A module nothing reaches is deleted. A symbol is reached when a
reachable module names it (an `ast` Name, Attribute or import) outside
the symbol's own body, or the plan registry's `@register` decorates it;
`__init__` re-exports do not count. Only the named `TEST_ONLY` symbols
are exempt, and an entry that is reached again or gone fails the check.
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

#: Top-level symbols only tests use: producer-side fixtures, helpers
#: of kernels the service and the queries run another way, and service
#: extras no entrypoint calls (ROADMAP item 4).
TEST_ONLY = frozenset({
    # producer-side fixtures in product code
    "encode_confluent", "wire_encode", "drop_decode_errors",
    "dict_registry", "FileTransport",
    # test-only helpers
    "decode_wav", "sample_frames", "extract_features", "decode_image_dims",
    "resize_stub", "ivf_persist", "ivf_read_cells", "ivf_train",
    "write_bucketed", "salted_join", "compact", "bitmask64",
    "simhash64_pairs", "winnow_fingerprints", "driver_history",
    # service extras no entrypoint calls
    "replay_dead_letters", "enrich_static", "ensure_index_template",
})


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


def _names(node: ast.AST, reexport: bool):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, (ast.Import, ast.ImportFrom)) and not reexport:
            yield from (a.name.rpartition(".")[2] for a in n.names)


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


def test_every_top_level_symbol_is_reached_or_test_only():
    mods = _package_modules()
    sources = {m: mods[m] for m in _reached(mods)}
    sources.update({s[:-3]: REPO / s for s in ROOT_SCRIPTS})
    sources.update({f"perfbench.{p.stem}": p
                    for p in (REPO / "perfbench").glob("*.py")})
    uses = {m: _uses(p) for m, p in sources.items()}
    unreached, defined = [], set()
    for mod, path in sorted(mods.items()):
        for node in ast.parse(path.read_text(), str(path)).body:
            if not isinstance(node, DEFS):
                continue
            name = node.name
            defined.add(name)
            reached = any(name in u for m, u in uses.items() if m != mod) \
                or bool(uses.get(mod, {}).get(name, set()) - {name})
            if reached == (name in TEST_ONLY):
                unreached.append(f"{mod}.{name}")
    stale = sorted(TEST_ONLY - defined)
    assert not unreached, (
        "symbols no entrypoint reaches, or TEST_ONLY entries that are "
        f"reached: {unreached}")
    assert not stale, f"TEST_ONLY names no longer defined: {stale}"
