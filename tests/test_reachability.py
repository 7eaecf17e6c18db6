"""Every package module but the kept shard export/import lane is reached
from an entrypoint: the service, the query registry, the driver contract,
the bench CLIs, the Python worker entry or `perfbench/`. Static `ast`
graph, no Spark; function-level imports, `__init__` re-exports and parent
packages all count as edges."""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "kafka_elasticsearch_injector_spark"
ROOT_SCRIPTS = ("__spark_entry__.py", "bench.py", "bench_streaming.py",
                "pyspark_injector_worker.py")
ROOT_MODULES = (f"{PKG}.__main__", f"{PKG}.plans")
KEPT_UNREACHED = {f"{PKG}.{m}" for m in (
    "sinks", "sinks._staging", "sinks.dataset", "sinks.integrity", "sinks.jsonl",
    "sinks.tfrecord", "sinks.webdataset", "sources.appended_shards",
    "sources.avro_ocf", "sources.files", "sources.tfrecord_source",
    "sources.webdataset_source")}


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
    unreached = sorted(set(mods) - _reached(mods) - KEPT_UNREACHED)
    assert not unreached, f"modules no entrypoint imports: {unreached}"
