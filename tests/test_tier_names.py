"""Every slow-tier name in `conftest.py` still names a test: each
`SLOW_MODULES` entry is a module under `tests/`, and each
`SLOW_TEST_PREFIXES` entry prefixes at least one `def test_…` there. A
stale name marks nothing, so deleting a test file must prune it. Static
`ast` read, no Spark."""

import ast
from pathlib import Path

TESTS = Path(__file__).resolve().parent


def _tier_lists() -> dict[str, object]:
    found = {}
    for node in ast.parse((TESTS / "conftest.py").read_text()).body:
        if (isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name)
                and node.targets[0].id in ("SLOW_MODULES", "SLOW_TEST_PREFIXES")):
            value = node.value
            if isinstance(value, ast.Call):  # frozenset({...})
                value = value.args[0]
            found[node.targets[0].id] = ast.literal_eval(value)
    return found


def _test_names() -> set[str]:
    return {node.name
            for path in TESTS.glob("*.py")
            for node in ast.walk(ast.parse(path.read_text(), str(path)))
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name.startswith("test_")}


def test_slow_tier_names_match_existing_tests():
    tiers = _tier_lists()
    modules = {p.stem for p in TESTS.glob("test_*.py")}
    stale_modules = sorted(set(tiers["SLOW_MODULES"]) - modules)
    assert not stale_modules, f"SLOW_MODULES without a test file: {stale_modules}"
    names = _test_names()
    stale = [p for p in tiers["SLOW_TEST_PREFIXES"]
             if not any(n.startswith(p) for n in names)]
    assert not stale, f"SLOW_TEST_PREFIXES matching no test: {stale}"
