"""`pyspark_injector_worker`: zip archives are re-read only when they
change, every other import cache is invalidated as before, local
`get_spark` sessions run Python tasks under it, and the installed PySpark
still has the two hooks it relies on."""

from __future__ import annotations

import ast
import importlib
import os
import socket
import subprocess
import sys
import uuid
import zipfile
import zipimport
from pathlib import Path

import pyspark
import pytest

import pyspark_injector_worker  # installs the patch
from kafka_elasticsearch_injector_spark.session import python_worker_module

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture()
def reads(monkeypatch):
    """Archive paths whose central directory zipimport reads."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path: Path, files: dict[str, str], mtime_ns: int) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
    os.utime(path, ns=(mtime_ns, mtime_ns))


def _name() -> str:
    return f"wz_{uuid.uuid4().hex[:12]}"


def test_unchanged_zip_is_not_reread(tmp_path, reads, monkeypatch):
    mod = _name()
    archive = tmp_path / "a.zip"
    _write_zip(archive, {f"{mod}.py": "X = 1\n"}, 1_000_000_000_000_000_000)
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(mod).X == 1
    reads.clear()
    importlib.invalidate_caches()          # first sight: read once
    assert reads.count(str(archive)) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1


def test_zip_rewritten_in_place_is_reread(tmp_path, reads, monkeypatch):
    pkg = _name()
    archive = tmp_path / "b.zip"
    _write_zip(archive, {f"{pkg}/__init__.py": "", f"{pkg}/old.py": "X = 1\n"},
               1_000_000_000_000_000_000)
    monkeypatch.syspath_prepend(str(archive))
    importlib.import_module(f"{pkg}.old")  # a second importer, for pkg/
    importlib.invalidate_caches()
    before = reads.count(str(archive))
    _write_zip(archive, {f"{pkg}/__init__.py": "", f"{pkg}/old.py": "X = 1\n",
                         f"{pkg}/new.py": "Y = 2\n"},
               1_000_000_000_000_000_001)
    importlib.invalidate_caches()
    # One read serves both importers of the archive.
    assert reads.count(str(archive)) == before + 1
    assert importlib.import_module(f"{pkg}.new").Y == 2
    top = _name()
    _write_zip(archive, {f"{top}.py": "Z = 3\n"}, 1_000_000_000_000_000_001)
    importlib.invalidate_caches()          # same mtime, new size
    assert importlib.import_module(top).Z == 3


def test_removed_zip_empties_its_importer(tmp_path, monkeypatch):
    mod, other = _name(), _name()
    archive = tmp_path / "c.zip"
    _write_zip(archive, {f"{other}.py": "", f"{mod}.py": ""},
               1_000_000_000_000_000_000)
    monkeypatch.syspath_prepend(str(archive))
    importlib.import_module(other)
    importlib.invalidate_caches()
    archive.unlink()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module(mod)


def test_file_finder_sees_a_new_module(tmp_path, monkeypatch):
    mod = _name()
    monkeypatch.syspath_prepend(str(tmp_path))
    with pytest.raises(ImportError):
        importlib.import_module(mod)       # caches the directory listing
    st = tmp_path.stat()
    (tmp_path / f"{mod}.py").write_text("W = 4\n")
    # Same directory mtime: only the invalidation can make it rescan.
    os.utime(tmp_path, ns=(st.st_atime_ns, st.st_mtime_ns))
    importlib.invalidate_caches()
    assert importlib.import_module(mod).W == 4


def test_run_as_main_starts_the_pyspark_worker():
    """The non-daemon launch (`python -m <worker module>`) runs
    `pyspark.worker` as `__main__`, which first connects back to the JVM;
    here nothing listens, so it stops right there."""
    with socket.socket() as held:          # bound, not listening: refused
        held.bind(("127.0.0.1", 0))
        env = {**os.environ, "PYTHONPATH": str(REPO),
               "PYTHON_WORKER_FACTORY_PORT": str(held.getsockname()[1]),
               "PYTHON_WORKER_FACTORY_SECRET": "unused"}
        run = subprocess.run([sys.executable, "-m", "pyspark_injector_worker"],
                             env=env, capture_output=True, text=True,
                             timeout=60)
    assert run.returncode != 0
    assert "local_connect_and_auth" in run.stderr
    assert "Connection refused" in run.stderr


@pytest.mark.parametrize("master,module", [
    ("local", "pyspark_injector_worker"),
    ("local[4]", "pyspark_injector_worker"),
    ("local[*]", "pyspark_injector_worker"),
    ("local-cluster[2,1,1024]", None),
    ("spark://host:7077", None),
    ("yarn", None),
    ("k8s://https://host:443", None),
])
def test_worker_entry_is_set_for_local_masters_only(master, module):
    assert python_worker_module(master) == module


# --- PySpark-upgrade guard: the hooks this module depends on ------------

PYSPARK = Path(pyspark.__file__).parent


def _calls(tree: ast.AST):
    return (n for n in ast.walk(tree) if isinstance(n, ast.Call))


def test_pyspark_worker_still_invalidates_caches_per_task():
    tree = ast.parse((PYSPARK / "worker_util.py").read_text())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef)
              and n.name == "setup_spark_files")
    assert any(ast.unparse(c.func) == "importlib.invalidate_caches"
               for c in _calls(fn))
    assert callable(zipimport.zipimporter.invalidate_caches)


def test_pyspark_daemon_still_gates_worker_module_on_prefix():
    tree = ast.parse((PYSPARK / "daemon.py").read_text())
    gates = [n for n in tree.body if isinstance(n, ast.If)
             and any(ast.unparse(c) == "sys.argv[1].startswith('pyspark')"
                     for c in _calls(n.test))]
    assert gates, "daemon.py no longer selects a worker module by prefix"
    assert any(ast.unparse(c.func) == "importlib.import_module"
               for c in _calls(gates[0]))
    assert pyspark_injector_worker.__name__.startswith("pyspark")
    assert pyspark_injector_worker.main is importlib.import_module(
        "pyspark.worker").main


# --- Spark tier ---------------------------------------------------------


def test_local_session_tasks_run_under_worker_entry(spark):
    def probe(batches):
        import sys as _sys
        import zipimport as _zi

        import pyarrow as pa
        patched = _zi.zipimporter.invalidate_caches.__module__
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"m": ["pyspark_injector_worker" in _sys.modules
                       and patched == "pyspark_injector_worker"] * b.num_rows})

    rows = spark.range(0, 8, numPartitions=2).mapInArrow(probe, "m boolean")
    assert {r.m for r in rows.collect()} == {True}


def test_zip_added_mid_session_imports_in_a_later_task(spark, tmp_path):
    mod = _name()

    def load(batches):
        import importlib as _il

        import pyarrow as pa
        for b in batches:
            v = _il.import_module(mod).V
            yield pa.RecordBatch.from_pydict({"v": [v] * b.num_rows})

    df = spark.range(0, 4, numPartitions=2)
    with pytest.raises(Exception, match=mod):  # not shipped yet
        df.mapInArrow(load, "v bigint").collect()
    archive = tmp_path / f"{mod}.zip"
    _write_zip(archive, {f"{mod}.py": "V = 7\n"}, 1_000_000_000_000_000_000)
    spark.sparkContext.addPyFile(str(archive))
    try:
        assert {r.v for r in df.mapInArrow(load, "v bigint").collect()} == {7}
    finally:
        sys.path[:] = [p for p in sys.path if mod not in p]
