"""Python worker entry for local Spark sessions (`spark.python.worker.module`).

Before each task, PySpark's worker calls `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`). On CPython 3.11 that makes every
cached `zipimport.zipimporter` re-read its archive's central directory, and
`pyspark.zip` alone (about 1,300 entries) sits behind a dozen of them, so
each task of each Python node paid roughly 0.1 s before running any user
code. This module swaps `zipimporter.invalidate_caches` for one that
re-reads an archive only when its `(st_mtime_ns, st_size)` differs from
the last read in this process. FileFinders and meta-path finders are
invalidated exactly as before, and an archive that changes, or one
`addPyFile` ships later, is still read.

The name must start with `pyspark`: `pyspark.daemon` imports a configured
worker module only then. The daemon imports this module, with pandas,
pyarrow and the service's two kernel modules, before it forks the workers,
and calls `main`; a non-daemon worker runs it as
`python -m pyspark_injector_worker`. `session.get_spark` sets it for
local masters only.
"""

from __future__ import annotations

import os
import zipimport

_invalidate_zip = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) at this process's last read of it
_read_at: dict[str, tuple[int, int]] = {}


def _invalidate_zip_if_changed(self) -> None:
    """`zipimporter.invalidate_caches` that skips an unchanged archive.

    The stat comes before the read, so an archive rewritten between the
    two is read again on the next call rather than missed."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_at.pop(self.archive, None)
        _invalidate_zip(self)
        return
    sig = (st.st_mtime_ns, st.st_size)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if _read_at.get(self.archive) == sig and cached is not None:
        # Another importer of the same archive may have done the read.
        self._files = cached
        return
    _invalidate_zip(self)
    _read_at[self.archive] = sig


zipimport.zipimporter.invalidate_caches = _invalidate_zip_if_changed

if __name__ == "__main__":
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    from pyspark.worker import main  # noqa: F401  (the daemon's entry)
    # What every worker of this package imports anyway. The daemon imports
    # this module before it forks, so each worker starts with these loaded.
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    import kafka_elasticsearch_injector_spark.config  # noqa: F401
    import kafka_elasticsearch_injector_spark.sources.confluent  # noqa: F401
    import kafka_elasticsearch_injector_spark.streaming.es_sink  # noqa: F401
