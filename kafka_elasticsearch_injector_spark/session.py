"""SparkSession builder.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting means
  we do not hand-tune shuffle partition counts per query; at sf0.1 local
  we seed `spark.sql.shuffle.partitions` ≈ cores so small-scale runs don't
  pay 200-partition scheduling overhead, while at cluster scale AQE
  re-plans from the same logical plans.
- Arrow enabled for the Pandas-UDF paths (vector ops fall back to
  higher-order functions first; Arrow is the slow-path transport).
- Broadcast threshold left at default 10 MB: dimension tables (region,
  nation, supplier, part, customer) stay broadcast-able far beyond sf0.1;
  at 100 TB the fact tables (lineitem/orders/events) are the shuffled side.
- GC is gated on the session's workload `mode`:
  - mode="batch" (default): throughput GC (-XX:+UseParallelGC) on driver
    and executors — batch engines want allocation throughput, not G1's
    pause-time goals. Under the default G1 (the JVM default since
    Java 9) the full declared-query bench runs ~18% slower end-to-end
    on this repo and individual HOF-heavy queries intermittently spike
    2-4x from mixed collections; ParallelGC removes both effects
    (measured at sf0.1, Java 17).
  - mode="streaming": NO GC override — ParallelGC's stop-the-world full
    collections can add multi-second micro-batch latency spikes on 8g+
    heaps, exactly the tail a latency-bound injector cares about; the
    JVM-default G1's pause-time goal is the right trade there.
  Cluster caveat: extraJavaOptions is a single string the deployment
  may ALSO populate (admin-set GC/heap flags via spark-defaults.conf or
  --conf). Spark does not merge the two — this builder's value wins at
  submit unless the deployment overrides it, so a real cluster rollout
  should fold site flags into one line (or pass mode="streaming" and
  own GC entirely in site config).
- Python worker entry: on a local master (`local`, `local[N]`,
  `local[*]`) `spark.python.worker.module` is set to the repo-root
  `pyspark_injector_worker`. PySpark's worker calls
  `importlib.invalidate_caches()` before every task, and on CPython 3.11
  that re-reads `pyspark.zip`'s directory once per cached zipimporter,
  about 0.1 s per task of every Python node (Arrow/pandas kernels, the
  service's decode and sink). The entry re-reads an archive only when it
  has changed, imports pandas, pyarrow and the service's kernel modules
  once in the daemon before it forks the workers, and otherwise runs
  `pyspark.worker` unchanged. It is local-only because there the workers
  share the driver's cwd and `PYTHONPATH`, the same way they import this
  package. Any other master (`local-cluster[...]` included) keeps
  PySpark's default worker: a cluster image must ship
  `pyspark_injector_worker.py` on the executors' `PYTHONPATH` before it
  can be enabled there, or the Python daemon fails to start.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def gc_java_options(mode: str) -> str:
    """JVM GC flags for a workload mode (see module docstring): batch
    pins throughput GC; streaming keeps the JVM default (G1) because
    ParallelGC's full-collection pauses land in micro-batch latency."""
    if mode not in ("batch", "streaming"):
        raise ValueError(f"mode must be 'batch' or 'streaming', got {mode!r}")
    return "-XX:+UseParallelGC" if mode == "batch" else ""


def python_worker_module(master: str) -> str | None:
    """`spark.python.worker.module` for a master (see module docstring):
    the repo's worker entry on `local`/`local[...]`, else None (PySpark's
    default worker)."""
    local = master.split("[", 1)[0] == "local"
    return "pyspark_injector_worker" if local else None


def get_spark(app_name: str = "kafka-elasticsearch-injector-spark",
              mode: str = "batch") -> SparkSession:
    """The configured session (see module docstring). On a local master
    Python tasks run under `pyspark_injector_worker`; on any other
    master, under PySpark's default worker."""
    gc_opts = gc_java_options(mode)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Testdata parquet stores TIMESTAMP(NANOS); Spark has no nanos type,
        # so read as long and convert to micros in io.table() (same
        # truncation DuckDB applies reading ns into its micros timestamps).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if gc_opts:
        # Workload-gated GC (see module docstring). Only effective when
        # this builder launches the JVM (local mode: driver ==
        # executors); on a cluster the executor option applies to every
        # executor JVM at launch.
        builder = (builder
                   .config("spark.driver.extraJavaOptions", gc_opts)
                   .config("spark.executor.extraJavaOptions", gc_opts))
    worker_module = python_worker_module(master)
    if worker_module:
        builder = builder.config("spark.python.worker.module", worker_module)
    return builder.getOrCreate()
