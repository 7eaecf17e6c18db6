"""Table readers.

The batch substrate is one parquet file per table (TESTDATA.md). Parquet
scans get predicate pushdown + column pruning from Catalyst for free —
at 100 TB this is the difference between scanning 16 columns and the 2 a
query projects, so every plan in `plans/` reads through here and relies on
pruning rather than caching whole tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Event-time columns whose parquet physical type has varied across testdata
# generations: INT64 TIMESTAMP(NANOS) (read as long under
# spark.sql.legacy.parquet.nanosAsLong) or INT64 TIMESTAMP(MICROS,
# isAdjustedToUTC=false) (read as TIMESTAMP_NTZ). Either way we normalize to
# the session TIMESTAMP type under a UTC session timezone, so every
# downstream operator (unix_millis, window(), date_format) sees one type and
# the values agree instant-for-instant with DuckDB's naive-µs reading.
_EVENT_TS_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# (session key, sf_dir, table) → analyzed DataFrame. Re-reading the same
# parquet re-lists files and re-reads footers per query; memoizing the
# analyzed logical plan removes that fixed cost from every plan build.
# Keyed by the Spark application id (unique per context, unlike id(),
# which CPython can reuse after GC) so a restarted SparkSession never
# serves stale plans.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _session_key(spark: SparkSession) -> str:
    try:
        return spark.sparkContext.applicationId
    except Exception:  # pragma: no cover — stopped context
        return f"id-{id(spark)}"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the substrate tables from `sf_dir` (memoized)."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (_session_key(spark), sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        # A caller may hand in a session built without session.get_spark
        # (a plain `SparkSession.builder` one): set the two confs every
        # read needs before the first one. Spark refuses TIMESTAMP(NANOS)
        # parquet without nanosAsLong, and date_format/window hashing
        # must not shift with the host time zone.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        dtypes = dict(df.dtypes)
        for c in _EVENT_TS_COLS.get(name, ()):
            if c not in dtypes:
                continue
            if dtypes[c] == "bigint":  # TIMESTAMP(NANOS) via nanosAsLong
                df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
            elif dtypes[c] == "timestamp_ntz":  # TIMESTAMP(MICROS, NTZ)
                # NTZ wall time reinterpreted in the (UTC) session zone —
                # identical instants to the nanos path above.
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        _TABLE_CACHE[key] = df
    return df


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from parquet footer metadata — a driver-side
    metadata read (no Spark job, no data scan). This is how operators
    that need a size hint for physical-strategy choices (broadcast vs
    shuffle) get one without paying a `count()` action: at 100 TB a
    pre-query count() is a full table scan, the footer read is O(files).
    """
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for root, _, files in os.walk(path)
            for f in files if f.endswith(".parquet"))
    return pq.ParquetFile(path).metadata.num_rows


def small_vocab_probe(sf_dir: str, name: str, col: str = "text",
                      limit: int = 64, probe_rows: int = 4096) -> int | None:
    """Driver-side bounded probe: distinct whitespace tokens of `col`
    over the first `probe_rows` rows, early-exiting as soon as the
    running union exceeds `limit`. Returns the observed count (≤ limit)
    or None.

    Purpose: choosing the single-long set encoding in
    dedup.minhash_lsh_pairs needs to know whether the GLOBAL vocabulary
    fits 64 bits. Deciding with a Spark job means a scan before the real
    query; this probe streams a few Arrow batches of one column on the
    driver (keyboard-interrupt cheap, no Spark job) instead. Real text
    blows past `limit` within the first batch and exits immediately;
    enum-like columns confirm cheaply. The probe is a SAMPLE: a corpus
    whose tail introduces new tokens past `probe_rows` would pass here
    and then fail LOUDLY at runtime via the masked verify's overflow
    guard — callers with corpus knowledge should pass vocab_hint
    directly.
    """
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            hits = sorted(f for f in files if f.endswith(".parquet"))
            if hits:
                path = os.path.join(root, hits[0])
                break
    vocab: set[str] = set()
    seen = 0
    for batch in pq.ParquetFile(path).iter_batches(
            batch_size=256, columns=[col]):
        for txt in batch.column(0).to_pylist():
            if txt:
                vocab.update(txt.split(" "))
                if len(vocab) > limit:
                    return None
        seen += batch.num_rows
        if seen >= probe_rows:
            break
    return len(vocab)
