"""Batch ETL maintenance operators: MERGE (upsert) emulation and SCD2
history application.

The reference's only "update" story is create-only inserts with 409
conflict-swallowing (src/elasticsearch/elasticsearch.go:120-124) — it
can never change a written document. These operators supply the other
half of the ETL lifecycle on plain parquet tables (no Delta/Iceberg
dependency): full-row upsert and slowly-changing-dimension history.

Scale notes (100 TB):
- merge_upsert is one anti join + union: the anti join shuffles on the
  key unless the UPDATES side is small enough to broadcast — and it
  usually is (a CDC batch vs the whole table). Spark auto-broadcasts
  under the threshold; the target table is never shuffled in that case,
  just scanned and appended.
- Rewriting the whole target per merge is the no-metadata-layer cost.
  At scale, partition the target (by date/bucket), restrict the rewrite
  to partitions containing updated keys (dynamic partition overwrite),
  or adopt a table format with MERGE support; the logical plan here is
  unchanged in all three.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, updates: DataFrame,
                 key_cols: list[str]) -> DataFrame:
    """MERGE emulation: WHEN MATCHED THEN UPDATE (full-row replace),
    WHEN NOT MATCHED THEN INSERT. `updates` must share the target
    schema; on key collision the updates row wins."""
    kept = target.join(updates.select(*key_cols), key_cols, "left_anti")
    return kept.unionByName(updates)


def scd2_apply(dim: DataFrame, changes: DataFrame, key_cols: list[str],
               ts_col: str, current_col: str = "is_current",
               start_col: str = "valid_from",
               end_col: str = "valid_to") -> DataFrame:
    """Slowly-changing-dimension type 2: each change CLOSES the key's
    current row (valid_to = change ts, is_current = false) and appends
    a new current row (valid_from = change ts, valid_to = null).

    `dim` carries (key_cols, attributes, valid_from, valid_to,
    is_current); `changes` carries (key_cols, attributes, ts_col) — at
    most one change per key per call (dedupe upstream with a
    row_number over ts if needed).

    The changes side is broadcast: a CDC batch is normally tiny next
    to the dimension, and the hint keeps the dimension un-shuffled.
    """
    chg_keyed = F.broadcast(changes.select(
        *key_cols, F.col(ts_col).alias("_chg_ts")))
    closed = (
        dim.join(chg_keyed, key_cols, "left")
        .withColumn(
            end_col,
            F.when(F.col(current_col) & F.col("_chg_ts").isNotNull(),
                   F.col("_chg_ts")).otherwise(F.col(end_col)))
        .withColumn(
            current_col,
            F.col(current_col) & F.col("_chg_ts").isNull())
        .drop("_chg_ts")
    )
    attr_cols = [c for c in changes.columns if c not in (*key_cols, ts_col)]
    fresh = changes.select(
        *key_cols, *attr_cols,
        F.col(ts_col).alias(start_col),
        F.lit(None).cast(dim.schema[end_col].dataType).alias(end_col),
        F.lit(True).alias(current_col),
    )
    return closed.unionByName(fresh.select(*closed.columns))


def profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Deequ-style column profile: one row per profiled column with
    (column, n_rows, n_nulls, n_distinct, min_value, max_value) —
    min/max cast to string AFTER the typed aggregation so numeric
    columns order numerically, and the output schema stays uniform.

    Plan shape: ONE aggregation pass over the table computes every
    metric (Catalyst expands the multi-column exact COUNT(DISTINCT)
    into a single expand + two-phase aggregate — one shuffle whose
    expand factor is the profiled column count, with the non-distinct
    metrics riding the same pass); the per-column pivot then happens
    on the single result row via array+explode, driver-free. At
    100 TB profiling is one bounded-output scan, not a scan per
    column."""
    # Positional aliases (_nd_0, _nd_1, ...) rather than interpolated
    # column names: duplicates in `cols` would collide and names with
    # dots/backticks would be unresolvable as aliases. De-dup keeps
    # first occurrence order.
    cols = list(dict.fromkeys(cols))
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, c in enumerate(cols):
        aggs += [
            F.count(F.col(c)).alias(f"_nn_{i}"),
            F.countDistinct(F.col(c)).alias(f"_nd_{i}"),
            F.min(F.col(c)).alias(f"_min_{i}"),
            F.max(F.col(c)).alias(f"_max_{i}"),
        ]
    row = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").cast("bigint").alias("n_rows"),
            (F.col("_n") - F.col(f"_nn_{i}")).cast("bigint")
            .alias("n_nulls"),
            F.col(f"_nd_{i}").cast("bigint").alias("n_distinct"),
            F.col(f"_min_{i}").cast("string").alias("min_value"),
            F.col(f"_max_{i}").cast("string").alias("max_value"),
        )
        for i, c in enumerate(cols)
    ]
    return (
        row.select(F.explode(F.array(*per_col)).alias("p"))
        .select("p.*")
    )
