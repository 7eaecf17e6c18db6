"""Scale techniques as first-class operators: the scan rebalance
(fill_cluster), the filter-pushdown pin (no_pushdown) and the
skew-salted exact-distinct aggregation.

None of this exists in the reference — its only parallelism is a worker
pool over one Kafka consumer (src/kafka/consumer.go:83-85). First line
of defense against skew is AQE (`spark.sql.adaptive.enabled` +
`skewJoin.enabled`, on in session.py): it splits oversized shuffle
partitions at runtime with zero user code. salted_distinct_count covers
the case AQE can't see: a skewed exact-distinct aggregation, where one
reducer owns the hot key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fill_cluster(df: DataFrame) -> DataFrame:
    """Rebalance a narrow scan across the cluster before a compute-heavy
    kernel (n-gram shingling, minhash, vector math).

    Parquet parallelism comes from file byte-range splits; a corpus
    packed into few files/row groups yields fewer scan partitions than
    cores, so a CPU-bound kernel downstream runs on a sliver of the
    cluster while the rest idles. When — and only when — the input has
    fewer partitions than `defaultParallelism`, shuffle it out. The
    guard makes this free at scale: a 100 TB table scans as tens of
    thousands of splits, the condition is false, and no exchange is
    added. When the condition IS true, the data at that point is by
    definition small (few splits), so the round-robin shuffle costs
    less than the idle cores it reclaims.

    A pure function of `df`: re-applying it to its own output is a
    no-op, because that output reports exactly `defaultParallelism`
    partitions. The partition probe (`df.rdd.getNumPartitions()`)
    converts the plan driver-side — no Spark job, no data read — but it
    does physically plan the pre-AQE plan (a warm re-probe costs about a
    millisecond). Downstream of an exchange it reports the static
    shuffle-partition count, not scan splits: the decision is then "is
    the static shuffle width ≥ cores", the right question for the
    CPU-kernel placement this guards, though AQE may still coalesce
    those partitions at runtime.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def on_round_robin(df: DataFrame) -> bool:
    """True iff `df`'s analyzed plan is rooted on a round-robin
    `repartition(n)` (a `Repartition` with shuffle on) — what a firing
    fill_cluster returns. That exchange has a user-given partition
    count, so AQE never coalesces it; a `coalesce`, a
    `repartition(n, col)` (`RepartitionByExpression`) or any other root
    gives no such promise, and callers that need one add their own
    exchange."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.nodeName() == "Repartition" and plan.shuffle()


def no_pushdown(col: Column) -> Column:
    """Pin a computed column's evaluation ABOVE the operator that
    produces it by adding a nondeterministic zero
    (monotonically_increasing_id() * 0 — value unchanged, type
    preserved).

    Why: Catalyst splits conjunctive filters and pushes each
    deterministic conjunct as deep as it can — including below a
    fill_cluster rebalance and into the parquet scan's DataFilters.
    For a CHEAP prunable predicate that is exactly right; for an
    expensive derived signal (an interpreted-HOF quality score) it
    re-serializes the work onto the narrow pre-rebalance scan, undoing
    the rebalance. A predicate referencing a nondeterministic input
    cannot be pushed through the projection that computes it, so the
    filter evaluates post-exchange, in parallel. At scale (rebalance
    is a no-op, no exchange) filter placement is intra-stage and this
    wrapper costs one fused add-zero.
    """
    return col + F.monotonically_increasing_id() * F.lit(0)


def salted_distinct_count(df: DataFrame, group_col: str, distinct_col: str,
                          n_salts: int = 16,
                          out_col: str = "n_distinct") -> DataFrame:
    """Exact distinct count per group when one group dominates.

    A plain countDistinct expands to a two-phase plan keyed by
    (group, value) then (group) — the final phase still funnels every
    distinct value of the hot group through one reducer. Salting the
    first phase by a hash of the VALUE splits that funnel: phase 1
    dedups (group, salt, value), phase 2 counts per (group, salt),
    phase 3 sums the per-salt counts. Exact, because a given value
    always hashes to the same salt — no double counting across salts.
    """
    salt = F.pmod(F.hash(F.col(distinct_col)), F.lit(n_salts))
    return (
        df.select(F.col(group_col), F.col(distinct_col).alias("_v"),
                  salt.alias("_salt"))
        .distinct()
        .groupBy(group_col, "_salt").agg(F.count("_v").alias("_c"))
        .groupBy(group_col).agg(F.sum("_c").cast("bigint").alias(out_col))
    )
