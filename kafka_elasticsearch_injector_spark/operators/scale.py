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

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# fill_cluster memo: DataFrame objects already probed (or produced by a
# probe). A WeakSet so the memo never extends object lifetimes and never
# mutates caller-owned objects.
_FILL_CLUSTER_SEEN: "weakref.WeakSet[DataFrame]" = weakref.WeakSet()

# Subset of _FILL_CLUSTER_SEEN: outputs that sit DIRECTLY on the
# explicit repartition fill_cluster inserted (as opposed to inputs the
# probe left untouched). Queried via fill_cluster_rebalanced() by
# callers that must know whether a further exchange guard is needed —
# previously inferred at the call site from object identity
# (`filled is df`), which mis-fires when a prior fill_cluster OUTPUT is
# routed back in and returns via the memo (ADVICE r15).
_FILL_CLUSTER_REBALANCED: "weakref.WeakSet[DataFrame]" = weakref.WeakSet()


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

    The partition probe (`df.rdd.getNumPartitions()`) converts the plan
    driver-side — no Spark job, no data read — but it DOES force full
    physical planning of the pre-AQE plan, and when that plan already
    contains an exchange it reports the static shuffle-partition count,
    not parquet scan splits. Two consequences, both handled here:

    - Nested operators (ivf_topk → label_centroids, curation stages)
      route the same DataFrame through fill_cluster repeatedly; the
      probe's planning cost would be paid each time. The returned
      DataFrame OBJECT is therefore MARKED, and a marked input is
      returned untouched. The memo is per Python object, not per
      lineage: any intervening transformation (.select, .filter)
      returns a fresh unmarked object and the next call re-probes —
      acceptable, because the probe is driver-side planning only, but
      operators that nest should pass the SAME object through when
      they want the memo to hit.
    - The probe reflects the pre-AQE plan: downstream of an exchange
      the decision is "is the static shuffle width ≥ cores", which is
      the right question for the CPU-kernel placement this guards, but
      callers should know AQE may still coalesce those partitions at
      runtime.
    """
    if df in _FILL_CLUSTER_SEEN:
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        out = df.repartition(target)
        _FILL_CLUSTER_REBALANCED.add(out)
    else:
        out = df
    _FILL_CLUSTER_SEEN.add(out)
    return out


def fill_cluster_rebalanced(df: DataFrame) -> bool:
    """True iff `df` is a fill_cluster output sitting directly on the
    explicit (AQE-coalescing-exempt) repartition fill_cluster inserted.
    False for outputs the probe left untouched — whose own partitioning
    may descend from an AQE-coalescible upstream exchange — and for
    anything fill_cluster never returned. Callers use this (not object
    identity against their input) to decide whether a downstream
    exchange guard is still required."""
    return df in _FILL_CLUSTER_REBALANCED


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
