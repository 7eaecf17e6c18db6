"""Scale techniques as first-class operators: the scan rebalance
(fill_cluster), the banded candidate join every LSH / pigeonhole pair
operator runs (banded_pairs), the filter-pushdown pin (no_pushdown)
and the skew-salted exact-distinct aggregation.

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


def banded_pairs(left: DataFrame, keys: list[str], id_col: str,
                 right: DataFrame | None = None,
                 size_hint: int | None = None,
                 rebalanced: DataFrame | None = None) -> DataFrame:
    """Candidate pairs of a banded join: the LSH band, pigeonhole
    segment and sign-LSH table joins all share this one topology.

    Each row explodes to one (`bidx`, `bh`) row per key column (`bidx`
    = position in `keys`, `bh` = that key's value) — len(keys) rows
    per row, never the N² pair space — and the two sides equi-join on
    (`bidx`, `bh`). A pair agreeing on several keys is kept only at its
    LOWEST matching key (post-join predicate: every earlier key
    differs), so candidates are distinct by construction and need no
    `distinct()` shuffle; near-dup-heavy corpora share most keys,
    making that shuffle the dominant cost otherwise.

    Returns every column `c` of the left side as `a_c`, of the right
    side as `b_c`, plus the matching (`bidx`, `bh`). Callers verify the
    candidates themselves.

    - Self-join (`right` None): each unordered pair once,
      `a_<id_col> < b_<id_col>`. When the exploded side provably fits a
      broadcast (`size_hint`, ≈ rows of `left` from footer or catalog
      metadata, times len(keys) ≤ 1M rows), one side broadcasts, so
      the candidate-join OUTPUT is produced and filtered in parallel
      and never hits an exchange. The streamed side is then
      repartitioned to `defaultParallelism` unless `rebalanced` (the
      frame the caller rebalanced, by default `left`) sits on a
      round-robin root (`on_round_robin`). Such a root is user-given,
      so AQE never coalesces it and the probe keeps the full width;
      under any other root the input may descend from an
      AQE-coalescible exchange — a KB-sized aggregation shuffle, say
      a fingerprint groupBy — that AQE shrinks to 1-2 partitions which
      then produce millions of candidates nearly single-core (measured
      at sf0.1: 3.5 s → 0.85 s for q_dedup_simhash_pairs' 7.1M pairs).
      The repartition is bounded: the broadcast gate caps that side at
      1M rows. Where a fill_cluster exchange already sits there, a
      second one would only reship the payload (measured on
      minhash's bigram leg at sf0.1: 1.01 → 0.73 s for the identical
      pair set). With no hint or a larger one: the plain shuffle
      equi-join on (`bidx`, `bh`) — the corpus-scale topology, where
      partitions are byte-sized and AQE splits hot buckets (and still
      broadcasts at runtime if a side turns out tiny).
    - Probe join (`right` given): `right` is a probe set — tiny next to
      the corpus `left` by contract — so it always broadcasts and the
      corpus side streams in place: corpus key rows never shuffle and
      the whole screen is one map-side join over the corpus scan.
    """
    def explode(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            *[F.col(c).alias(f"{side}_{c}") for c in df.columns],
            F.posexplode(F.array(*[F.col(k) for k in keys]))
            .alias("bidx", "bh"))

    a = explode(left, "a")
    on = ["bidx", "bh"]
    if right is not None:
        joined = a.join(F.broadcast(explode(right, "b")), on)
    else:
        b = explode(left, "b")
        if size_hint is not None and size_hint * len(keys) <= 1_000_000:
            if not on_round_robin(left if rebalanced is None else rebalanced):
                a = a.repartition(
                    left.sparkSession.sparkContext.defaultParallelism)
            joined = a.join(F.broadcast(b), on)
        else:
            joined = a.join(b, on)
        joined = joined.filter(F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
    for j, key in enumerate(keys[:-1]):
        joined = joined.filter(
            (F.lit(j) >= F.col("bidx"))
            | (F.col(f"a_{key}") != F.col(f"b_{key}")))
    return joined


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
