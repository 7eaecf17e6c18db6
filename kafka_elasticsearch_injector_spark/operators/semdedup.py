"""SemDeDup-style semantic deduplication: deterministic k-means over
embeddings + within-cluster cosine pruning.

The SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): cluster the
corpus embeddings with k-means, then look for near-duplicate pairs ONLY
within each cluster — the clustering bounds the quadratic comparison to
cluster-sized blocks, which is what makes semantic dedup tractable at
corpus scale. Nothing in the reference corresponds (it has no vector
operators at all; its pipeline ends at the ES bulk sink,
src/elasticsearch/elasticsearch.go:60-124); this belongs to the
training-data extension.

The k-means here is integer-exact Lloyd's, not pyspark.ml KMeans
(float arithmetic, seeded, NOT cross-engine replayable): embeddings are
quantized to integers once, every distance is an exact BIGINT, centroid
updates are floor-divisions, and ties break on cluster id. Every step
is a pure function of the input, so a SQL oracle (DuckDB) replays the
whole iteration history bit-identically — the declared-query
correctness gate the .ml path cannot offer.

Spark-first shape (classic distributed Lloyd's):
- assignment pass: ONE narrow scan; the k×dim centroids are plan-time
  literals, so the per-row argmin is a flat whole-stage-codegen
  expression (k unrolled distance sums), no join, no shuffle;
- update pass: groupBy(cluster).agg(dim sums + count) — map-side
  partial aggregation shuffles k×(dim+1) longs per partition, and the
  k-row result is collected to the driver (k·dim ints — bytes, not
  data). Driver-coordinated iteration is how Lloyd's parallelizes
  everywhere (pyspark.ml does the same); the per-iteration cost at
  100 TB is one corpus scan, so pick iters (and cache the quantized
  projection) accordingly.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vectors as V
from .scale import fill_cluster

QUANT_SCALE = 1024


def quantize(emb: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """(id, q): embedding quantized to integers via
    floor(double(x) * QUANT_SCALE). float→double widening is exact and
    the product/floor are single IEEE ops, so any engine computes the
    identical integers — the foundation of the exact replay."""
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * QUANT_SCALE).cast("bigint"))
    return emb.select(F.col(id_col), q.alias("q"))


def _dist_sq_sql(centroid: list[int]) -> str:
    """Exact integer squared L2 distance to a plan-time centroid
    literal, as a zip_with/aggregate fold IN SQL TEXT. Two deliberate
    choices against the hot-pair-kernel idioms:
    - not an unrolled per-element expression chain: k
      centroids × dim terms of FRESH literals every Lloyd iteration
      forces a multi-thousand-node Janino compile per iteration
      (measured ~4-5 s each, dwarfing the scan), while the interpreted
      fold is pennies at k·dim work per row and compiles nothing;
    - not the Column-API fold either: building k folds through py4j
      lambda bridging costs ~2 s of DRIVER time per assignment pass
      (measured), every iteration. One parsed expr string is free.
    Integer adds are order-insensitive, so the fold is exactly the SQL
    oracle's list_reduce."""
    arr = ",".join(f"{int(c)}L" for c in centroid)
    return (f"aggregate(zip_with(q, array({arr}), "
            "(a, b) -> (a - b) * (a - b)), cast(0 as bigint), "
            "(acc, x) -> acc + x)")


def _assign(quantized: DataFrame, centroids: list[tuple[int, list[int]]],
            id_col: str) -> DataFrame:
    """(id, q, cluster, dist_sq): argmin over the centroid list with
    ties broken on cluster id — array_min over (dist, cluster) structs
    compares lexicographically, which IS that tie-break."""
    best = F.expr("array_min(array(" + ",".join(
        f"struct({_dist_sq_sql(c)} as d, {int(j)} as cluster)"
        for j, c in centroids) + "))")
    return quantized.select(
        id_col, "q",
        best.getField("cluster").alias("cluster"),
        best.getField("d").alias("dist_sq"))


def kmeans_assign(emb: DataFrame, k: int = 8, iters: int = 2,
                  dim: int = 64, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Deterministic integer Lloyd's: returns (id, cluster int,
    dist_sq bigint) after `iters` centroid updates.

    EAGER at plan time, necessarily: Lloyd's is an iterative algorithm
    whose every pass depends on the previous pass's aggregates, so
    CALLING this function runs `iters`+2 small Spark jobs (checkpoint,
    init, per-iteration update aggs) before returning the (lazy) final
    assignment plan — the same driver-coordinated shape as
    dedup.connected_components and pyspark.ml's own KMeans.fit.

    - init: the k lowest-id vectors, cluster = their id rank;
    - assignment: exact BIGINT argmin, ties → lowest cluster id;
    - update: per-dim floor(double(sum)/count) — sum fits a double
      exactly (|q| ≤ QUANT_SCALE·|x|, counts ≪ 2^53/…), so the one
      division is bit-identical IEEE in any engine and floor makes the
      new centroid integer again;
    - a cluster that loses all members simply drops out (both the SQL
      replay and this implementation derive the next centroid list
      from the groupBy result alone).
    """
    # localCheckpoint: the quantized projection is the state every
    # Lloyd pass re-reads (assignment scan + update agg per iteration,
    # then the final assignment) — materialize it ONCE instead of
    # re-running scan+quantize per pass, and truncate lineage so the
    # per-iteration plans stay constant-size (same discipline as
    # dedup.connected_components). This is the "cache the quantized
    # projection" step any Lloyd deployment performs.
    quantized = fill_cluster(
        quantize(emb, id_col, vec_col)).localCheckpoint()
    init = quantized.orderBy(id_col).limit(k).collect()
    centroids = [(j, [int(v) for v in r["q"]]) for j, r in enumerate(init)]

    for _ in range(iters):
        assigned = _assign(quantized, centroids, id_col)
        # Update via posexplode → (cluster, pos) partial-aggregated
        # sums: k·dim result rows, and a 2-expression aggregate
        # whatever `dim` is (a dim-wide column-per-dimension agg
        # measured 2× slower here purely on plan size).
        stats = (assigned
                 .select("cluster", F.posexplode("q").alias("pos", "v"))
                 .groupBy("cluster", "pos")
                 .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                 .collect())
        by_cluster: dict[int, list] = {}
        for r in stats:
            by_cluster.setdefault(int(r["cluster"]),
                                  [0] * dim)[r["pos"]] = \
                int(math.floor(float(r["s"]) / r["n"]))
        centroids = sorted(by_cluster.items())

    return (_assign(quantized, centroids, id_col)
            .select(id_col, F.col("cluster").cast("int").alias("cluster"),
                    F.col("dist_sq").cast("bigint").alias("dist_sq")))


def semdedup_cluster_stats(emb: DataFrame, threshold: float, k: int = 8,
                           iters: int = 2, dim: int = 64,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           chunk_rows: int = 512) -> DataFrame:
    """SemDeDup pruning summary per cluster: (cluster, n_docs,
    n_dup_pairs, n_pruned) where pairs are within-cluster cosine ≥
    `threshold` and the pruned set is the distinct HIGHER-id member of
    each such pair (keep-lowest-id policy).

    The quadratic stage is confined to one cluster at a time — the
    entire point of SemDeDup: grouping on `cluster` co-locates each
    block, so no pair ever crosses clusters and the worst cost is
    Σ|cluster|², not N². At 100 TB, k scales with the corpus (SemDeDup
    used k≈10⁴-10⁵) keeping blocks bounded; here k stays
    oracle-replayable small.

    Physical shape (r15 optimization): the within-cluster scoring runs
    as ONE numpy kernel per cluster group (applyInPandas) instead of a
    cluster-keyed self-JOIN + per-pair codegen cosine. The join
    formulation shuffled ~1 MB yet burned ~2.6 s at sf0.1: with only k
    join keys AQE's byte-based partition coalescing ran the quadratic
    Project on 1-2 cores, and the 3·dim-term unrolled cosine chain
    evaluates ~10 µs/pair; the kernel scores the identical pairs as
    C-contiguous numpy (measured 2.66 s → 0.75 s end-to-end, identical
    rows). Memory is bounded by `chunk_rows`: the kernel scores
    chunk×|cluster| tiles, never |cluster|², so a production-sized
    cluster (~10⁴ rows) peaks at chunk·10⁴·8 B ≈ 40 MB, not 800 MB.

    Each chunk's cosines come from blocked.seq_cosine, bit-identical to
    the oracle's list_reduce fold, so the threshold admits the
    bit-identical pair set in both engines (equality verified in
    tests/test_part_e_ops.py against the join+HOF formulation).
    The kernel emits only the QUALIFYING (cluster, id_b) pairs; the
    count / distinct-count rollup stays a JVM hash aggregate."""
    import numpy as np
    import pandas as pd

    from .blocked import empty_frame, seq_cosine

    assigned = kmeans_assign(emb, k=k, iters=iters, dim=dim,
                             id_col=id_col, vec_col=vec_col)
    vecs = emb.select(F.col(id_col),
                      V.to_double(F.col(vec_col)).alias("v"))
    members = assigned.join(vecs, id_col).select(
        "cluster", F.col(id_col).alias("vid"), "v")

    schema = "cluster int, id_b bigint"
    empty = empty_frame(schema)

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["vid"].to_numpy()
        m = len(ids)
        if m < 2:
            return empty
        mat = np.stack(list(pdf["v"])).astype(np.float64)
        cl = int(pdf["cluster"].iat[0])
        outs = []
        for lo in range(0, m, chunk_rows):
            hi = min(lo + chunk_rows, m)
            cos = seq_cosine(mat[lo:hi], mat)
            mask = (cos >= threshold) & (ids[lo:hi, None] < ids[None, :])
            ii, jj = np.nonzero(mask)
            if len(ii):
                outs.append(pd.DataFrame(
                    {"cluster": np.full(len(ii), cl, np.int32),
                     "id_b": ids[jj]}))
        return pd.concat(outs, ignore_index=True) if outs else empty

    qpairs = members.groupBy("cluster").applyInPandas(kernel, schema)
    dups = (qpairs.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n_dup_pairs"),
                 F.countDistinct("id_b").alias("n_pruned")))
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_docs"))
    return (sizes.join(dups, "cluster", "left")
            .select("cluster",
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    F.coalesce("n_dup_pairs", F.lit(0))
                    .cast("bigint").alias("n_dup_pairs"),
                    F.coalesce("n_pruned", F.lit(0))
                    .cast("bigint").alias("n_pruned")))
