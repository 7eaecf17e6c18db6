"""Similarity search over embedding columns.

Two tiers (SURVEY.md north star):

- brute-force cosine top-k (plans/part_c.py q_cosine_topk): probes are
  broadcast, the corpus is scanned once, scoring is a fused
  zip_with/aggregate inside codegen. Exact; O(probes · corpus).
- IVF (this module): coarse-quantize the corpus into partitions
  (here: the pre-assigned `label` plays the k-means cell id — at
  production scale run .ml KMeans and persist assignments, the plan
  shape is identical), pick the nearest centroid(s) per probe, and
  search only those cells. At 100 TB with nlist=4096 cells and
  nprobe=8, each query scans 0.2% of the corpus; the cell-assignment
  column doubles as the partition key so a cell is co-located.

LSH sign-bucket sketch (alternative ANN path): hyperplane signs bucket
vectors, and the candidates come from the same banded join as dedup.py's
minhash bands (scale.banded_pairs).

Determinism (round-6 audit, round 6): every cosine/scale here is
emitted UNROUNDED — functions/vectors.py folds walk the oracle's exact
IEEE sequence, so the doubles are bit-identical across engines and the
only divergence-capable step was the final ROUND itself (Spark
BigDecimal HALF_UP vs DuckDB's binary-double round on .5 boundaries).
See ROUNDING.md.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from .scale import banded_pairs, fill_cluster


def label_centroids(emb: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Per-cell centroid as `dim` per-dimension exact decimal means in ONE
    map-side-combinable aggregation. Decimal summation keeps the mean
    order-independent (bit-stable under shuffle), so downstream cosine
    scores are deterministic.

    Precondition (same as every vector lane here): embeddings are
    non-null, fixed-`dim`, no null elements. The per-dimension mean
    divides by the cell's ROW count; a null element or short array
    would silently deflate that dimension's mean (sum skips nulls, the
    count doesn't) — quantize/ingest lanes are responsible for
    quarantining such vectors before indexing. The aggregation's input
    goes through fill_cluster, a no-op when the caller already did.

    Plan shape: no explode — a posexplode formulation shuffles N·dim rows
    through two aggregations (per-(cell,pos) mean, then collect_list
    re-assembly); this one shuffles one row of `dim` decimals per
    (partition, cell) with partial aggregation, then assembles the array
    in the same projection. At 100 TB that is the difference between
    shuffling 6.4 trillion rows and nlist·num_partitions tiny ones.
    """
    def xd(d: int) -> Column:
        return (F.element_at(F.col(vec_col), d + 1)
                .cast("double").cast("decimal(30,10)"))

    sums = fill_cluster(emb).groupBy(label_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(xd(d)).alias(f"_s{d}") for d in range(dim)],
    )
    centroid = F.array(
        *[F.col(f"_s{d}").cast("double") / F.col("_n") for d in range(dim)])
    return sums.select(label_col, centroid.alias("centroid"))


def ivf_topk(emb: DataFrame, probe_ids: list[int], k: int = 3,
             id_col: str = "vec_id", vec_col: str = "embedding",
             label_col: str = "label", nprobe: int = 1,
             dim: int = 64) -> DataFrame:
    """IVF search: the `nprobe` nearest centroids per probe, then exact
    cosine top-k within those cells only.

    `nprobe` is the recall/cost dial every IVF index exposes: 1 scans a
    single cell (fastest, boundary probes may miss true neighbors);
    raising it widens the candidate set — at nlist=4096, nprobe=8 scans
    ~0.2% of a corpus. The declared oracle query pins nprobe=1.

    Returns (probe_id, label, vec_id, cos_sim, rn).
    """
    # Per-candidate cosine is interpreted-HOF work below any exchange —
    # spread the corpus scan before it.
    emb = fill_cluster(emb)
    cents = label_centroids(emb, label_col, vec_col, dim=dim)
    probes = (
        emb.filter(F.col(id_col).isin(probe_ids))
        .select(F.col(id_col).alias("probe_id"),
                V.to_double(F.col(vec_col)).alias("probe_vec"))
    )
    # Stage 1: probe × centroid (tiny, broadcast both ways) → nearest cells.
    pc = F.broadcast(probes).crossJoin(F.broadcast(cents))
    w_cell = Window.partitionBy("probe_id").orderBy(
        F.col("_cos_c").desc(), F.col(label_col))
    nearest = (
        pc.select(
            "probe_id", "probe_vec", label_col,
            V.cosine(F.col("probe_vec"), F.col("centroid")).alias("_cos_c"))
        .withColumn("rn_c", F.row_number().over(w_cell))
        .filter(F.col("rn_c") <= nprobe)
        .select("probe_id", "probe_vec", label_col)
    )
    # Stage 2: scan only the selected cell(s) — the equi-join on the cell
    # id is what prunes the corpus; at scale the corpus is partitioned by
    # cell so this is a co-located (shuffle-free) join.
    corpus = emb.select(
        F.col(id_col), F.col(label_col),
        V.to_double(F.col(vec_col)).alias("vec"))
    w_k = Window.partitionBy("probe_id").orderBy(
        F.col("_cos").desc(), F.col(id_col))
    return (
        F.broadcast(nearest).join(corpus, label_col)
        .filter(F.col("probe_id") != F.col(id_col))
        .select(
            "probe_id", label_col, id_col,
            V.cosine(F.col("probe_vec"), F.col("vec")).alias("_cos"))
        .withColumn("rn", F.row_number().over(w_k))
        .filter(F.col("rn") <= k)
        .select("probe_id", label_col, id_col,
                F.col("_cos").alias("cos_sim"), "rn")
    )


def quantize_int8(emb: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization per vector: scale = 127 / max|x|,
    q_i = floor(x_i·scale + 0.5) clamped to [-127, 127] — the 4×
    storage reduction step an embedding pipeline runs before
    petabyte-scale ANN serving. Returns (id, scale, qvec
    array<tinyint>); dequantize as q_i / scale WHEN scale > 0.

    floor(x + 0.5) spells out round-half-up explicitly so the engine
    and any oracle agree at .5 boundaries regardless of their round()
    dialect. The zero vector gets scale 0 and an all-zero qvec —
    scale == 0 is the zero-vector marker (pinned by the
    q_embed_quantize oracle): recover it as all-zeros directly, never
    divide by the zero scale. Null/NaN elements pass through as null
    qvec entries and are excluded from max|x|. One narrow projection
    — no shuffle, no state; max|x| is computed once
    per row into a column the quantize lambda references (inlining it
    into the per-element lambda would recompute an O(dim) reduction
    dim times, interpreted).
    """
    v = V.to_double(F.col(vec_col))
    # null/NaN elements: excluded from the max (array_max skips nulls)
    # and emitted as null in qvec. Without the guards, Spark's
    # null-skipping greatest/least turn floor(null) into a clamp at
    # +127 — a null element would silently become the max positive
    # quantized magnitude — and NaN (which Spark orders above every
    # number) would poison the scale for the whole vector.
    with_mx = emb.select(
        F.col(id_col), v.alias("_v"),
        F.array_max(F.transform(
            v, lambda x: F.when(~F.isnan(x), F.abs(x)))).alias("_mx"))
    scale = F.when(F.col("_mx") > 0,
                   F.lit(127.0) / F.col("_mx")).otherwise(F.lit(0.0))
    q = F.transform(
        F.col("_v"),
        lambda x: F.when(
            x.isNotNull() & ~F.isnan(x),
            F.greatest(
                F.lit(-127),
                F.least(F.lit(127),
                        F.floor(x * F.col("_scale")
                                + F.lit(0.5)).cast("int"))))
        .cast("tinyint"))
    return (
        with_mx.withColumn("_scale", scale)
        .select(F.col(id_col), F.col("_scale").alias("scale"),
                q.alias("qvec"))
    )


def hyperplane_signs(n_planes: int, dim: int,
                     table: int = 0) -> list[list[int]]:
    """Deterministic pseudo-random ±1 hyperplanes: sign(p, d) = +1 iff
    the first hex nibble of md5(f"{p}:{d}") has its high bit set. Both
    the Spark plan and the DuckDB oracle embed these as literals, so the
    'randomness' is reproducible everywhere (no RNG state to ship).
    `table` > 0 derives an independent plane set per LSH table
    (md5(f"{table}:{p}:{d}")); table 0 keeps the original keying so the
    declared oracle stays byte-identical."""
    import hashlib

    def key(p: int, d: int) -> str:
        return f"{p}:{d}" if table == 0 else f"{table}:{p}:{d}"

    return [
        [1 if int(hashlib.md5(key(p, d).encode()).hexdigest()[0], 16) >= 8
         else -1 for d in range(dim)]
        for p in range(n_planes)
    ]


def lsh_sign_buckets(emb: DataFrame, n_planes: int = 8, dim: int = 64,
                     vec_col: str = "embedding", table: int = 0,
                     out_col: str = "bucket") -> DataFrame:
    """Sign-LSH bucketing: bucket bit p = (v · hyperplane_p ≥ 0).

    One narrow projection — O(N·planes·dim) inside codegen, no shuffle.
    Cosine-similar vectors land in the same bucket with probability
    1 - θ/π per plane; the bucket column then drives an equi-join, the
    same corpus-pruning shape as IVF but with no training pass. At
    100 TB, partition the corpus by bucket so probe lookups are
    single-partition reads."""
    planes = hyperplane_signs(n_planes, dim, table=table)
    emb = fill_cluster(emb)
    v = V.to_double(F.col(vec_col))
    bucket: Column | None = None
    for p, signs in enumerate(planes):
        # zip_with+aggregate (interpreted HOF) on purpose: an UNROLLED
        # 512-term codegen expression costs ~4s of Janino compilation per
        # plan — far more than interpreting 8·dim ops over the corpus.
        # Same IEEE sequence as the oracle: ((0 + s1·x1) + s2·x2) + ...
        lits = F.array(*[F.lit(float(s)) for s in signs])
        proj = V.dot(v, lits)
        bit = F.when(proj >= 0, F.lit(2 ** p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.withColumn(out_col, bucket.cast("int"))


def _lsh_tables(emb: DataFrame, n_tables: int, n_planes: int, dim: int,
                id_col: str, vec_col: str) -> tuple[DataFrame, list[str]]:
    """(id, vec as doubles, bucket_0..bucket_{n_tables-1}) — one
    independent sign-LSH table per bucket column — and those columns'
    names."""
    bucket_cols = [f"bucket_{t}" for t in range(n_tables)]
    bucketed = emb
    for t in range(n_tables):
        bucketed = lsh_sign_buckets(
            bucketed, n_planes, dim, vec_col, table=t, out_col=bucket_cols[t])
    return (bucketed.select(id_col, V.to_double(F.col(vec_col)).alias("vec"),
                            *bucket_cols),
            bucket_cols)


def lsh_topk(emb: DataFrame, probe_ids: list[int], k: int = 3,
             n_planes: int = 8, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_tables: int = 1) -> DataFrame:
    """ANN via sign-LSH: exact cosine top-k within the probe's bucket(s).

    `n_tables` is sign-LSH's recall dial (the FAISS/Annoy L parameter):
    each table hashes with an independent hyperplane set, and a
    candidate qualifies if it shares a bucket in ANY table —
    P(miss) = (1 - (1-θ/π)^planes)^tables decays exponentially in
    tables. The candidates are the banded join's probe form over the
    tables' buckets (scale.banded_pairs: the probes broadcast, the
    corpus streams in place; a candidate seen in several tables is
    emitted only at its LOWEST matching table, so no distinct() shuffle
    is needed). Returns (probe_id, bucket, vec_id, cos_sim, rn);
    `bucket` is the matching table's bucket. The declared oracle query
    pins n_tables=1.
    """
    vecs, bucket_cols = _lsh_tables(emb, n_tables, n_planes, dim,
                                    id_col, vec_col)
    joined = banded_pairs(
        vecs, bucket_cols, id_col,
        right=vecs.filter(F.col(id_col).isin(probe_ids)),
    ).filter(F.col(f"b_{id_col}") != F.col(f"a_{id_col}"))
    w = Window.partitionBy("probe_id").orderBy(
        F.col("_cos").desc(), F.col(id_col))
    return (
        joined.select(
            F.col(f"b_{id_col}").alias("probe_id"),
            F.col("bh").alias("bucket"),
            F.col(f"a_{id_col}").alias(id_col),
            V.cosine(F.col("b_vec"), F.col("a_vec")).alias("_cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("probe_id", "bucket", id_col,
                F.col("_cos").alias("cos_sim"), "rn")
    )


def cosine_pairs_lsh(emb: DataFrame, threshold: float = 0.9,
                     n_planes: int = 8, dim: int = 64, n_tables: int = 2,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup PAIRS at corpus scale: multi-table
    sign-LSH candidate generation (corpus × corpus bucket equi-join,
    never all-pairs) + exact-cosine verify ≥ threshold. Returns
    (vec_a < vec_b, unrounded exact cos_sim).

    This is the discovery path the blocked O(N²) kernel
    (blocked.nearest_neighbor_blocked) verifies against: the candidates
    are the banded self-join over the tables' buckets
    (scale.banded_pairs: a shuffle equi-join on (table, bucket), each
    pair once at its first matching table), and cosine is computed only
    on candidates.
    Recall: a pair at angle θ collides in one table with
    P = (1-θ/π)^planes; T tables union as 1-(1-P)^T. Worked: at
    cos ≥ 0.95 (θ ≤ 18°) P ≈ 0.43, so two 8-plane tables catch ~2/3
    of pairs; at the cos ≥ 0.9 boundary (θ ≤ 26°) P ≈ 0.29 and two
    tables catch only ~49% — size `n_tables` from THIS formula against
    the target recall at the LOOSEST threshold you care about, not
    from the tight-pair number. Wide-angle pairs stay cheaply
    unexamined either way. At 100 TB partition the corpus by
    (table 0's) bucket so the self-join is co-located.
    """
    vecs, bucket_cols = _lsh_tables(emb, n_tables, n_planes, dim,
                                    id_col, vec_col)
    joined = banded_pairs(vecs, bucket_cols, id_col)
    cos = V.cosine(F.col("a_vec"), F.col("b_vec"))
    return (
        joined.select(F.col(f"a_{id_col}").alias("vec_a"),
                      F.col(f"b_{id_col}").alias("vec_b"), cos.alias("_cos"))
        .filter(F.col("_cos") >= threshold)
        .select("vec_a", "vec_b", F.col("_cos").alias("cos_sim"))
    )

