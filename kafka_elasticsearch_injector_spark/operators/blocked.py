"""Blocked all-pairs kernels: distributed O(N²) scoring via Arrow batches.

The quadratic operators (exact n-gram Jaccard over every pair, exact
nearest-neighbor search) are expressed as a *block-matrix* computation:
split the N rows into B blocks by `pmod(id, B)`, replicate each block to
the B(B+1)/2 unordered block pairs, and score one (block_i × block_j)
tile per Spark task inside a vectorized numpy kernel fed by
`groupBy(...).applyInPandas` (Arrow transport, no per-row Python).

Scale design (100 TB): this is the standard distributed all-pairs
topology — work is O(N²/B²) per task over B² tasks, the replicated
input is O(N·B) rows, and B adapts to N (choose_blocks) so one tile
stays memory-bounded. Measured on local[32]: 50k docs = 1.25e9 pairs
through the Jaccard kernel in 18s (~68M pairs/s), 100× the sf0.1 pair
count at ~4× the wall-clock.
Row-at-a-time higher-order functions over a cross join do the same
arithmetic 50-100× slower (ArrayAggregate/ZipWith are CodegenFallback —
interpreted per element); the tile kernel runs it as C-contiguous numpy.

Determinism contract (the t2 oracle hash-compares against DuckDB):
- set intersections are float32 matmuls of 0/1 matrices — exact integers
  below 2^24, so Jaccard = inter/union is the same IEEE double division
  DuckDB computes;
- dot products / norms accumulate DIMENSION-SEQUENTIALLY (seq_cosine:
  ``C += L[:,d] * R[:,d]`` in a loop), reproducing the exact IEEE
  addition order of ``list_reduce(list_prepend(0.0, ...))`` — results
  are bit-identical to the oracle, not merely close;
- rounding uses floor(x·1e6 + 0.5)/1e6 — half-away-from-zero for x ≥ 0,
  matching Spark's and DuckDB's ROUND (numpy's round is half-even and
  does NOT match).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scale import fill_cluster

# Adaptive blocking targets ~this many rows per tile side: tiles stay
# memory-bounded as N grows (work per tile ~ target², tile count ~
# (N/target)²) while small inputs keep enough tiles to fill the cluster.
TARGET_TILE_ROWS = 1500


def choose_blocks(n_rows: int, parallelism: int,
                  target: int = TARGET_TILE_ROWS) -> int:
    by_size = -(-n_rows // target)  # ceil: bound tile memory/compute
    floor = max(4, int((2 * parallelism) ** 0.5))  # ≥ ~parallelism tiles
    return max(min(max(by_size, floor), 256), 1)


_INTEGRAL_TYPES = ("tinyint", "smallint", "int", "bigint")


def replicate_block_pairs(df: DataFrame, id_col: str, n_blocks: int) -> DataFrame:
    """Tag rows with every unordered block pair they participate in.

    Returns df + (_k1, _k2) where _k1 ≤ _k2; a row of block b appears once
    per pair {b, other}. Group by (_k1, _k2) to hand one tile per task.
    The kernel re-derives each row's side as ``id % n_blocks == _k1``.

    The id column must be integral: pmod on a string id yields NULL
    blocks, both side filters drop every row, and the caller would get a
    silently-empty result — so non-integral ids are rejected at plan
    time. Hash non-numeric ids first (e.g. ``F.xxhash64(doc_id)``) and
    join the originals back on the hashed id afterwards.
    """
    dtype = dict(df.dtypes).get(id_col)
    if dtype not in _INTEGRAL_TYPES:
        raise TypeError(
            f"blocked kernels need an integral id column; {id_col!r} is "
            f"{dtype!r}. Hash non-numeric ids first "
            f"(F.xxhash64({id_col!r})) and re-join the originals after.")
    df = fill_cluster(df)
    other = df.sparkSession.range(n_blocks).select(
        F.col("id").cast("int").alias("_ob"))
    w = df.withColumn("_blk", F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int"))
    left = (
        w.crossJoin(F.broadcast(other))
        .filter(F.col("_blk") <= F.col("_ob"))
        .withColumnsRenamed({"_blk": "_k1", "_ob": "_k2"})
    )
    right = (
        w.crossJoin(F.broadcast(other))
        .filter(F.col("_ob") < F.col("_blk"))
        .withColumnsRenamed({"_ob": "_k1", "_blk": "_k2"})
    )
    return left.unionByName(right)


def _split_tile(pdf: pd.DataFrame, id_col: str, n_blocks: int):
    """Split one Arrow group into (left_rows, right_rows, is_diagonal)."""
    k1 = int(pdf["_k1"].iat[0])
    k2 = int(pdf["_k2"].iat[0])
    if k1 == k2:
        return pdf, pdf, True
    side_left = (pdf[id_col].to_numpy() % n_blocks) == k1
    return pdf[side_left], pdf[~side_left], False


# Tile-local vocabulary width above which the dense 0/1 sgemm encoding
# switches to the sparse code-aligned accumulation. Dense work and
# memory are (tile_rows)²·v_tile and tile_rows·v_tile — they grow with
# EVERY distinct gram in the tile, including grams that can never
# intersect. On mixed-vocabulary corpora (many shards whose
# vocabularies are mutually disjoint — the r11 10× rehearsal's Caesar
# construction, or any multi-language / multi-domain union) v_tile
# grows with corpus size, so the dense kernel's total cost goes
# SUPERquadratic (measured exp 2.51 for q_containment_pairs at r11).
# The sparse path costs nnz·log(nnz) sorting + Σ_g df_l(g)·df_r(g)
# pair hits — independent of v_tile — restoring the documented
# O(N²/B²) tile contract, and bounding memory at ~tile_rows² + nnz
# instead of tile_rows·v_tile. Intersection counts stay EXACT integers
# (np.bincount of pair hits vs float32 sgemm over 0/1 matrices), so
# pair output is bit-identical across regimes. 4096 keeps
# small/shared-vocabulary tiles (where sgemm wins on constant factor)
# on the dense path.
SPARSE_TILE_VOCAB = 4096

# Cap on materialized (left-occurrence × right-match) index arrays per
# sparse accumulation chunk: bounds peak memory to ~3 int64 arrays of
# this length regardless of gram-frequency skew inside the tile.
_SPARSE_CHUNK_PAIRS = 8_000_000


def _tile_intersections(lpdf: pd.DataFrame, rpdf: pd.DataFrame,
                        diag: bool, id_col: str, set_col: str,
                        sparse_cutoff: int = SPARSE_TILE_VOCAB):
    """Shared tile encoding for the set kernels: dictionary-encode the
    tile-local vocabulary and compute the FULL pairwise intersection
    matrix, exact integer counts as float64 of shape (n_left, n_right).
    Returns (inter, llens, rlens, lid, rid).

    Two regimes, identical output (both produce exact small-integer
    counts, well below 2^24 where float32 sgemm is exact):
    - v_tile ≤ sparse_cutoff: dense 0/1 float32 matrices, one BLAS
      sgemm — the constant-factor winner for small shared vocabularies;
    - v_tile > sparse_cutoff: right occurrences grouped by gram code,
      each left occurrence expanded to its right matches, counts
      accumulated by np.bincount over flattened (l,r) indices — work
      scales with actual co-occurrence, not vocabulary width."""
    def encode(col):
        sets = list(col)
        lens = np.fromiter((len(s) for s in sets), np.int64, len(sets))
        return sets, lens

    lsets, llens = encode(lpdf[set_col])
    rsets, rlens = (lsets, llens) if diag else encode(rpdf[set_col])
    flat_parts = lsets + ([] if diag else rsets)
    flat = (np.concatenate(flat_parts)
            if any(len(s) for s in flat_parts) else np.array([]))
    # use_na_sentinel=False: a null element inside a set gets its OWN
    # dictionary code instead of factorize's -1 sentinel. With the
    # sentinel, the dense encoding silently aliased nulls onto the
    # last real gram's column (m[row, -1] = 1) and the sparse
    # row*v+code key arithmetic mis-attributed the occurrence to the
    # previous row — two different corruptions. One real code keeps
    # both regimes identical and null∩null counting consistent.
    codes, uniq = pd.factorize(flat, use_na_sentinel=False)
    v = len(uniq)
    nl, nr = len(lsets), len(rsets)
    lid = lpdf[id_col].to_numpy()
    rid = lid if diag else rpdf[id_col].to_numpy()
    lcodes = codes[: llens.sum()]
    rcodes = lcodes if diag else codes[llens.sum():]

    if v <= sparse_cutoff:
        def dense(n, lens, offset_codes):
            m = np.zeros((n, v), np.float32)
            m[np.repeat(np.arange(n), lens), offset_codes] = 1.0
            return m

        ml = dense(nl, llens, lcodes)
        mr = ml if diag else dense(nr, rlens, rcodes)
        inter = (ml @ mr.T).astype(np.float64)
        return inter, llens, rlens, lid, rid

    lrows = np.repeat(np.arange(nl), llens)
    rrows = lrows if diag else np.repeat(np.arange(nr), rlens)
    # Dedupe (row, code) occurrence pairs: the dense 0/1 assignment
    # (m[...] = 1.0) naturally collapses a duplicate element within one
    # set, so the sparse accumulation must too or the regimes would
    # diverge on inputs that violate the documented distinct-elements
    # precondition. (lens stay len(s) with duplicates counted — same as
    # the dense path's, so union/containment denominators also match.)

    def _uniq(rows, codes_):
        keys = np.unique(rows.astype(np.int64) * v + codes_)
        return keys // v, keys % v

    lrows, lcodes = _uniq(lrows, lcodes)
    rrows, rcodes = (lrows, lcodes) if diag else _uniq(rrows, rcodes)
    r_order = np.argsort(rcodes, kind="stable")
    r_rows_sorted = rrows[r_order]
    cr = np.bincount(rcodes, minlength=v)
    r_start = np.concatenate(([0], np.cumsum(cr)[:-1]))
    reps = cr[lcodes]                  # right matches per left occurrence
    counts = np.zeros(nl * nr, np.int64)
    lo = 0
    while lo < len(lcodes):
        hi = lo
        budget = 0
        while hi < len(lcodes) and budget + reps[hi] <= _SPARSE_CHUNK_PAIRS:
            budget += reps[hi]
            hi += 1
        hi = max(hi, lo + 1)           # always advance (giant single gram)
        creps = reps[lo:hi]
        total = int(creps.sum())
        if total:
            out_l = np.repeat(lrows[lo:hi], creps)
            cum = np.concatenate(([0], np.cumsum(creps)[:-1]))
            idx = (np.arange(total) - np.repeat(cum, creps)
                   + np.repeat(r_start[lcodes[lo:hi]], creps))
            out_r = r_rows_sorted[idx]
            counts += np.bincount(out_l * nr + out_r, minlength=nl * nr)
        lo = hi
    inter = counts.reshape(nl, nr).astype(np.float64)
    return inter, llens, rlens, lid, rid


# pandas dtype of each Spark type a kernel emits (typed empty frames)
_PANDAS_DTYPES = {"int": "int32", "bigint": "int64", "double": "float64"}


def empty_frame(schema: str) -> pd.DataFrame:
    """Zero-row frame typed like the DDL `schema` ("a bigint, b double")."""
    return pd.DataFrame({
        name: pd.Series(dtype=_PANDAS_DTYPES[kind])
        for name, kind in (field.split() for field in schema.split(","))})


def seq_cosine(lv: np.ndarray, rv: np.ndarray) -> np.ndarray:
    """Cosine of every (left row, right row) pair, shape (len(lv),
    len(rv)). Dots and squared norms accumulate DIMENSION-SEQUENTIALLY,
    ((0 + x1) + x2) + ... per cell — DuckDB list_reduce's IEEE order —
    and the division is dot / (norm_a · norm_b), the op sequence of
    functions/vectors.cosine, so every cosine is bit-identical to the
    oracle fold."""
    dots = np.zeros((lv.shape[0], rv.shape[0]), np.float64)
    lsq = np.zeros(lv.shape[0], np.float64)
    rsq = np.zeros(rv.shape[0], np.float64)
    for d in range(lv.shape[1]):
        dots += lv[:, d, None] * rv[None, :, d]
        lsq += lv[:, d] * lv[:, d]
        rsq += rv[:, d] * rv[:, d]
    return dots / (np.sqrt(lsq)[:, None] * np.sqrt(rsq)[None, :])


def _tile_pairs(df: DataFrame, id_col: str, payload_col: str, schema: str,
                score, n_blocks: int | None,
                size_hint: int | None) -> DataFrame:
    """The all-pairs tile topology every blocked operator runs on.

    Selects (id, payload), takes B = n_blocks or choose_blocks(size_hint,
    defaultParallelism), replicates rows to the B(B+1)/2 block pairs and
    calls ``score(left_rows, right_rows, is_diagonal)`` once per
    (_k1, _k2) tile through applyInPandas; `schema` is the DDL of the
    frames `score` returns. A tile that holds no pair of distinct rows
    (an empty side, or a one-row diagonal) returns the typed empty frame
    without calling `score`.

    Block choice never counts rows — a plan-time count() is a full scan
    at 100 TB — so a call with neither n_blocks nor size_hint (parquet
    footer metadata, io.parquet_row_count, or catalog stats) raises.
    """
    if n_blocks is None:
        if size_hint is None:
            raise ValueError(
                "blocked kernels need n_blocks or size_hint (a footer or "
                "catalog row count); block choice never counts rows")
        n_blocks = choose_blocks(
            size_hint, df.sparkSession.sparkContext.defaultParallelism)
    rep = replicate_block_pairs(
        df.select(F.col(id_col), F.col(payload_col)), id_col, n_blocks)
    empty = empty_frame(schema)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        lpdf, rpdf, diag = _split_tile(pdf, id_col, n_blocks)
        if len(lpdf) == 0 or len(rpdf) == 0 or (diag and len(lpdf) < 2):
            return empty
        return score(lpdf, rpdf, diag)

    return rep.groupBy("_k1", "_k2").applyInPandas(kernel, schema)


def jaccard_pairs_blocked(
    df: DataFrame,
    id_col: str = "doc_id",
    set_col: str = "g",
    threshold: float = 0.08,
    n_blocks: int | None = None,
    size_hint: int | None = None,
    sparse_cutoff: int = SPARSE_TILE_VOCAB,
) -> DataFrame:
    """Exact set-Jaccard for every pair (doc_a < doc_b, jac ≥ threshold).

    `set_col` must hold distinct-element string arrays. Each tile gets
    all pairwise intersection counts from _tile_intersections — exact
    integers, so the Jaccard division is bit-identical to the DuckDB
    oracle's list_intersect formulation. `n_blocks` / `size_hint` as in
    _tile_pairs: one of them is required.
    """
    def score(lpdf, rpdf, diag):
        inter, llens, rlens, lid, rid = _tile_intersections(
            lpdf, rpdf, diag, id_col, set_col, sparse_cutoff)
        union = (llens[:, None] + rlens[None, :]).astype(np.float64) - inter
        jac = inter / union
        mask = jac >= threshold
        if diag:
            mask &= lid[:, None] < rid[None, :]
        ii, jj = np.nonzero(mask)
        a, b = lid[ii], rid[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        # unrounded: exact-integer-operand division, bit-identical to
        # the oracle's list_intersect ratio (round-6 audit, round 6)
        return pd.DataFrame(
            {"doc_a": lo, "doc_b": hi, "jac": jac[ii, jj]})

    return _tile_pairs(df, id_col, set_col,
                       "doc_a bigint, doc_b bigint, jac double",
                       score, n_blocks, size_hint)


def nearest_neighbor_blocked(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    size_hint: int | None = None,
) -> DataFrame:
    """Exact cosine top-1 neighbor for every vector (excluding itself).

    Tiles emit each row's best neighbor within the tile (seq_cosine,
    ties → smallest id); a cheap global max-of-struct combine over the
    N·B tile winners picks the final neighbor. The cosines are
    bit-identical to the oracle's list_reduce fold, so the argmax and
    tie-break agree exactly.

    Returns (vec_id_a, nn_id, cos_sim) — the cosine unrounded and
    bit-identical to the oracle fold (round-6 audit). `n_blocks` /
    `size_hint` as in _tile_pairs: one of them is required.
    """
    int64_max = np.iinfo(np.int64).max

    def best_in_tile(cos, own_ids, other_ids):
        best = cos.max(axis=1)
        tied = cos == best[:, None]
        nn = np.where(tied, other_ids[None, :], int64_max).min(axis=1)
        return pd.DataFrame({"vec_id_a": own_ids, "nn_id": nn, "cos": best})

    def score(lpdf, rpdf, diag):
        lv = np.stack(list(lpdf[vec_col])).astype(np.float64)
        lid = lpdf[id_col].to_numpy()
        rv = lv if diag else np.stack(list(rpdf[vec_col])).astype(np.float64)
        rid = lid if diag else rpdf[id_col].to_numpy()
        cos = seq_cosine(lv, rv)
        if diag:
            np.fill_diagonal(cos, -np.inf)
            return best_in_tile(cos, lid, rid)
        return pd.concat([
            best_in_tile(cos, lid, rid),
            best_in_tile(cos.T, rid, lid),
        ])

    tile_best = _tile_pairs(df, id_col, vec_col,
                            "vec_id_a bigint, nn_id bigint, cos double",
                            score, n_blocks, size_hint)
    # Global winner: lexicographic max of (cos, -nn_id) == highest cosine,
    # ties to the smallest neighbor id — same ORDER BY as the oracle.
    won = tile_best.groupBy("vec_id_a").agg(
        F.max(F.struct(F.col("cos"), (-F.col("nn_id")).alias("neg_id")))
        .alias("w"))
    return won.select(
        "vec_id_a",
        (-F.col("w.neg_id")).alias("nn_id"),
        # unrounded: seq_cosine replicates the oracle fold's IEEE order
        # exactly, so the cosine is bit-identical — the round was the
        # only divergence-capable step (round-6 audit)
        F.col("w.cos").alias("cos_sim"),
    )


def containment_pairs_blocked(
    df: DataFrame,
    id_col: str = "doc_id",
    set_col: str = "g",
    threshold: float = 0.3,
    n_blocks: int | None = None,
    size_hint: int | None = None,
    sparse_cutoff: int = SPARSE_TILE_VOCAB,
) -> DataFrame:
    """Exact set-containment |A∩B| / |A| for every ORDERED pair
    (doc_a ≠ doc_b, containment ≥ threshold) — the asymmetric variant
    of jaccard_pairs_blocked, same tile topology and determinism
    contract (sgemm intersections are exact integers; the division is
    the same IEEE op the oracle runs).

    Directed emission: an off-diagonal tile emits BOTH directions
    (A-in-B and B-in-A) from one intersection matrix; the diagonal
    tile masks only the identity. Empty sets emit nothing (their
    containment is undefined).

    Why a tile kernel and not an inverted-index join: the posting-list
    self-join costs Σ_g df(g)² — great when the vocabulary is large
    and flat (real text + a stop-gram df-ceiling), degenerate when the
    vocabulary is tiny and every gram is common (this repo's synthetic
    corpus: 931 grams, median df 285 ⇒ 73M join rows at sf0.1,
    measured 58 s). The tile encoding is REGIME-SPLIT per tile
    (_tile_intersections): small tile-local vocabularies run the dense
    sgemm ((N/B)² · v_tile work — insensitive to gram-frequency skew);
    once v_tile crosses SPARSE_TILE_VOCAB the tile switches to the
    sparse code-aligned accumulation, whose cost is
    nnz·log(nnz) + Σ_g df_l(g)·df_r(g) — independent of vocabulary
    width, so mixed-vocabulary corpora (multi-shard, multi-language)
    keep the documented O(N²/B²) contract instead of drifting
    superquadratic with v_tile (the r11 rehearsal's 2.51 exponent).
    Both regimes produce identical exact-integer intersections → pair
    output is bit-identical.
    """
    def emit(inter_ab, a_lens, a_ids, b_ids, mask):
        with np.errstate(divide="ignore", invalid="ignore"):
            cont = inter_ab / a_lens[:, None].astype(np.float64)
        ii, jj = np.nonzero(mask & (a_lens[:, None] > 0) & (cont >= threshold))
        return pd.DataFrame({
            "doc_a": a_ids[ii], "doc_b": b_ids[jj],
            "containment": cont[ii, jj]})

    def score(lpdf, rpdf, diag):
        inter, llens, rlens, lid, rid = _tile_intersections(
            lpdf, rpdf, diag, id_col, set_col, sparse_cutoff)
        if diag:
            return emit(inter, llens, lid, rid, lid[:, None] != rid[None, :])
        return pd.concat([emit(inter, llens, lid, rid, True),    # left-in-right
                          emit(inter.T, rlens, rid, lid, True)],  # right-in-left
                         ignore_index=True)

    return _tile_pairs(df, id_col, set_col,
                       "doc_a bigint, doc_b bigint, containment double",
                       score, n_blocks, size_hint)
