"""Deduplication operator family for the LLM-data pipeline.

Five strategies, all expressed as DataFrame transforms with zero Python in
the row path (higher-order functions only), each with a different
scale/recall trade-off:

- exact:    sha2 digest group-by — shuffle 32-byte digests, never text.
- minhash:  per-doc signature via array_min over md5-salted shingles →
            LSH band buckets → equi-join on (band, hash) → exact-Jaccard
            verify on the *candidates only*. This is the 100 TB path: the
            O(N²) pair space collapses to per-bucket joins; the shuffle
            key is the 16-byte binary band hash.
- simhash:  16-lane ±1 vote fingerprint; near-dups share fingerprints
            (or differ in few bits) — O(N) to fingerprint, bucket or
            hamming-ball join to pair.
- n-gram Jaccard: exact similarity on word n-gram sets; quadratic —
            use only as verify stage or on small/blocked partitions.
- embedding cosine: near-dup = cosine above threshold in vector space
            (see similarity.py for the ANN scale path).

Hash discipline: md5 only (hex string, identical across Spark, DuckDB,
Python's hashlib) so every stage is oracle-checkable. At production scale
swap md5 for xxhash64 (same topology, 8-byte keys, ~10× faster) — the
choice is isolated in `_salted_md5`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io import VOCAB_MASK_BITS
from .scale import banded_pairs, fill_cluster


def tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ", -1)


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams as space-joined strings; n=1 → the tokens themselves.

    Built as array_join(slice(toks, i, n)) — ONE slice + ONE join call
    per gram instead of n element_at lookups feeding a concat_ws
    (r15: bit-identical output, measured −30% on the n=4 gram
    projection at sf0.1; the per-gram cost of the element_at form grows
    with n, the slice form's barely does). Every gram consumer
    (decontaminate, dsir, minhash shingles, n-gram stats) inherits it.
    """
    if n == 1:
        return toks
    # Guard: sequence(1, 0) would DESCEND in Spark; short docs get [].
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    empty = F.array().cast("array<string>")
    return F.when(F.size(toks) >= n, grams).otherwise(empty)


def gram_set(text: Column | str, n: int) -> Column:
    """The distinct word n-grams of `text`: the shingle set every
    near-dup, containment and n-gram-overlap operator compares."""
    return F.array_distinct(word_ngrams(tokens(text), n))


def _salted_md5(salt: int, value: Column) -> Column:
    return F.md5(F.concat(F.lit(f"{salt}:"), value))


def md5_32(value: Column) -> Column:
    """The first 32 bits of md5(value) as a non-negative bigint. The SQL
    twin is CAST('0x' || substr(md5(value), 1, 8) AS BIGINT)."""
    return F.conv(F.substring(F.md5(value), 1, 8), 16, 10).cast("bigint")


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard on distinct-element arrays.

    Uses |A∩B| and |A|+|B|-|A∩B| (set-op *lengths* only: engines disagree
    on intersection ordering, never on cardinality).
    """
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))
    return inter / union


def minhash_signature(shingles: Column, k: int) -> list[Column]:
    """k-permutation MinHash without explode/shuffle: signature element i
    is the lexicographic min of md5(i + ':' + shingle) over the doc's
    shingles — computed entirely inside whole-stage codegen.
    """
    def hash_with(i: int):
        # Closure factory: a `lambda s, i=i:` default arg would be read by
        # PySpark as a second lambda parameter (the array index) — wrong.
        return lambda s: _salted_md5(i, s)

    return [
        F.array_min(F.transform(shingles, hash_with(i))).alias(f"sig_{i}")
        for i in range(k)
    ]


def lsh_band_hashes(k: int, rows_per_band: int) -> list[Column]:
    """Band hashes over a previously-computed sig_0..sig_{k-1}."""
    assert k % rows_per_band == 0
    bands = []
    for b in range(k // rows_per_band):
        cols = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        # 16-byte BINARY band key: the hash is only ever equality-joined
        # and equality-compared (first-matching-band emission), so the
        # unhex halves every band column crossing the candidate-join
        # exchange vs the 32-char hex string.
        bands.append(F.unhex(
            F.md5(F.concat_ws("|", F.lit(str(b)), *cols))).alias(f"band_{b}"))
    return bands


def _minhash_bands(df: DataFrame, id_col: str, text_col: str, k: int,
                   rows_per_band: int, shingle_n: int,
                   sig_names: list[str]) -> tuple[DataFrame, list[str]]:
    """(id, shingles, *sig_names, band_0..band_{k/rows-1}) in one narrow
    pass — distinct word-`shingle_n`-gram shingles, the k-permutation
    signature and its band hashes — and the band columns' names.
    `sig_names` (a subset of
    sig_0..sig_{k-1}) ride along as 16-byte binaries: unhex halves the
    row vs the 32-char hex strings, and equality — all a consumer of
    carried signatures needs — is representation-invariant."""
    shingled = df.select(
        F.col(id_col),
        gram_set(text_col, shingle_n).alias("shingles"))
    sigs = shingled.select(
        id_col, "shingles", *minhash_signature(F.col("shingles"), k))
    bands = lsh_band_hashes(k, rows_per_band)
    return (sigs.select(id_col, "shingles",
                        *[F.unhex(F.col(n)).alias(n) for n in sig_names],
                        *bands),
            [f"band_{i}" for i in range(len(bands))])


def _vocab_row(shingled: DataFrame, set_col: str = "shingles") -> DataFrame:
    """ONE-row relation holding the sorted global vocabulary of
    `set_col` as an array — the broadcast-able dictionary the masked
    verify of minhash_lsh_pairs reads. gid(gram) = rank in this sorted
    array, identical to the old row_number-over-sorted-vocab
    assignment."""
    return (shingled.select(F.explode(set_col).alias("gram"))
            .distinct()
            .agg(F.sort_array(F.collect_list("gram")).alias("_vocab")))


def _mask_cols(set_col: str = "shingles") -> tuple[Column, Column]:
    """(sz, mask) Column pair computed ROW-LOCALLY against a `_m`
    gram→gid map column (see minhash_lsh_pairs' `vocab_hint` path):
    sz = |set|, mask = OR of 1<<gid over the set's grams. The overflow
    guard lives INSIDE the mask fold so the optimizer can never prune
    it away."""
    mask = F.expr(
        f"aggregate({set_col}, cast(0 as bigint), (acc, g) -> acc | "
        f"shiftleft(1L, if(element_at(_m, g) < {VOCAB_MASK_BITS}, "
        "element_at(_m, g), cast(raise_error('minhash_lsh_pairs "
        "vocab_hint: global vocabulary exceeds "
        f"{VOCAB_MASK_BITS} distinct elements') as int))))")
    return F.size(set_col).alias("sz"), mask.alias("mask")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 1,
    threshold: float = 0.8,
    size_hint: int | None = None,
    vocab_hint: int | None = None,
    carry_sigs: bool = False,
) -> DataFrame:
    """MinHash→LSH→verify near-dup pairs (doc_a < doc_b, jac ≥ threshold).

    Plan shape (scale-critical): one narrow pass computes signatures and
    distinct shingle sets per doc; the candidates are the banded join
    on (band, hash) (scale.banded_pairs: k/rows rows per doc, NOT N²;
    each pair once, at its lowest matching band); exact-Jaccard verify
    runs only on candidates. Building the plan launches ZERO Spark
    jobs: physical-strategy choices come from the caller's hints, not
    driver-side counts (at 100 TB a `count()` for a broadcast
    heuristic is a full scan before the real query).

    - `size_hint`: approximate row count of `df` (parquet footer
      metadata, catalog stats — see io.parquet_row_count); it picks
      the candidate join's broadcast or shuffle topology
      (scale.banded_pairs).
    - `vocab_hint`: global distinct-shingle count when the caller knows
      it is ≤ VOCAB_MASK_BITS (64; enum-like sets). Enables single-long
      set encoding: verify is `bit_count(mask_a & mask_b)` inline in the
      same codegen stage — no join back to shingle arrays. Real text
      vocabularies leave this None and verify via array_intersect on
      candidates.
    - `carry_sigs`: additionally emit the two endpoints' signatures as
      16-byte binaries (a_sig_0..k-1 / b_sig_0..k-1) on every pair.
      The calibration consumer (q_minhash_calibration) needs per-pair
      signature agreement; carrying the already-computed sigs through
      the candidate join replaces two whole-corpus signature joins
      back onto the pair stream (r15: measured −0.25 s at sf0.1, plan
      loses 2 BroadcastHashJoins + one signature-projection subtree).
      Adds k·16 B per exploded row, so pair it with the hash-sampled
      calibration contract at corpus scale, not full-corpus runs.
    """
    # Shingling + k salted hashes are CPU-bound and sit BELOW any later
    # exchange, so they inherit the scan's split count — rebalance first.
    filled = fill_cluster(df)
    sig_names = [f"sig_{i}" for i in range(k)] if carry_sigs else []
    banded, band_cols = _minhash_bands(filled, id_col, text_col, k,
                                       rows_per_band, shingle_n, sig_names)

    masked = vocab_hint is not None and vocab_hint <= VOCAB_MASK_BITS
    if masked:
        # Inline (sz, mask) in the SAME projection as the band hashes
        # (r15): the old shape ran a separate mask relation's
        # (id, gram) explode + dictionary join + groupBy(id) and then a
        # doc_id join back onto `banded` — three extra stages per side,
        # ~1.0 s at sf0.1. Here the sorted vocabulary is ONE broadcast
        # row and the mask is a row-local fold, so the masked projection
        # costs one vocab aggregate plus narrow compute.
        sz, mask = _mask_cols("shingles")
        gid_map = F.map_from_arrays(
            F.col("_vocab"), F.sequence(F.lit(0), F.size("_vocab") - 1))
        # The vocab aggregate reads the RAW scan, not the rebalanced
        # `filled`: explode→distinct partial-aggregates per
        # partition, so rebalancing first only adds a full shuffle and
        # ~32 extra tasks per candidate-join side (measured ~0.5 s per
        # side at sf0.01, pure stage overhead). At scale the scan's
        # own splits parallelize the distinct.
        raw_grams = df.select(
            gram_set(text_col, shingle_n).alias("shingles"))
        banded = (
            banded.crossJoin(F.broadcast(_vocab_row(raw_grams)))
            .withColumn("_m", gid_map)
            .filter(F.size("shingles") > 0)
            .select(id_col, sz, mask, *sig_names, *band_cols)
        )

    # The candidate sides keep the per-doc payload: a join-back rewrite
    # that ships only ids measured 0.79 s against 0.73 s for this shape
    # (bigram leg at sf0.1).
    joined = banded_pairs(banded, band_cols, id_col, size_hint=size_hint,
                          rebalanced=filled)

    # jac is emitted UNROUNDED: an integer-count ratio is one IEEE
    # division on exactly-representable operands, so Spark and any
    # oracle engine produce the bit-identical double — rounding it
    # (Spark BigDecimal HALF_UP vs an engine's binary-double round)
    # is the only step that can diverge on .5 boundaries (round-6
    # audit, round 6). The threshold filter compares the unrounded
    # value in BOTH branches for the same reason (the second branch
    # previously filtered the rounded value, which could admit a
    # boundary pair the exact-jaccard oracle rejects).
    pair = [F.col(f"a_{id_col}").alias("doc_a"),
            F.col(f"b_{id_col}").alias("doc_b")]
    carried = [F.col(f"a_{n}") for n in sig_names] + [
        F.col(f"b_{n}") for n in sig_names]
    if masked:
        inter = F.bit_count(F.col("a_mask").bitwiseAND(F.col("b_mask")))
        jac = inter.cast("double") / (F.col("a_sz") + F.col("b_sz") - inter)
        # threshold ≤ 0 is a tautology on this branch — every row here
        # has sz ≥ 1 on both sides (the size(shingles) > 0 filter), so
        # union ≥ 1 and jac ∈ [0, 1]: skip the per-pair filter instead
        # of evaluating bit_count+division twice on millions of
        # candidates (r15; the unmasked branch below keeps its filter —
        # empty-set docs reach it and their 0/0 jac is NULL, which the
        # filter drops even at threshold 0).
        if threshold > 0.0:
            joined = joined.filter(jac >= threshold)
        return joined.select(*pair, jac.alias("jac"), *carried)
    jac = jaccard(F.col("a_shingles"), F.col("b_shingles"))
    return (
        joined.select(*pair, jac.alias("jac"), *carried)
        .filter(F.col("jac") >= threshold)
    )


def connected_components(nodes: DataFrame, edges: DataFrame,
                         node_col: str = "doc_id",
                         src_col: str = "doc_a", dst_col: str = "doc_b",
                         max_iter: int = 20) -> DataFrame:
    """Connected components by iterative min-label propagation: every
    node's label converges to the smallest node id in its component.
    Returns (node, label).

    The loop is driver-side control flow over DataFrame ops (each
    iteration: symmetric-edge join → per-node min → convergence count);
    lineage is truncated per iteration with localCheckpoint so plans
    don't grow unboundedly. A label moves one hop per round, so a
    component of diameter d needs about d rounds to converge (one round
    after the init for the clique-like components near-dup graphs
    usually form). If the labels still move after `max_iter` rounds
    the call raises RuntimeError instead of returning unconverged
    labels (a path of more than about `max_iter` hops would otherwise
    come back split into several components). This is label
    propagation (Hash-Min a la Pregel); at 100 TB pre-partition edges
    by src so each iteration's join is co-located.

    Scale-critical: only nodes that appear in an edge enter the loop.
    In a dedup corpus the duplicate subgraph is a sliver of the corpus
    (most documents are isolated), so the iterated state is |touched|
    rows, not |nodes| — the final labels for isolated nodes are just
    themselves, recovered with one broadcast left-join at the end.
    """
    # Checkpoint BEFORE the symmetric flip: a union's branches are
    # evaluated independently, so flipping first would run the (possibly
    # expensive) pair-generation lineage twice. The flip of checkpointed
    # rows is a narrow op — cheap to recompute each iteration.
    e = edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).localCheckpoint()
    sym = e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
    # Initial label = least(node, min neighbor): the same single shuffle a
    # plain distinct() would pay, but it folds propagation iteration 1
    # into the init. Clique-like dup components (the common near-dup
    # shape) converge immediately — the loop then only has to CONFIRM
    # (one iteration) instead of propagate-then-confirm (two).
    labels = (
        sym.groupBy("src").agg(F.min("dst").alias("_m"))
        .select(F.col("src").alias("node"),
                F.least("src", "_m").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src").agg(F.min("label").alias("nbr_label"))
        )
        # The change flag rides along in the same projection, so each
        # iteration is ONE materializing action (localCheckpoint) plus a
        # cheap count over the checkpointed rows — not a second join.
        merged = F.least(
            F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label")))
        new_labels = (
            labels.join(nbr_min, labels.node == nbr_min.src, "left")
            .select("node", merged.alias("new_label"),
                    (merged != F.col("label")).alias("changed"))
            .localCheckpoint()
        )
        changed = new_labels.filter("changed").count()
        labels = new_labels.select(
            "node", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"max_iter={max_iter} rounds")
    # Isolated nodes (no edges) label themselves; the converged labels
    # cover only the duplicate subgraph, so AQE broadcasts this join from
    # the checkpointed runtime stats whenever that subgraph is small.
    all_nodes = nodes.select(F.col(node_col).alias("node"))
    return all_nodes.join(labels, "node", "left").select(
        "node", F.coalesce(F.col("label"), F.col("node")).alias("label"))


def dedup_clusters(nodes: DataFrame, pairs: DataFrame,
                   node_col: str = "doc_id") -> DataFrame:
    """Cluster assignment + canonical pick from a near-dup pair list:
    (doc_id, cluster_id, is_canonical) where cluster_id is the smallest
    doc_id in the connected component — the keep-first policy every
    dedup pipeline needs after pair detection."""
    labels = connected_components(nodes, pairs, node_col=node_col)
    return labels.select(
        F.col("node").alias(node_col),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )


def dedup_survivors(clusters: DataFrame, docs: DataFrame,
                    id_col: str = "doc_id",
                    weight_col: str = "n_chars") -> DataFrame:
    """The dedup run's ACTIONABLE output: one row per multi-member
    cluster with the surviving document and what merging costs —
    (survivor_id, n_merged, chars_kept, chars_dropped). `clusters` is
    dedup_clusters' (id, cluster_id, is_canonical) labeling; `docs`
    supplies `weight_col` (chars/bytes/tokens). cluster_sizes answers
    "are the thresholds sane" (histogram); this answers "which ids
    survive and how much volume the merge removes" — the relation an
    incremental pipeline anti-joins against.

    Scale shape: one broadcast-or-shuffle equi-join on the id, one
    partial-aggregated groupBy(cluster_id); singleton clusters are
    filtered AFTER the rollup so the filter is on cluster-count rows,
    never a second pass over members."""
    joined = clusters.join(
        docs.select(F.col(id_col), F.col(weight_col).alias("_w")), id_col)
    canonical = F.col("is_canonical")
    return (joined.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_merged"),
                 F.sum(F.when(canonical, F.col("_w")).otherwise(0))
                 .cast("bigint").alias("chars_kept"),
                 F.sum(F.when(~canonical, F.col("_w")).otherwise(0))
                 .cast("bigint").alias("chars_dropped"))
            .filter(F.col("n_merged") >= 2)
            .select(F.col("cluster_id").alias("survivor_id"),
                    "n_merged", "chars_kept", "chars_dropped"))


def simhash16(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """16-bit SimHash per row: lane j votes +1 when hex digit j of
    md5(token) has its high bit set ('8'-'f'), else -1, over the row's
    DISTINCT tokens; fingerprint bit j = sign of the lane sum.

    Physical plan: explode distinct tokens → md5 ONCE per token → 16
    vote columns from its nibbles → groupBy(id).sum — everything stays in
    whole-stage codegen and the only shuffle moves 16 small ints per
    token with map-side partial aggregation. (A per-lane higher-order
    aggregate recomputes md5 16× per token AND runs interpreted —
    measured 5× slower at sf0.1.) Returns (id, simhash).
    """
    hashed = (
        fill_cluster(df)
        .select(F.col(id_col),
                F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
        .withColumn("h", F.md5(F.col("tok")))
    )
    votes = hashed.select(
        id_col,
        *[
            F.when(F.instr(F.lit("89abcdef"), F.substring("h", j + 1, 1)) > 0, 1)
            .otherwise(-1).alias(f"v{j}")
            for j in range(16)
        ],
    )
    summed = votes.groupBy(id_col).agg(
        *[F.sum(f"v{j}").alias(f"s{j}") for j in range(16)])
    fp: Column = F.lit(0)
    for j in range(16):
        fp = fp + F.when(F.col(f"s{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
    return summed.select(id_col, fp.cast("bigint").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    size_hint: int | None = None,
) -> DataFrame:
    """Near-dup pairs from 16-bit SimHash fingerprints:
    (doc_a < doc_b, hamming ≤ max_hamming). Returns (doc_a, doc_b, hamming).

    Scale topology (the Manku/Jain/Sarma WWW'07 multi-index shape): two
    fingerprints within hamming distance r must agree EXACTLY on at least
    one of r+1 disjoint bit segments (pigeonhole), so candidate
    generation is the banded join on (segment_idx, segment_value)
    (scale.banded_pairs: r+1 rows per doc, never the O(N²) pair space
    and never the C(16,r) bit-flip expansion; each pair once, at its
    lowest matching segment). Verify is one codegen'd `bit_count(a ^ b)`
    per candidate.

    Scale note: 16 bits (md5-nibble lanes, oracle-checkable in DuckDB)
    is the verification width — segment buckets are 2^4-way and grow
    quadratic with N, fine for verify-scale corpora only. Corpus scale
    needs a wider fingerprint: hamming_segment_pairs takes `bits`, and
    at 64 bits (r+1) segments of ~16 bits keep bucket sizes ~N/2^16.
    """
    fp = simhash16(df, id_col=id_col, text_col=text_col)
    return hamming_segment_pairs(
        fp, id_col=id_col, fp_col="simhash", bits=16,
        max_hamming=max_hamming, size_hint=size_hint)


def hamming_segment_pairs(fp: DataFrame, id_col: str = "doc_id",
                          fp_col: str = "simhash", bits: int = 16,
                          max_hamming: int = 3,
                          size_hint: int | None = None) -> DataFrame:
    """Pairs within `max_hamming` of a `bits`-wide fingerprint column,
    via the pigeonhole segment equi-join (see simhash_pairs docstring).
    Shared candidate topology for the 16-bit (oracle) and 64-bit
    (production) fingerprint widths.

    `size_hint` (≈ |fp| rows, from parquet footer metadata — zero
    plan-time Spark jobs) picks the candidate join's broadcast or
    shuffle topology (scale.banded_pairs). `fp` is the rebalance
    check's frame: a fingerprint aggregation or projection is no
    round-robin root, so a broadcast candidate join repartitions its
    streamed side."""
    n_seg = max_hamming + 1
    assert 1 <= n_seg <= bits, f"max_hamming must be in [0, {bits - 1}]"

    # Split `bits` into n_seg near-equal segments: seg j covers
    # [off_j, off_j + w_j). Widths differ by ≤1 bit.
    widths = [(bits // n_seg) + (1 if j < bits % n_seg else 0)
              for j in range(n_seg)]
    offsets = [sum(widths[:j]) for j in range(n_seg)]
    def seg(j: int) -> Column:
        shifted = F.shiftright(F.col(fp_col), offsets[j])
        if widths[j] >= 64:  # whole-word segment: mask would overflow
            return shifted.alias(f"seg_{j}")
        return shifted.bitwiseAND(
            F.lit((1 << widths[j]) - 1)).alias(f"seg_{j}")

    segmented = fp.select(id_col, fp_col, *[seg(j) for j in range(n_seg)])
    joined = banded_pairs(
        segmented, [f"seg_{j}" for j in range(n_seg)], id_col,
        size_hint=size_hint, rebalanced=fp)
    hamming = F.bit_count(
        F.col(f"a_{fp_col}").bitwiseXOR(F.col(f"b_{fp_col}")))
    return (
        joined.select(F.col(f"a_{id_col}").alias("doc_a"),
                      F.col(f"b_{id_col}").alias("doc_b"),
                      hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    threshold: float = 0.08,
    size_hint: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs (doc_a < doc_b, jac ≥ threshold).

    Quadratic in documents by definition — at 100 TB this runs as the
    verify stage after LSH blocking (minhash_lsh_pairs), or standalone via
    the blocked tile topology used here: operators/blocked.py splits rows
    into B blocks, scores one (block×block) tile per task with a BLAS
    matmul over tile-local dictionary-encoded gram sets (exact integer
    intersections → oracle-identical Jaccard), and never materializes the
    O(N²) pair space outside a tile.
    """
    from .blocked import jaccard_pairs_blocked

    grams = fill_cluster(df).select(
        F.col(id_col), gram_set(text_col, n).alias("g"))
    return jaccard_pairs_blocked(
        grams, id_col=id_col, set_col="g", threshold=threshold,
        size_hint=size_hint)


def dup_provenance(clusters: DataFrame, docs: DataFrame,
                   group_col: str = "source",
                   id_col: str = "doc_id") -> DataFrame:
    """Duplicate-provenance rollup over a clustering relation
    (doc_id, cluster_id): of the multi-member near-dup clusters, how
    many span MORE than one `group_col` value — the signal that
    duplication is cross-source syndication (drop one copy per
    cluster, keep the mix) rather than within-source boilerplate
    (fix the crawler). Returns ONE row:
    (n_dup_clusters, n_cross_source, cross_share) — exact counts, one
    integer-operand division; zero multi-member clusters emits zero
    rows in both engines.

    Scale shape: one id equi-join to attach the group, one
    partial-aggregated per-cluster rollup (count + count-distinct
    bounded by |groups|), one reduce."""
    per = (clusters.join(docs.select(id_col, group_col), id_col)
           .groupBy("cluster_id")
           .agg(F.count(F.lit(1)).alias("_sz"),
                F.countDistinct(group_col).alias("_nsrc"))
           .filter(F.col("_sz") >= 2))
    return (per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_clusters"),
        F.sum(F.when(F.col("_nsrc") > 1, 1).otherwise(0))
        .cast("bigint").alias("n_cross_source"))
        .filter(F.col("n_dup_clusters") > 0)
        .select("n_dup_clusters", "n_cross_source",
                (F.col("n_cross_source").cast("double")
                 / F.col("n_dup_clusters")).alias("cross_share")))


def hash_sample(df: DataFrame, sample_mod: int | None,
                id_col: str = "doc_id") -> DataFrame:
    """Seedless deterministic hash sample: keep rows whose 32-bit
    md5(id) prefix ≡ 0 (mod `sample_mod`) — the same engine-exact,
    retry-stable discipline as mixture_sample / q_sample_stratified
    (rand() is none of those). `None` or ≤ 1 keeps everything. The
    SQL twin is
    CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT)
      % m = 0."""
    if sample_mod is None or sample_mod <= 1:
        return df
    u = md5_32(F.col(id_col).cast("string"))
    return df.filter(u % sample_mod == 0)


def dedup_recall(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 2,
                 threshold: float = 0.5, k: int = 8,
                 rows_per_band: int = 2,
                 size_hint: int | None = None,
                 sample_mod: int | None = None) -> DataFrame:
    """LSH candidate-generation recall against exact ground truth:
    exact n-gram-Jaccard pairs ≥ threshold from the blocked tile
    kernel (ngram_jaccard_pairs — quadratic truth, tile-bounded) vs
    the banded MinHash path (minhash_lsh_pairs) at the same threshold
    over the same shingles. Verified LSH pairs are a SUBSET of the
    truth (the verify stage computes the identical Jaccard), so
    recall = |lsh| / |exact| — two count aggregates, one
    integer-operand division. One row
    (n_true_pairs, n_candidate_pairs, n_missed, recall); empty truth
    emits zero rows.

    100 TB contract (`sample_mod`): the exact truth is quadratic by
    definition, so at scale the evaluation runs on a hash-selected
    sub-corpus — pass sample_mod=m to keep docs with
    md5₃₂(id) ≡ 0 (mod m) via hash_sample (seedless, so re-runs and
    both engines select the identical sub-corpus) and measure recall
    among the surviving pairs: pairs survive at rate 1/m², and the
    recall ratio over the sampled pair population is the standard
    unbiased estimate of corpus recall (same document-the-scale-
    variant discipline as q_drift_ks's bucket-first note).
    Equivalences pinned by tests: sample_mod=1 ≡ full corpus, and
    sample_mod=m ≡ running the full evaluation on
    hash_sample(docs, m). `size_hint` (tile-kernel block sizing) is
    scaled by 1/m automatically."""
    docs = hash_sample(docs, sample_mod, id_col)
    if size_hint is not None and sample_mod and sample_mod > 1:
        size_hint = max(1, size_hint // sample_mod)
    exact = ngram_jaccard_pairs(docs, id_col=id_col, text_col=text_col,
                                n=n, threshold=threshold,
                                size_hint=size_hint)
    lsh = minhash_lsh_pairs(docs, id_col=id_col, text_col=text_col,
                            k=k, rows_per_band=rows_per_band,
                            shingle_n=n, threshold=threshold,
                            size_hint=size_hint)
    ec = exact.agg(F.count(F.lit(1)).alias("_ne"))
    lc = lsh.agg(F.count(F.lit(1)).alias("_nl"))
    return (ec.crossJoin(lc).filter(F.col("_ne") > 0)
            .select(F.col("_ne").cast("bigint").alias("n_true_pairs"),
                    F.col("_nl").cast("bigint").alias("n_candidate_pairs"),
                    (F.col("_ne") - F.col("_nl")).cast("bigint")
                    .alias("n_missed"),
                    (F.col("_nl").cast("double") / F.col("_ne"))
                    .alias("recall")))


def minhash_lsh_pairs_cross(
    corpus: DataFrame,
    probe: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    rows_per_band: int = 2,
    shingle_n: int = 1,
    threshold: float = 0.8,
) -> DataFrame:
    """Cross-corpus MinHash→LSH→verify: pairs (doc_id from `corpus`,
    probe_id from `probe`) with exact Jaccard ≥ `threshold` among
    band-collision candidates — the FUZZY decontamination screen
    (q_decontaminate is the exact-overlap variant; this one also
    catches paraphrased/perturbed benchmark leakage the way corpus
    self-dedup catches near-dups).

    Scale shape: the probe side is a benchmark/eval set — tiny versus
    the corpus by construction — so the candidates are the banded
    join's probe form (scale.banded_pairs): the probe band table
    broadcasts, corpus band rows never shuffle, and a verify runs on
    the few candidates. Same signature/band projection as the
    self-join path (minhash_lsh_pairs), so one corpus-side signature
    materialization can feed both."""
    def bands(df: DataFrame) -> tuple[DataFrame, list[str]]:
        return _minhash_bands(df, id_col, text_col, k, rows_per_band,
                              shingle_n, [])

    banded, band_cols = bands(fill_cluster(corpus))
    joined = banded_pairs(banded, band_cols, id_col,
                          right=bands(probe)[0])
    jac = jaccard(F.col("a_shingles"), F.col("b_shingles"))
    return (joined
            .select(F.col(f"a_{id_col}").alias("doc_id"),
                    F.col(f"b_{id_col}").alias("probe_id"),
                    jac.alias("jac"))
            .filter(F.col("jac") >= threshold))


def lsh_band_tuning(pairs: DataFrame, configs: list[tuple[int, int]],
                    dup_threshold: float = 0.5,
                    jac_col: str = "jac") -> DataFrame:
    """LSH parameter tuning: evaluate the banding S-curve
    p(s) = 1 − (1 − s^r)^b for each candidate (rows_per_band r,
    bands b) config against the OBSERVED pair-similarity distribution
    `pairs` (one row per pair with its exact Jaccard), so the r/b
    choice is driven by this corpus's actual near-dup mass instead of
    the textbook curve. Returns one row per config:
    (rows_per_band, bands, n_dup_pairs, n_other_pairs,
     expected_dup_recall, expected_other_rate) where "dup" means
    jaccard ≥ `dup_threshold` — recall is what the config would keep,
    other_rate is the verification load it would let through.

    Exact-arithmetic discipline (hash-parity with a SQL oracle): a
    naive SUM of p(s) doubles is accumulation-order dependent, so each
    pair's p is QUANTIZED to floor(p·2²⁰) first — s is an
    integer-operand division, the powers are explicit left-associated
    products, scaling by 2²⁰ is exact, and floor gives a BIGINT — and
    the final ratios divide exact integer sums. One partial-aggregable
    pass over the pairs; |configs| rows out."""
    import functools
    import operator as _op

    def _pow(col: Column, e: int) -> Column:
        return functools.reduce(_op.mul, [col] * e)

    s = F.col(jac_col)
    is_dup = s >= dup_threshold
    lanes = [
        F.sum(F.when(is_dup, 1).otherwise(0)).alias("_nd"),
        F.sum(F.when(~is_dup, 1).otherwise(0)).alias("_no"),
    ]
    for r, b in configs:
        p = F.lit(1.0) - _pow(F.lit(1.0) - _pow(s, r), b)
        q = F.floor(p * F.lit(1048576.0)).cast("bigint")
        lanes.append(F.sum(F.when(is_dup, q).otherwise(0))
                     .alias(f"_d{r}_{b}"))
        lanes.append(F.sum(F.when(~is_dup, q).otherwise(0))
                     .alias(f"_o{r}_{b}"))
    agg = pairs.agg(*lanes).filter(F.col("_nd") + F.col("_no") > 0)
    # Empty-class guard: if every observed pair lands on one side of
    # dup_threshold the other side's ratio is x/0 — Spark (non-ANSI)
    # yields NULL there while DuckDB (ieee_floating_point_ops default)
    # yields NaN/Inf. Guard BOTH engines to NULL explicitly
    # (F.when here, CASE WHEN in the SQL oracle) so an empty class is
    # a NULL rate in both.
    rows = F.array(*[
        F.struct(
            F.lit(r).cast("bigint").alias("rows_per_band"),
            F.lit(b).cast("bigint").alias("bands"),
            F.col("_nd").cast("bigint").alias("n_dup_pairs"),
            F.col("_no").cast("bigint").alias("n_other_pairs"),
            F.when(F.col("_nd") > 0,
                   F.col(f"_d{r}_{b}").cast("double")
                   / (F.col("_nd") * F.lit(1048576)))
            .alias("expected_dup_recall"),
            F.when(F.col("_no") > 0,
                   F.col(f"_o{r}_{b}").cast("double")
                   / (F.col("_no") * F.lit(1048576)))
            .alias("expected_other_rate"))
        for r, b in configs])
    return (agg.select(F.explode(rows).alias("c"))
            .select("c.rows_per_band", "c.bands", "c.n_dup_pairs",
                    "c.n_other_pairs", "c.expected_dup_recall",
                    "c.expected_other_rate"))
