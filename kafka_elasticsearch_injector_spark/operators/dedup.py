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

from .scale import fill_cluster, fill_cluster_rebalanced


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


def _salted_md5(salt: int, value: Column) -> Column:
    return F.md5(F.concat(F.lit(f"{salt}:"), value))


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


def _vocab_row(shingled: DataFrame, set_col: str = "shingles") -> DataFrame:
    """ONE-row relation holding the sorted global vocabulary of
    `set_col` as an array — the broadcast-able dictionary the bitmask
    encoding reads. gid(gram) = rank in this sorted array, identical to
    the old row_number-over-sorted-vocab assignment."""
    return (shingled.select(F.explode(set_col).alias("gram"))
            .distinct()
            .agg(F.sort_array(F.collect_list("gram")).alias("_vocab")))


def _mask_cols(set_col: str = "shingles") -> tuple[Column, Column]:
    """(sz, mask) Column pair computed ROW-LOCALLY against a `_m`
    gram→gid map column (see bitmask64): sz = |set|, mask = OR of
    1<<gid over the set's grams. The overflow guard lives INSIDE the
    mask fold so the optimizer can never prune it away."""
    mask = F.expr(
        f"aggregate({set_col}, cast(0 as bigint), (acc, g) -> acc | "
        "shiftleft(1L, if(element_at(_m, g) < 64, element_at(_m, g), "
        "cast(raise_error('bitmask64: global vocabulary exceeds 64 "
        "distinct elements') as int))))")
    return F.size(set_col).alias("sz"), mask.alias("mask")


def bitmask64(shingled: DataFrame, id_col: str,
              set_col: str = "shingles") -> DataFrame:
    """Dictionary-encode each row's distinct string set into ONE bigint
    bitmask. Set intersection then costs a single codegen'd
    `bit_count(a & b)` per pair instead of an interpreted
    array_intersect — the verify stage stops being the bottleneck.

    Caller contract: the GLOBAL vocabulary must have ≤ 64 distinct
    elements (pass `vocab_hint` from corpus knowledge — e.g. enum-like
    tag sets) and the sets hold non-null distinct strings. The plan is
    fully lazy (no driver-side probing jobs); a vocabulary overflow
    fails loudly at runtime via raise_error instead of silently
    wrapping shiftleft past bit 63. Returns (id, sz, mask); empty sets
    emit nothing (as before, when the explode emitted no row).

    r15 shape: the dictionary is ONE broadcast row holding the sorted
    vocabulary array; each input row builds a gram→gid map from it and
    folds its own set into the mask — no (id, gram) explode, no
    per-gram dictionary join, no groupBy(id) re-aggregation shuffle.
    gid = rank in the sorted vocabulary, the identical assignment the
    old row_number dictionary produced (and mask VALUES only feed
    bit_count intersections, which are invariant to any consistent
    assignment anyway). Measured in the q_dedup_minhash verify path:
    the mask stage fell from ~1.0 s to the cost of one vocab aggregate.
    """
    sz, mask = _mask_cols(set_col)
    gid_map = F.map_from_arrays(
        F.col("_vocab"), F.sequence(F.lit(0), F.size("_vocab") - 1))
    return (
        shingled.crossJoin(F.broadcast(_vocab_row(shingled, set_col)))
        .withColumn("_m", gid_map)
        .filter(F.size(set_col) > 0)
        .select(F.col(id_col), sz, mask)
    )


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
    distinct shingle sets per doc; explode to (doc, band, hash) — k/rows
    rows per doc, NOT N² — equi-join on (band, hash) for candidates;
    exact-Jaccard verify runs only on candidates. Building the plan
    launches ZERO Spark jobs: physical-strategy choices come from the
    caller's hints, not driver-side counts (at 100 TB a `count()` for a
    broadcast heuristic is a full scan before the real query).

    - `size_hint`: approximate row count of `df` (parquet footer
      metadata, catalog stats — see io.parquet_row_count). When the
      exploded band side fits a broadcast (size_hint·bands ≤ 1M rows)
      the candidate join broadcasts one side so the pair-join OUTPUT
      never hits an exchange. When None/large: plain shuffle equi-join
      on (band, hash) — the standard LSH topology; AQE splits hot
      buckets and still broadcasts at runtime if the side turns out
      tiny.
    - `vocab_hint`: global distinct-shingle count when the caller knows
      it is ≤ 64 (enum-like sets). Enables single-long set encoding:
      verify is `bit_count(mask_a & mask_b)` inline in the same codegen
      stage — no join back to shingle arrays. Real text vocabularies
      leave this None and verify via array_intersect on candidates.
    - `carry_sigs`: additionally emit the two endpoints' signatures as
      16-byte binaries (a_sig_0..k-1 / b_sig_0..k-1) on every pair.
      The calibration consumer (q_minhash_calibration) needs per-pair
      signature agreement; carrying the already-computed sigs through
      the candidate join replaces two whole-corpus signature joins
      back onto the pair stream (r15: measured −0.25 s at sf0.1, plan
      loses 2 BroadcastHashJoins + one signature-projection subtree).
      Adds k·16 B per exploded row, so pair it with the hash-sampled
      calibration contract at corpus scale, not full-corpus runs.

    Two shuffle-killers on top of the naive bucket join:
    - **first-matching-band emission**: a pair sharing several bands is
      emitted only at its LOWEST matching band (post-join predicate: all
      earlier bands differ), so candidates are distinct by construction —
      no N-candidate `distinct()` shuffle. Near-dup-heavy corpora share
      most bands, making that shuffle the dominant cost otherwise.
    """
    toks = tokens(text_col)
    # Shingling + k salted hashes are CPU-bound and sit BELOW any later
    # exchange, so they inherit the scan's split count — rebalance first.
    filled = fill_cluster(df)
    # When fill_cluster DID insert its repartition, the streamed side of
    # the broadcastable candidate join below sits on that explicit
    # (AQE-coalescing-exempt) exchange and needs no further guard. When
    # it no-op'd (input already ≥ cores partitions), the input may
    # descend from an upstream AQE-coalescible exchange — the
    # hamming_segment_pairs single-core trap — so the old explicit
    # probe-side repartition is restored for exactly that case. The
    # branch is read off fill_cluster's own marker, not object identity
    # against our input: a prior fill_cluster OUTPUT routed back in
    # returns via the memo with `filled is df` True although it already
    # sits on its explicit repartition (ADVICE r15).
    guard_probe_side = not fill_cluster_rebalanced(filled)
    shingled = filled.select(
        F.col(id_col),
        F.array_distinct(word_ngrams(toks, shingle_n)).alias("shingles"),
    )
    sigs = shingled.select(
        id_col, "shingles", *minhash_signature(F.col("shingles"), k))
    n_bands = k // rows_per_band
    band_cols = [f"band_{i}" for i in range(n_bands)]
    # carry_sigs transport: 16-byte binaries (unhex halves the exploded
    # row vs the 32-char hex strings; equality — all est needs — is
    # representation-invariant).
    sig_names = [f"sig_{i}" for i in range(k)] if carry_sigs else []
    sig_carry = [F.unhex(F.col(n)).alias(n) for n in sig_names]
    banded = sigs.select(
        id_col, "shingles", *sig_carry, *lsh_band_hashes(k, rows_per_band))

    if vocab_hint is not None and vocab_hint <= 64:
        # Inline (sz, mask) in the SAME projection as the band hashes
        # (r15): the old shape ran bitmask64's (id, gram) explode +
        # dictionary join + groupBy(id) and then a doc_id join back
        # onto `banded` — three extra stages per side, ~1.0 s at sf0.1.
        # Here the sorted vocabulary is ONE broadcast row and the mask
        # is a row-local fold, so the masked projection costs one
        # vocab aggregate plus narrow compute.
        masked = True
        sz, mask = _mask_cols("shingles")
        gid_map = F.map_from_arrays(
            F.col("_vocab"), F.sequence(F.lit(0), F.size("_vocab") - 1))
        # The vocab aggregate reads the RAW scan, not the rebalanced
        # `shingled`: explode→distinct partial-aggregates per
        # partition, so rebalancing first only adds a full shuffle and
        # ~32 extra tasks per candidate-join side (measured ~0.5 s per
        # side at sf0.01, pure stage overhead). At scale the scan's
        # own splits parallelize the distinct.
        raw_grams = df.select(
            F.array_distinct(word_ngrams(tokens(text_col), shingle_n))
            .alias("shingles"))
        banded = (
            banded.crossJoin(F.broadcast(_vocab_row(raw_grams)))
            .withColumn("_m", gid_map)
            .filter(F.size("shingles") > 0)
            .select(id_col, sz, mask, *sig_names,
                    *[f"band_{i}" for i in range(n_bands)])
        )
        payload = ["sz", "mask", *sig_names]
    else:
        masked = None
        payload = ["shingles", *sig_names]

    exploded = banded.select(
        id_col, *payload, *band_cols,
        F.posexplode(F.array(*[F.col(c) for c in band_cols])).alias("bidx", "bh"),
    )
    a = exploded.select(
        F.col(id_col).alias("doc_a"), "bidx", "bh",
        *[F.col(c).alias(f"a_{c}") for c in [*payload, *band_cols]])
    b = exploded.select(
        F.col(id_col).alias("doc_b"), "bidx", "bh",
        *[F.col(c).alias(f"b_{c}") for c in [*payload, *band_cols]])

    # The exploded sides are N·bands rows. Small corpora: broadcast one
    # side, so the N_candidate-row join OUTPUT is produced (and
    # filtered) in parallel with zero shuffle. The streamed side is NOT
    # re-repartitioned when fill_cluster already rebalanced it (r15):
    # it then sits on that explicit repartition (user-specified ⇒
    # AQE-coalescing-exempt, so the probe stays at defaultParallelism),
    # and the removed exchange was reshipping the per-doc shingle
    # arrays — measured on the bigram leg at sf0.1, 1.01 → 0.73 s for
    # the identical pair set (a full join-back rewrite measured 0.79 —
    # keeping arrays on the streamed side and slimming only the
    # exchange wins). When fill_cluster no-op'd (guard_probe_side), the
    # input's own partitioning may be an AQE-coalescible upstream
    # exchange — the same trap hamming_segment_pairs documents, whose
    # streamed side descends from a KB-sized AGGREGATION shuffle — so
    # the explicit repartition is kept for that case (bounded: the
    # broadcastable gate caps this side at ≤ 1M rows). Beyond
    # broadcastable size (or with no hint), the shuffle equi-join on
    # (band, hash) — the standard LSH topology; AQE splits hot buckets.
    broadcastable = size_hint is not None and size_hint * n_bands <= 1_000_000
    first_match = [
        (F.lit(j) >= F.col("bidx"))
        | (F.col(f"a_band_{j}") != F.col(f"b_band_{j}"))
        for j in range(n_bands - 1)
    ]
    if broadcastable:
        probe = a
        if guard_probe_side:
            probe = a.repartition(a.sparkSession.sparkContext.defaultParallelism)
        joined = probe.join(F.broadcast(b), ["bidx", "bh"])
    else:
        joined = a.join(b, ["bidx", "bh"])
    joined = joined.filter(F.col("doc_a") < F.col("doc_b"))
    for cond in first_match:
        joined = joined.filter(cond)

    # jac is emitted UNROUNDED: an integer-count ratio is one IEEE
    # division on exactly-representable operands, so Spark and any
    # oracle engine produce the bit-identical double — rounding it
    # (Spark BigDecimal HALF_UP vs an engine's binary-double round)
    # is the only step that can diverge on .5 boundaries (round-6
    # audit, round 6). The threshold filter compares the unrounded
    # value in BOTH branches for the same reason (the second branch
    # previously filtered the rounded value, which could admit a
    # boundary pair the exact-jaccard oracle rejects).
    carried = [F.col(f"a_{n}") for n in sig_names] + [
        F.col(f"b_{n}") for n in sig_names]
    if masked is not None:
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
        return joined.select("doc_a", "doc_b", jac.alias("jac"), *carried)
    jac = jaccard(F.col("a_shingles"), F.col("b_shingles"))
    return (
        joined.select("doc_a", "doc_b", jac.alias("jac"), *carried)
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
    usually form). The loop stops after `max_iter` rounds and then
    returns the labels as they are, unconverged, without raising: a
    path of more than about `max_iter` hops comes back split into
    several labels. This is label propagation (Hash-Min a la Pregel);
    at 100 TB pre-partition edges by src so each iteration's join is
    co-located.

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
    generation is a bucket equi-join on (segment_idx, segment_value) —
    r+1 rows per doc, never the O(N²) pair space and never the
    C(16,r) bit-flip expansion. Verify is one codegen'd
    `bit_count(a ^ b)` per candidate.

    Same shuffle-killer as minhash_lsh_pairs: a pair agreeing on several
    segments is emitted only at its LOWEST matching segment, so
    candidates are distinct by construction — no distinct() shuffle.

    Scale note: 16 bits (md5-nibble lanes, oracle-checkable in DuckDB)
    is the verification width — segment buckets are 2^4-way and grow
    quadratic with N, fine for verify-scale corpora only. The
    production path is simhash64_pairs: same topology over a 64-bit
    xxhash64-lane fingerprint, where (r+1) segments of ~16 bits keep
    bucket sizes ~N/2^16.
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
    plan-time Spark jobs) picks the candidate-join topology exactly
    like minhash_lsh_pairs: when the exploded segment side provably
    fits a broadcast (size_hint·(r+1) ≤ 1M rows), one side broadcasts
    and the streamed side is EXPLICITLY repartitioned to
    defaultParallelism — the streamed side descends from the
    fingerprint aggregation, whose KB-sized shuffle AQE coalesces to
    1-2 partitions, which then produce the (possibly millions of)
    candidate pairs nearly single-core (measured at sf0.1:
    3.5 s → 0.85 s for q_dedup_simhash_pairs' 7.1M pairs; a
    user-specified repartition is exempt from AQE coalescing). Beyond
    broadcastable size (or with no hint) it stays the plain shuffle
    equi-join on (segment, value) — the corpus-scale topology, where
    partitions are byte-sized and coalescing is not a hazard."""
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

    seg_cols = [seg(j) for j in range(n_seg)]
    seg_names = [f"seg_{j}" for j in range(n_seg)]
    segmented = fp.select(id_col, fp_col, *seg_cols)

    exploded = segmented.select(
        id_col, fp_col, *seg_names,
        F.posexplode(F.array(*[F.col(c) for c in seg_names]))
        .alias("sidx", "sval"),
    )
    a = exploded.select(
        F.col(id_col).alias("doc_a"), "sidx", "sval",
        F.col(fp_col).alias("fp_a"),
        *[F.col(c).alias(f"a_{c}") for c in seg_names])
    b = exploded.select(
        F.col(id_col).alias("doc_b"), "sidx", "sval",
        F.col(fp_col).alias("fp_b"),
        *[F.col(c).alias(f"b_{c}") for c in seg_names])

    n_seg_rows = None if size_hint is None else size_hint * n_seg
    if n_seg_rows is not None and n_seg_rows <= 1_000_000:
        par = fp.sparkSession.sparkContext.defaultParallelism
        joined = a.repartition(par).join(F.broadcast(b), ["sidx", "sval"])
    else:
        joined = a.join(b, ["sidx", "sval"])
    joined = joined.filter(F.col("doc_a") < F.col("doc_b"))
    # First-matching-segment emission: all segments before sidx differ.
    for j in range(n_seg - 1):
        joined = joined.filter(
            (F.lit(j) >= F.col("sidx"))
            | (F.col(f"a_seg_{j}") != F.col(f"b_seg_{j}")))

    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        joined.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash64(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash — the production fingerprint width. Lane j votes
    by bit j of xxhash64(token) over the row's distinct tokens;
    fingerprint bit j = sign of the lane sum. Returns (id, simhash).

    Same physical shape as simhash16 (explode distinct tokens → hash
    ONCE per token → vote columns → one partial-aggregable groupBy),
    but with xxhash64 — a single native 64-bit hash instead of md5
    nibble surgery — and 64 lanes, so segment buckets in
    simhash64_pairs stay ~N/2^16 at corpus scale. Not oracle-checkable
    (DuckDB has no xxhash64); verified by property tests against
    brute-force hamming and by planted-near-dup agreement with the
    16-bit and minhash paths.
    """
    hashed = (
        fill_cluster(df)
        .select(F.col(id_col),
                F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
        .withColumn("h", F.xxhash64(F.col("tok")))
    )
    votes = hashed.select(
        id_col,
        *[
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1).alias(f"v{j}")
            for j in range(64)
        ],
    )
    summed = votes.groupBy(id_col).agg(
        *[F.sum(f"v{j}").alias(f"s{j}") for j in range(64)])
    fp: Column = F.lit(0).cast("bigint")
    for j in range(64):
        # OR the bit in (sum-of-powers would overflow at bit 63).
        fp = fp.bitwiseOR(
            F.when(F.col(f"s{j}") > 0,
                   F.shiftleft(F.lit(1).cast("bigint"), j))
            .otherwise(F.lit(0).cast("bigint")))
    return summed.select(id_col, fp.alias("simhash"))


def simhash64_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs over the 64-bit production fingerprint:
    simhash64 + the same pigeonhole segment equi-join as the 16-bit
    path. With max_hamming=3, candidates bucket on four ~16-bit
    segments — bucket size ~N/2^16, so candidate volume stays linear
    in N for corpus-scale inputs where 16-bit buckets would go
    quadratic."""
    fp = simhash64(df, id_col=id_col, text_col=text_col)
    return hamming_segment_pairs(
        fp, id_col=id_col, fp_col="simhash", bits=64,
        max_hamming=max_hamming)


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
        F.col(id_col),
        F.array_distinct(word_ngrams(tokens(text_col), n)).alias("g"),
    )
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
    u = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
               16, 10).cast("bigint")
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
    the corpus by construction — so its exploded band table is
    BROADCAST: corpus band rows never shuffle, the whole screen is one
    map-side equi-join over the corpus scan plus a verify on the few
    candidates. Same signature/band functions as the self-join path
    (minhash_lsh_pairs), so one corpus-side signature materialization
    can feed both. Candidates are deduped by first-matching-band
    emission (no distinct() shuffle), exactly as in the self-join."""
    n_bands = k // rows_per_band
    band_cols = [f"band_{i}" for i in range(n_bands)]

    def sig_bands(df: DataFrame) -> DataFrame:
        shingled = df.select(
            F.col(id_col),
            F.array_distinct(
                word_ngrams(tokens(text_col), shingle_n)).alias("shingles"))
        sigs = shingled.select(
            id_col, "shingles", *minhash_signature(F.col("shingles"), k))
        return sigs.select(id_col, "shingles",
                           *lsh_band_hashes(k, rows_per_band))

    def explode_bands(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col("shingles").alias(f"{prefix}_sh"),
            *[F.col(c).alias(f"{prefix}_{c}") for c in band_cols],
            F.posexplode(F.array(*[F.col(c) for c in band_cols]))
            .alias("bidx", "bh"))

    a = explode_bands(sig_bands(fill_cluster(corpus)), "c")
    b = explode_bands(sig_bands(probe), "p")

    joined = a.join(F.broadcast(b), ["bidx", "bh"])
    for j in range(n_bands - 1):
        joined = joined.filter(
            (F.lit(j) >= F.col("bidx"))
            | (F.col(f"c_band_{j}") != F.col(f"p_band_{j}")))

    jac = jaccard(F.col("c_sh"), F.col("p_sh"))
    return (joined
            .select(F.col("c_id").alias("doc_id"),
                    F.col("p_id").alias("probe_id"),
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
