"""Part E — corpus-scale curation additions: semantic dedup
(SemDeDup), winnowing fingerprints, cross-corpus fuzzy
decontamination, DSIR-style importance weights, per-source capping,
snapshot diffing, perceptual-hash media near-dup, k-anonymity audit,
lexical diversity.

Reference parity note: none of this exists in the reference (its
pipeline is Kafka→decode→ES, src/kafka/consumer.go + src/elasticsearch/
elasticsearch.go); these are the training-corpus extension operators
(mandate: "the operations a large-scale training-data pipeline would
need").

Cross-engine determinism notes specific to this file:
- The k-means replay is INTEGER-exact end to end (quantized vectors,
  BIGINT distances, floor-div centroid updates, id tie-breaks), so
  the oracle replays every Lloyd iteration bit-identically — see
  operators/semdedup.py.
- All emitted ratios are integer-count or integer-operand IEEE
  divisions (bit-identical across engines, ROUNDING.md); no libm in
  any output lane. The DSIR weight deliberately uses a count-weighted
  odds ratio instead of the paper's Σlog form for exactly this reason.
- md5 is the shared hash primitive (hex-string parity everywhere;
  '0x'||substr cast in DuckDB ↔ conv(…,16,10) in Spark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from .part_c import _DD_BANDS, _DD_SIGS
from .registry import register

# ===================================================================
# SemDeDup: integer-exact k-means + within-cluster cosine pruning
# ===================================================================

_KM_K, _KM_ITERS, _KM_DIM = 8, 2, 64
_SEM_THRESH = 0.2

_KM_DIST = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(range(1, {dim}), "
            "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
            "(acc, x) -> acc + x)").format


def _km_assign_cte(cent: str, out: str) -> str:
    d = _KM_DIST(a="v.q", b="c.c", dim=_KM_DIM + 1)
    return f"""{out} AS (
      SELECT vec_id, q, cluster, d FROM (
        SELECT v.vec_id, v.q, c.cluster, {d} AS d,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id
                 ORDER BY {d}, c.cluster) AS rn
        FROM qv v CROSS JOIN {cent} c) t
      WHERE rn = 1
    )"""


def _km_update_cte(assign: str, out: str) -> str:
    return f"""{out} AS (
      SELECT cluster, list(s ORDER BY pos) AS c FROM (
        SELECT cluster, pos,
               CAST(floor(CAST(SUM(q[pos]) AS DOUBLE) / COUNT(*))
                 AS BIGINT) AS s
        FROM {assign}, (SELECT unnest(range(1, {_KM_DIM + 1})) AS pos) r
        GROUP BY cluster, pos) t
      GROUP BY cluster
    )"""


def _km_ctes() -> str:
    """The full deterministic-Lloyd replay: quantize, k lowest-id
    seeds, then `_KM_ITERS` × (assign, update) and a final assign —
    mirrors operators/semdedup.kmeans_assign exactly."""
    parts = [f"""qv AS (
      SELECT vec_id, list_transform(embedding,
        x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q
      FROM embeddings
    ), c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster, q AS c
      FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT {_KM_K}) s
    )"""]
    for it in range(_KM_ITERS):
        parts.append(_km_assign_cte(f"c{it}", f"a{it}"))
        parts.append(_km_update_cte(f"a{it}", f"c{it + 1}"))
    parts.append(_km_assign_cte(f"c{_KM_ITERS}", f"a{_KM_ITERS}"))
    return ", ".join(parts)


@register(
    "q_semdedup_kmeans",
    f"""
    WITH {_km_ctes()}
    SELECT vec_id, CAST(cluster AS INTEGER) AS cluster,
           CAST(d AS BIGINT) AS dist_sq
    FROM a{_KM_ITERS}
    """,
    doc="Deterministic integer Lloyd's k-means over the embedding "
        "corpus (quantize → exact BIGINT argmin → floor-div centroid "
        "update, ties on cluster id) — an oracle-replayable stand-in "
        "for pyspark.ml's float KMeans. Assignment is one "
        "narrow codegen scan (centroids are plan literals); update is "
        "one partial-aggregated groupBy collecting k×(dim+1) longs.",
)
def q_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import semdedup as SD

    return SD.kmeans_assign(table(spark, sf_dir, "embeddings"),
                            k=_KM_K, iters=_KM_ITERS, dim=_KM_DIM)


_SEM_DOT = ("list_reduce(list_prepend(0.0, list_transform("
            f"range(1, {_KM_DIM + 1}), "
            "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
            "(acc, x) -> acc + x)").format
_SEM_NORM = ("sqrt(list_reduce(list_prepend(0.0, list_transform({v}, "
             "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
             "(acc, x) -> acc + x))").format


@register(
    "q_semdedup_prune",
    f"""
    WITH {_km_ctes()},
    sizes AS (
      SELECT cluster, COUNT(*) AS n_docs FROM a{_KM_ITERS} GROUP BY cluster
    ), pr AS (
      SELECT a.cluster, b.vec_id AS vb,
             {_SEM_DOT(a='ea.embedding', b='eb.embedding')}
               / ({_SEM_NORM(v='ea.embedding')}
                  * {_SEM_NORM(v='eb.embedding')}) AS cs
      FROM a{_KM_ITERS} a JOIN a{_KM_ITERS} b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
    ), dups AS (
      SELECT cluster, COUNT(*) AS n_dup_pairs,
             COUNT(DISTINCT vb) AS n_pruned
      FROM pr WHERE cs >= {_SEM_THRESH} GROUP BY cluster
    )
    SELECT CAST(s.cluster AS INTEGER) AS cluster,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(n_pruned, 0) AS BIGINT) AS n_pruned
    FROM sizes s LEFT JOIN dups d ON s.cluster = d.cluster
    """,
    doc="SemDeDup (arXiv:2303.09540) pruning summary: within-cluster "
        "cosine pairs ≥ τ, keep-lowest-id. The cluster equi-join "
        "confines the quadratic stage to one cluster block at a time — "
        "worst cost Σ|cluster|², never N²; cosine is the dimension-"
        "sequential fold, bit-identical to the oracle's list_reduce.",
)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import semdedup as SD

    return SD.semdedup_cluster_stats(
        table(spark, sf_dir, "embeddings"), threshold=_SEM_THRESH,
        k=_KM_K, iters=_KM_ITERS, dim=_KM_DIM)


# ===================================================================
# Corpus snapshot diff
# ===================================================================


@register(
    "q_corpus_diff",
    """
    WITH old AS (
      SELECT doc_id, md5(text) AS digest, n_chars
      FROM documents WHERE doc_id % 10 <> 7
    ), new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                      ELSE text END) AS digest,
             n_chars
      FROM documents WHERE doc_id % 10 <> 3
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.digest IS DISTINCT FROM n.digest THEN 'changed'
                  ELSE 'unchanged' END AS status,
             COALESCE(n.n_chars, o.n_chars) AS n_chars
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id) t
    GROUP BY status
    """,
    doc="Corpus snapshot diff (operators/maintenance.corpus_diff): "
        "digest-compare two release versions via ONE full-outer join "
        "on the id, roll up added/removed/changed/unchanged. The "
        "incremental-reprocessing precursor: only added+changed "
        "re-enter the pipeline. Snapshots here are two deterministic "
        "views of the documents table (id-modulus membership, ' v2' "
        "content perturbation).",
)
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.maintenance import corpus_diff

    docs = table(spark, sf_dir, "documents")
    old = (docs.filter(F.col("doc_id") % 10 != 7)
           .select("doc_id", F.md5("text").alias("digest"), "n_chars"))
    new_text = F.when(F.col("doc_id") % 5 == 0,
                      F.concat(F.col("text"), F.lit(" v2"))) \
        .otherwise(F.col("text"))
    new = (docs.filter(F.col("doc_id") % 10 != 3)
           .select("doc_id", F.md5(new_text).alias("digest"), "n_chars"))
    return (corpus_diff(old, new)
            .groupBy("status")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("total_chars")))


# ===================================================================
# Per-source frequency capping
# ===================================================================

_CAP = 10


@register(
    "q_domain_cap",
    f"""
    WITH r AS (
      SELECT source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
               <= {_CAP} AS kept
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS retention
    FROM r GROUP BY source
    """,
    doc="Per-source frequency capping (the CCNet/RefinedWeb domain "
        "quota, operators/curation.cap_per_source): deterministic "
        "keep-lowest-id quota per source + retention rollup. One "
        "window per source partition; retention is an integer-count "
        "ratio (bit-exact).",
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import cap_per_source

    capped = cap_per_source(table(spark, sf_dir, "documents"), _CAP)
    kept1 = F.when(F.col("kept"), 1).otherwise(0)
    n = F.count(F.lit(1))
    return (capped.groupBy("source")
            .agg(n.cast("bigint").alias("n_total"),
                 F.sum(kept1).cast("bigint").alias("n_kept"),
                 F.sum(1 - kept1).cast("bigint").alias("n_dropped"),
                 (F.sum(kept1).cast("double") / n).alias("retention")))


# ===================================================================
# Cross-corpus fuzzy decontamination (MinHash LSH, probe broadcast)
# ===================================================================

_FD_MOD, _FD_THRESH, _FD_SHINGLE = 29, 0.5, 2


@register(
    "q_decontaminate_fuzzy",
    f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(CASE WHEN len(t) >= {_FD_SHINGLE}
        THEN list_transform(
          range(1, len(t) - {_FD_SHINGLE} + 2),
          i -> array_to_string(t[i:i+{_FD_SHINGLE}-1], ' '))
        ELSE [] END) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ), sigs AS (
      SELECT doc_id, {_DD_SIGS} FROM toks
    ), banded AS (
{_DD_BANDS}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS probe_id
      FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
      WHERE a.doc_id % {_FD_MOD} <> 0 AND b.doc_id % {_FD_MOD} = 0
    )
    SELECT cand.doc_id AS doc_id, cand.probe_id AS probe_id,
           CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
             / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh)))
             AS jac
    FROM cand
      JOIN toks ta ON ta.doc_id = cand.doc_id
      JOIN toks tb ON tb.doc_id = cand.probe_id
    WHERE CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
          / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh)))
          >= {_FD_THRESH}
    """,
    doc="FUZZY decontamination (complements q_decontaminate's exact "
        "n-gram screen): MinHash-over-bigram-shingles LSH candidates "
        "between corpus and held-out set (doc_id % 29 = 0 plays the "
        "benchmark), exact-Jaccard verify ≥ 0.5 — catches paraphrased/"
        "perturbed leakage; bigram shingles keep the screen "
        "discriminative on small shared vocabularies. "
        "The probe band table BROADCASTS (benchmarks are tiny), so "
        "corpus bands never shuffle: one map-side equi-join over the "
        "corpus scan (operators/dedup.minhash_lsh_pairs_cross).",
)
def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_lsh_pairs_cross

    docs = table(spark, sf_dir, "documents")
    return minhash_lsh_pairs_cross(
        docs.filter(F.col("doc_id") % _FD_MOD != 0),
        docs.filter(F.col("doc_id") % _FD_MOD == 0),
        shingle_n=_FD_SHINGLE, threshold=_FD_THRESH)


# ===================================================================
# Winnowing fingerprints (MOSS)
# ===================================================================

_WIN_K, _WIN_W = 3, 4

# Shared oracle fragment: the winnowing selection set (doc_id, n_grams,
# fused min-key s) — replays _winnow_doc_arrays' array algebra as an
# explode + window. Reused by q_winnow_fingerprints here and the
# pair-discovery query in part_f.
_WINNOW_SEL_CTES = f"""t AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), g0 AS (
      SELECT doc_id, len(tk) - {_WIN_K - 1} AS n_grams, tk,
             unnest(range(1, greatest(len(tk) - {_WIN_K - 1}, 0) + 1))
               AS pos
      FROM t
    ), g AS (
      SELECT doc_id, n_grams, pos,
             CAST('0x' || substr(md5(tk[pos] || ' ' || tk[pos+1] || ' '
                                     || tk[pos+2]), 1, 8) AS BIGINT)
               * 65536 + (65535 - pos) AS enc
      FROM g0
    ), sel AS (
      SELECT DISTINCT doc_id, n_grams,
             MIN(enc) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {_WIN_W - 1} FOLLOWING) AS s
      FROM g
      QUALIFY pos <= n_grams - {_WIN_W - 1}
    )"""


@register(
    "q_winnow_fingerprints",
    f"""
    WITH {_WINNOW_SEL_CTES}
    SELECT doc_id, CAST(MIN(n_grams) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(COUNT(*) AS DOUBLE) / MIN(n_grams) AS density
    FROM sel GROUP BY doc_id
    """,
    doc="Winnowing fingerprint sketch (Schleimer et al., SIGMOD'03 — "
        "MOSS): word 3-gram hashes, window-4 rightmost-minimum "
        "selection fused into one bigint key so plain window MIN "
        "implements the tie-break; per-doc sketch density ≈ 2/(w+1). "
        "operators/text.winnow_stats — the whole sketch is row-local "
        "array algebra (transform/slice/array_min/array_distinct): a "
        "narrow projection with no aggregation exchange (plan-gated; "
        "r15 adds the standard fill_cluster scan rebalance below it "
        "so the interpreted md5 sketch uses the cluster on few-split "
        "inputs — a no-op at real scale); density is an integer "
        "ratio (bit-exact).",
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import fill_cluster
    from ..operators.text import winnow_stats

    # Rebalance the raw scan below the sketch projection (r15): the
    # md5 k-gram transform is interpreted HOF work that otherwise runs
    # on the scan's single sf0.1 split (measured 0.56 s → 0.37 s with
    # the shuffle included; the guard no-ops at real scale).
    return winnow_stats(
        fill_cluster(table(spark, sf_dir, "documents")
                     .select("doc_id", "text")),
        k=_WIN_K, w=_WIN_W)


# ===================================================================
# Perceptual-hash media near-dup
# ===================================================================

_PH_BITS, _PH_MAX_HAMMING = 32, 4

# Lane width mirrors the Spark operator: floor(n/bits) per chunk, the
# LAST chunk absorbing the n mod bits remainder (substr length past the
# end clamps in both engines) so every payload byte is hashed.
_PH_LANES = " + ".join(
    f"""CASE WHEN strpos('89abcdef', substr(md5(
        substr(text, 1 + {j} * cl,
               {'length(text)' if j == _PH_BITS - 1 else 'cl'})), 1, 1)) > 0
        THEN CAST({1 << j} AS BIGINT) ELSE 0 END"""
    for j in range(_PH_BITS))


@register(
    "q_media_phash_pairs",
    f"""
    WITH ph AS (
      SELECT doc_id, {_PH_LANES} AS phash
      FROM (SELECT doc_id, text,
                   greatest(CAST(floor(length(text) / {_PH_BITS})
                            AS INTEGER), 1) AS cl
            FROM documents) t
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM ph a JOIN ph b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {_PH_MAX_HAMMING}
    """,
    doc="Near-dup media detection over the BINARY column: 32-bit "
        "block-hash fingerprint (payload split into 32 chunks, last "
        "chunk absorbing the remainder so the tail is hashed too, "
        "bit = md5 nibble of the chunk — identical blocks agree, "
        "ssdeep/blockhash family) + pigeonhole hamming join ≤ 4 via "
        "dedup.hamming_segment_pairs — the same Manku topology as "
        "simhash, never O(N²) discovery. Decode is the deterministic "
        "stub (multimodal.perceptual_hash docstring); everything "
        "downstream is the production path.",
)
def q_media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import parquet_row_count
    from ..operators.dedup import hamming_segment_pairs
    from ..operators.multimodal import attach_media, perceptual_hash

    ph = perceptual_hash(
        attach_media(table(spark, sf_dir, "documents")), bits=_PH_BITS)
    return hamming_segment_pairs(
        ph, id_col="doc_id", fp_col="phash", bits=_PH_BITS,
        max_hamming=_PH_MAX_HAMMING,
        size_hint=parquet_row_count(sf_dir, "documents"),
    ).withColumn("hamming", F.col("hamming").cast("int"))


# ===================================================================
# k-anonymity audit
# ===================================================================

_KANON_K = 3


@register(
    "q_kanonymity",
    f"""
    WITH g AS (
      SELECT c_mktsegment AS report, c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             COUNT(*) AS n
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT report, CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suppressed_groups,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_suppressed,
           CAST(SUM(CASE WHEN n >= {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_kept
    FROM g GROUP BY report
    """,
    doc="k-anonymity release audit (operators/curation."
        "k_anonymity_audit): quasi-identifier combinations (nation, "
        "segment, balance band) occurring < k are re-identifiable and "
        "counted for suppression, rolled up per segment. Complements "
        "q_pii_scrub (direct identifiers) with the INDIRECT-identifier "
        "gate. Two partial-aggregable hash aggregations.",
)
def q_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import k_anonymity_audit

    cust = table(spark, sf_dir, "customer")
    return k_anonymity_audit(
        cust,
        [F.col("c_nationkey"),
         F.floor(F.col("c_acctbal") / 1000).cast("bigint")
         .alias("bal_band")],
        k=_KANON_K, report_col="c_mktsegment")


# ===================================================================
# Lexical diversity (Rényi-2 surrogate — exact, no libm)
# ===================================================================


@register(
    "q_lexical_diversity",
    """
    WITH c AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents) t
      GROUP BY doc_id, tok
    )
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS DOUBLE) / SUM(c) AS type_token_ratio,
           CAST(SUM(c * c) AS DOUBLE) / (SUM(c) * SUM(c))
             AS repetition_index
    FROM c GROUP BY doc_id
    """,
    doc="Per-doc lexical diversity (operators/text.lexical_diversity): "
        "type/token ratio + token-collision probability Σc²/n² (the "
        "Rényi-2 entropy surrogate — exact integer ratios instead of "
        "Shannon's libm logs, same quality-filter ordering).",
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import lexical_diversity

    return lexical_diversity(table(spark, sf_dir, "documents"))


# ===================================================================
# DSIR-style importance weights (exact odds-ratio variant)
# ===================================================================

_DSIR_BUCKETS = 256


@register(
    "q_dsir_weights",
    f"""
    WITH base AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT)
               % {_DSIR_BUCKETS} AS bucket
      FROM (SELECT doc_id, lang,
                   unnest(CASE WHEN len(t) >= 2 THEN list_transform(
                     range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                   ELSE [] END) AS gram
            FROM base) x
    ), dc AS (
      SELECT doc_id, bucket, COUNT(*) AS c FROM g GROUP BY doc_id, bucket
    ), rp AS (
      SELECT bucket, SUM(c) AS r FROM dc GROUP BY bucket
    ), tp AS (
      SELECT bucket, COUNT(*) AS tc FROM g WHERE lang = 'en'
      GROUP BY bucket
    )
    SELECT doc_id,
           CAST(SUM(c * (COALESCE(tc, 0) + 1)) AS BIGINT) AS score_num,
           CAST(SUM(c * (r + 1)) AS BIGINT) AS score_den,
           CAST(SUM(c * (COALESCE(tc, 0) + 1)) AS DOUBLE)
             / SUM(c * (r + 1)) AS weight
    FROM dc JOIN rp USING (bucket) LEFT JOIN tp USING (bucket)
    GROUP BY doc_id
    """,
    doc="DSIR-flavored importance weights (arXiv:2302.03169, "
        "operators/curation.dsir_weights): hashed-bigram profile "
        "odds-ratio of target (lang='en') vs raw corpus, add-one "
        "smoothed. Exact-arithmetic variant of the paper's Σlog form "
        "(same ranking, no libm). The two 256-row profiles broadcast "
        "back onto per-doc counts — corpus text shuffles only as "
        "(doc, bucket, count) triples.",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import dsir_weights

    docs = table(spark, sf_dir, "documents")
    return dsir_weights(docs, docs.filter(F.col("lang") == "en"),
                        n_buckets=_DSIR_BUCKETS)
