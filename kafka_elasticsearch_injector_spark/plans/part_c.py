"""Part C — LLM-data-pipeline extension (SURVEY.md §2.3) on
`documents` / `embeddings`.

These are the operators a 100 TB training-data pipeline needs that the
reference (a row-at-a-time ETL injector) never had: dedup families,
similarity search, text analysis, multimodal plumbing. Implementations
live in operators/{dedup,similarity,text,multimodal}.py; this module
declares the oracle-checkable query surface over them.

Determinism: every hash used by dedup/fingerprint queries is md5 (present
in both Spark and DuckDB with identical hex output), so oracles replicate
the exact hash pipeline rather than trusting engine-specific hash fns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..io import table
from ..operators.scale import fill_cluster
from .registry import register

# ------------------------------------------------------------------ dedup


@register(
    "q_dedup_exact",
    """
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents) t
    WHERE rn = 1
    """,
    doc="Exact dedup: hash-groupBy on the binary sha2(text) digest, "
        "min-doc_id representative via a min_by HASH aggregate — the "
        "same shape as the curation pipeline's internal dedup (no "
        "row_number sort-window, so no per-partition sort and partial "
        "aggregation combines map-side). At 100 TB we shuffle the "
        "32-byte digest, never the document text; oracle partitions by "
        "text (equivalent modulo sha collisions).",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    rep = (
        docs.select(F.unhex(F.sha2(F.col("text"), 256)).alias("h"),
                    "doc_id", "lang", "source")
        .groupBy("h")
        .agg(F.min_by(F.struct("doc_id", "lang", "source"), "doc_id").alias("s"))
    )
    return rep.select(F.col("s.doc_id").alias("doc_id"),
                      F.col("s.lang").alias("lang"),
                      F.col("s.source").alias("source"))


# ------------------------------------------------------------ text analysis


@register(
    "q_text_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
             AS avg_words,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    doc="Text-analysis profile per language: doc counts, char/word averages.",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    words = F.size(F.split(F.col("text"), " ", -1))
    return docs.groupBy("lang").agg(
        n.alias("n_docs"),
        (F.sum("n_chars").cast("double") / n).alias("avg_chars"),
        (F.sum(words.cast("bigint")).cast("double") / n).alias("avg_words"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "q_lang_dist",
    """
    SELECT lang, source, COUNT(*) AS n_docs FROM documents
    GROUP BY lang, source
    """,
    doc="Corpus profiling: language × source distribution.",
)
def q_lang_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ------------------------------------------------------------- vector math

# DuckDB fragment: explicitly sequential double-precision reductions so the
# oracle walks the same IEEE ops as functions/vectors.py (F.aggregate).
_DD_SQNORM = ("list_reduce(list_prepend(0.0, "
              "list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
              "(acc, x) -> acc + x)")


@register(
    "q_embed_norm",
    f"""
    SELECT vec_id, label,
           SQRT({_DD_SQNORM.format(v='embedding')}) AS l2_norm
    FROM embeddings
    """,
    doc="L2 norm over array<float> via higher-order fns (JVM-side, no UDF).",
)
def q_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label",
        V.l2_norm(V.to_double(F.col("embedding"))).alias("l2_norm"),
    )


_DD_DOT = ("list_reduce(list_prepend(0.0, "
           "list_transform(range(1, 65), "
           "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), "
           "(acc, x) -> acc + x)")


@register(
    "q_cosine_topk",
    f"""
    SELECT probe_id, vec_id, cos_sim, rn FROM (
      SELECT a.vec_id AS probe_id, b.vec_id AS vec_id,
             {_DD_DOT}
               / (SQRT({_DD_SQNORM.format(v='a.embedding')})
                  * SQRT({_DD_SQNORM.format(v='b.embedding')}))
               AS cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY {_DD_DOT}
                        / (SQRT({_DD_SQNORM.format(v='a.embedding')})
                           * SQRT({_DD_SQNORM.format(v='b.embedding')})) DESC,
                        b.vec_id) AS rn
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < 5) t
    WHERE rn <= 5
    """,
    doc="Brute-force cosine top-k: probes (vec_id<5) × corpus, "
        "zip_with/aggregate dot product, row_number top-5 per probe. "
        "Probes broadcast; scale path = IVF/LSH (operators/similarity.py).",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    probes = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("probe_id"),
                V.to_double(F.col("embedding")).alias("probe_vec"))
    )
    # Interpreted-HOF cosine below the broadcast join — spread the scan.
    corpus = fill_cluster(emb).select(
        "vec_id", V.to_double(F.col("embedding")).alias("vec"))
    cos = V.cosine(F.col("probe_vec"), F.col("vec"))
    w = Window.partitionBy("probe_id").orderBy(F.col("_cos").desc(), F.col("vec_id"))
    return (
        F.broadcast(probes)
        .join(corpus, F.col("probe_id") != F.col("vec_id"))
        .select("probe_id", "vec_id", cos.alias("_cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "vec_id", F.col("_cos").alias("cos_sim"), "rn")
    )


# ===================================================================
# Dedup family (operators/dedup.py) — every strategy oracle-checked.
# ===================================================================

_MINHASH_K, _MINHASH_ROWS, _MINHASH_THRESH = 8, 2, 0.8

_DD_SIGS = ", ".join(
    f"list_min(list_transform(sh, s -> md5('{i}:' || s))) AS sig_{i}"
    for i in range(_MINHASH_K))
_DD_BANDS = "\n      UNION ALL\n".join(
    f"      SELECT doc_id, {b} AS band, "
    f"md5('{b}' || '|' || sig_{2*b} || '|' || sig_{2*b+1}) AS bh FROM sigs"
    for b in range(_MINHASH_K // _MINHASH_ROWS))


def _minhash_pairs_sql(threshold: float, shingle_n: int = 1,
                       rel: str = "documents") -> str:
    """Oracle fragment: MinHash(k=8)+LSH(4×2) candidate pairs verified at
    exact Jaccard ≥ `threshold` — reused by q_dedup_minhash and the
    scale-path clustering oracle. `shingle_n` > 1 shingles into word
    n-grams (mirrors operators/dedup.word_ngrams: space-joined,
    short docs shingle to []). `rel` lets a caller point the fragment
    at a CTE (e.g. a hash-sampled sub-corpus) instead of the base
    table — DuckDB forbids a non-recursive CTE shadowing it."""
    if shingle_n == 1:
        toks_body = f"""
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS sh
      FROM {rel}"""
    else:
        toks_body = f"""
      SELECT doc_id, list_distinct(CASE WHEN len(t) >= {shingle_n}
        THEN list_transform(
          range(1, len(t) - {shingle_n} + 2),
          i -> array_to_string(t[i:i+{shingle_n}-1], ' '))
        ELSE [] END) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM {rel})"""
    return f"""
    WITH toks AS ({toks_body}
    ), sigs AS (
      SELECT doc_id, {_DD_SIGS} FROM toks
    ), banded AS (
{_DD_BANDS}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.bh = b.bh
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
             / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh)))
             AS jac
    FROM cand
      JOIN toks ta ON ta.doc_id = doc_a
      JOIN toks tb ON tb.doc_id = doc_b
    WHERE CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
          / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh)))
          >= {threshold}
    """


@register(
    "q_dedup_minhash",
    _minhash_pairs_sql(_MINHASH_THRESH),
    doc="MinHash(k=8) + LSH(4 bands × 2) near-dup pairs, exact-Jaccard "
        "verified at ≥0.8. The 100 TB dedup path: O(N) signatures, "
        "bucket equi-join, verify only candidates.",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import parquet_row_count, small_vocab_probe
    from ..operators import dedup as D

    # Hints from driver-side parquet reads, zero Spark jobs at plan
    # build: footer row count picks the broadcast LSH topology, and the
    # bounded vocabulary probe enables the single-long set encoding
    # (bit_count verify) when the corpus vocabulary fits 64 bits —
    # real text exits the probe on its first batch and verifies via
    # array_intersect instead.
    return D.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"),
        k=_MINHASH_K, rows_per_band=_MINHASH_ROWS,
        shingle_n=1, threshold=_MINHASH_THRESH,
        size_hint=parquet_row_count(sf_dir, "documents"),
        vocab_hint=small_vocab_probe(sf_dir, "documents"),
    )


_DD_SIMHASH_LANES = " + ".join(
    f"""CASE WHEN list_reduce(list_prepend(0, list_transform(sh,
        t -> CASE WHEN strpos('89abcdef', substr(md5(t), {j + 1}, 1)) > 0
             THEN 1 ELSE -1 END)), (acc, x) -> acc + x) > 0
        THEN {2 ** j} ELSE 0 END"""
    for j in range(16))


@register(
    "q_dedup_simhash",
    f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS sh
      FROM documents
    )
    SELECT doc_id, CAST({_DD_SIMHASH_LANES} AS BIGINT) AS simhash
    FROM toks
    """,
    doc="16-lane SimHash fingerprint from md5 nibbles — O(N); the only "
        "shuffle is the partial-aggregated groupBy(id) vote sum moving "
        "16 small ints per token (operators/dedup.py simhash16). "
        "Near-dups collide or differ in few bits.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    return D.simhash16(table(spark, sf_dir, "documents"))


_SIMHASH_MAX_HAMMING = 3


@register(
    "q_dedup_simhash_pairs",
    f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS sh
      FROM documents
    ), fp AS (
      SELECT doc_id, CAST({_DD_SIMHASH_LANES} AS BIGINT) AS simhash
      FROM toks
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
    """,
    doc="SimHash near-dup PAIRS at hamming ≤ 3 via the Manku multi-index "
        "topology: r+1 bit-segment buckets (pigeonhole guarantees a "
        "full-segment collision), equi-join per bucket, bit_count(xor) "
        "verify on candidates only — never O(N²), never bit-flip "
        "expansion. Completes the simhash path from fingerprints to the "
        "same pair output shape as the minhash path. Bench floor note "
        "(r4, sf0.1): ~2.2-2.7 s of which the dominant cost is OUTPUT "
        "materialization — the 16-bit declared fingerprint emits ~7.1M "
        "qualifying pairs at sf0.1, so wall-clock tracks result volume, "
        "not candidate discovery; run-to-run variance in this range is "
        "sink/GC noise, not plan regression. The production 64-bit path "
        "(operators/dedup.py) emits sparse pairs and has no such floor.",
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import dedup as D

    from ..io import parquet_row_count

    return D.simhash_pairs(
        table(spark, sf_dir, "documents"),
        max_hamming=_SIMHASH_MAX_HAMMING,
        size_hint=parquet_row_count(sf_dir, "documents"),
    ).withColumn("hamming", F.col("hamming").cast("int"))


_NGRAM_N, _NGRAM_THRESH = 2, 0.08


def _ngram_pairs_sql(threshold: float, rel: str = "documents") -> str:
    """Oracle fragment: exact 2-gram Jaccard pairs (doc_a < doc_b) at
    `threshold` — reused by q_dedup_ngram and the clustering oracle.
    `rel` retargets the fragment at a CTE (see _minhash_pairs_sql)."""
    return f"""
    WITH grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
               AS g
      FROM {rel}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jac
    FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
          / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= {threshold}
    """


@register(
    "q_dedup_ngram",
    _ngram_pairs_sql(_NGRAM_THRESH),
    doc="Exact 2-gram Jaccard pairs ≥0.08 — quadratic verify baseline; "
        "at scale runs only after LSH blocking.",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    from ..io import parquet_row_count

    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), n=_NGRAM_N, threshold=_NGRAM_THRESH,
        size_hint=parquet_row_count(sf_dir, "documents"))


_CLUSTER_THRESH = 0.5


@register(
    "q_dedup_cluster",
    f"""
    WITH RECURSIVE
    pairs AS ({_ngram_pairs_sql(_CLUSTER_THRESH)}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    walk(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, w.label FROM walk w JOIN edges e ON e.dst = w.node
    )
    SELECT node AS doc_id, MIN(label) AS cluster_id,
           (node = MIN(label)) AS is_canonical
    FROM walk GROUP BY node
    """,
    doc="Duplicate-cluster resolution: near-dup pairs (2-gram Jaccard "
        "≥0.5) → connected components → cluster id = min doc_id, which "
        "doubles as the canonical-keeper pick. Spark side is iterative "
        "min-label propagation (operators/dedup.py connected_components); "
        "oracle is a recursive-CTE transitive closure — same fixpoint.",
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as D

    from ..io import parquet_row_count

    docs = table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, n=_NGRAM_N, threshold=_CLUSTER_THRESH,
                                  size_hint=parquet_row_count(sf_dir, "documents"))
    return D.dedup_clusters(docs.select("doc_id"), pairs)


_CLUSTER_SHINGLE_N = 2

# Oracle fragments shared by q_dedup_minhash_cluster and
# q_dedup_cluster_sizes: LSH pair discovery (bigram shingles),
# symmetric edges, recursive transitive closure, per-node min label.
_MH_CLUSTER_CTES = f"""pairs AS (
      {_minhash_pairs_sql(_MINHASH_THRESH, _CLUSTER_SHINGLE_N)}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    walk(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, w.label FROM walk w JOIN edges e ON e.dst = w.node
    )"""

_MH_CLUSTER_SELECT = """
    SELECT node AS doc_id, MIN(label) AS cluster_id,
           (node = MIN(label)) AS is_canonical
    FROM walk GROUP BY node"""


@register(
    "q_dedup_minhash_cluster",
    f"WITH RECURSIVE {_MH_CLUSTER_CTES} {_MH_CLUSTER_SELECT}",
    doc="The 100 TB dedup pipeline END TO END: MinHash+LSH pair "
        "discovery (O(N) signatures, bucket equi-join — never all-pairs) "
        "→ connected components → canonical pick. q_dedup_cluster proves "
        "the same clustering over the exact quadratic pair source; this "
        "query proves it over the pruned LSH source actually usable at "
        "scale. Bigram shingles (vs q_dedup_minhash's unigrams): the "
        "synthetic corpus draws from a ~31-token vocabulary, so unigram "
        "SETS collide pathologically (24% of all pairs pass 0.8 Jaccard "
        "— a near-quadratic edge graph that no real dedup corpus "
        "exhibits); bigrams make shingle sets distinctive and the edge "
        "graph sparse, which is the regime clustering-after-LSH is for. "
        "Oracle: recursive-CTE closure over the minhash-pair CTE.",
)
def q_dedup_minhash_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import parquet_row_count
    from ..operators import dedup as D

    docs = table(spark, sf_dir, "documents")
    # No vocab_hint: the bigram vocabulary (~31² combinations) exceeds
    # the 64-element bitmask encoding; verify is array_intersect on the
    # (now sparse) candidate set.
    pairs = D.minhash_lsh_pairs(
        docs, k=_MINHASH_K, rows_per_band=_MINHASH_ROWS,
        shingle_n=_CLUSTER_SHINGLE_N, threshold=_MINHASH_THRESH,
        size_hint=parquet_row_count(sf_dir, "documents"),
    )
    return D.dedup_clusters(docs.select("doc_id"), pairs)


@register(
    "q_dedup_cluster_sizes",
    f"""
    WITH RECURSIVE {_MH_CLUSTER_CTES},
    clusters AS ({_MH_CLUSTER_SELECT})
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM clusters GROUP BY cluster_id)
    GROUP BY cluster_size
    """,
    doc="The dedup run's summary report: duplicate-cluster size "
        "histogram (size 1 = unique docs) over the end-to-end "
        "MinHash→LSH→connected-components clustering. Two tiny "
        "aggregations over the (doc, cluster) labels — the output a "
        "curation run logs to decide whether dedup thresholds are "
        "tuned right; at 100 TB the histogram is KB-sized regardless "
        "of corpus size.",
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    clusters = q_dedup_minhash_cluster(spark, sf_dir)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


_DD_NORM = ("sqrt(list_reduce(list_prepend(0.0, list_transform({v}, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, x) -> acc + x))")
_DD_PAIR_DOT = ("list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
                "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), "
                "(acc, x) -> acc + x)")


@register(
    "q_dedup_embcos",
    f"""
    SELECT vec_id_a, nn_id, cos_sim FROM (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS nn_id,
             {_DD_PAIR_DOT} / ({_DD_NORM.format(v='a.embedding')}
               * {_DD_NORM.format(v='b.embedding')}) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
               {_DD_PAIR_DOT} / ({_DD_NORM.format(v='a.embedding')}
                 * {_DD_NORM.format(v='b.embedding')}) DESC, b.vec_id) AS rn
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id) t
    WHERE rn = 1
    """,
    doc="Embedding-cosine near-dup: exact top-1 neighbor per vector "
        "(O(N²) verify baseline; scale path = IVF/LSH pruning).",
)
def q_dedup_embcos(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import parquet_row_count
    from ..operators.blocked import nearest_neighbor_blocked

    return nearest_neighbor_blocked(
        table(spark, sf_dir, "embeddings"),
        size_hint=parquet_row_count(sf_dir, "embeddings"))


# ===================================================================
# Text analysis (operators/text.py)
# ===================================================================


@register(
    "q_lang_id",
    """
    WITH markers(cand_lang, marker) AS (
      VALUES ('en', 'the'), ('de', 'der'), ('es', 'el'),
             ('fr', 'le'), ('zh', '的')
    ), counts AS (
      SELECT doc_id, cand_lang,
             len(list_filter(string_split(text, ' '), t -> t = marker)) AS cnt
      FROM documents CROSS JOIN markers
    ), ranked AS (
      SELECT doc_id, cand_lang, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, cand_lang) AS rn
      FROM counts
    )
    SELECT doc_id,
           CASE WHEN cnt > 0 THEN cand_lang ELSE 'und' END AS pred_lang,
           CAST(cnt AS INTEGER) AS marker_hits
    FROM ranked WHERE rn = 1
    """,
    doc="Heuristic language ID: marker-token argmax (broadcast profile "
        "join + per-doc argmax; swap in real n-gram profiles at scale).",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as T

    df = T.predict_language(spark, table(spark, sf_dir, "documents"))
    return df.select("doc_id", "pred_lang", F.col("marker_hits").cast("int").alias("marker_hits"))


@register(
    "q_quality_score",
    """
    WITH f AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             length(text) AS n_chars,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS stop_hits
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS INTEGER) AS n_words,
           CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words AS avg_word_len,
           CAST(stop_hits AS DOUBLE) / n_words AS stop_ratio,
           LEAST(1.0, CAST(n_words AS DOUBLE) / 50) * 0.5
             + LEAST(1.0, CAST(stop_hits AS DOUBLE) / n_words * 5) * 0.5
             AS quality_score
    FROM f
    """,
    doc="C4/Gopher-style quality features: length, stopword ratio, "
        "composite score.",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as T

    return T.quality_features(table(spark, sf_dir, "documents"))


@register(
    "q_quality_repetition",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id, t,
             CASE WHEN len(t) >= 2 THEN list_transform(
               range(1, len(t)), i -> t[i] || ' ' || t[i+1])
             ELSE [] END AS bg
      FROM d
    )
    SELECT doc_id,
           CASE WHEN len(t) > 0
             THEN 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
             ELSE 0.0 END AS dup_token_frac,
           CASE WHEN len(bg) > 0
             THEN CAST(list_max(list_transform(list_distinct(bg),
                    x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
                  / len(bg)
             ELSE 0.0 END AS top_bigram_frac
    FROM g
    """,
    doc="Gopher/MassiveText repetition filters: duplicate-token "
        "fraction and most-common-bigram mass, computed inside the row "
        "— no groupBy; a pure projection at any scale (the one "
        "exchange a FEW-SPLIT input sees is the deliberate "
        "fill_cluster round-robin rebalance, absent once the scan has "
        "more splits than cores).",
)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as T

    return T.repetition_signals(table(spark, sf_dir, "documents"))


@register(
    "q_token_count",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                AS INTEGER) AS re_tokens
    FROM documents
    """,
    doc="Token counting: whitespace + BPE-ish regex pre-tokenization.",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as T

    return T.token_counts(table(spark, sf_dir, "documents"))


@register(
    "q_doc_fingerprint",
    """
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, least(length(text), 64) + 1),
               i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
    FROM documents
    """,
    doc="Rolling polynomial hash fingerprint (first 64 chars, mod 1e9+7).",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as T

    # The 64-char polynomial fold is an interpreted HOF evaluated on
    # the single-row-group scan's one task at bench scale — rebalance
    # first; no-op at real scale (fill_cluster guard). Measured
    # 0.19 → 0.10 s at sf0.1 (r16).
    return T.fingerprints(
        fill_cluster(table(spark, sf_dir, "documents")
                     .select("doc_id", "text")))


# ===================================================================
# ANN (IVF) + multimodal plumbing
# ===================================================================

# Oracle fragments shared by q_ann_ivf and q_ann_recall: per-cell
# exact-decimal centroids, probe→nearest-cell assignment (nprobe=1),
# and the exact top-3 within the selected cell.
_IVF_CTES = f"""dims AS (
      SELECT label, pos,
             CAST(SUM(CAST(CAST(embedding[pos] AS DOUBLE) AS DECIMAL(30,10)))
                  AS DOUBLE) / COUNT(*) AS mean
      FROM embeddings, (SELECT unnest(range(1, 65)) AS pos) r
      GROUP BY label, pos
    ), cents AS (
      SELECT label, list(mean ORDER BY pos) AS centroid FROM dims GROUP BY label
    ), probes AS (
      SELECT vec_id AS probe_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pv
      FROM embeddings WHERE vec_id IN (0, 1, 2)
    ), pc AS (
      SELECT probe_id, pv, label,
             ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY
               list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                 i -> pv[i] * centroid[i])), (acc, x) -> acc + x)
               / ({_DD_NORM.format(v='pv')} * {_DD_NORM.format(v='centroid')})
               DESC, label) AS rn_c
      FROM probes CROSS JOIN cents
    ), nearest AS (
      SELECT probe_id, pv, label FROM pc WHERE rn_c = 1
    )"""

_IVF_TOPK_SELECT = f"""
    SELECT probe_id, label, vec_id, cos_sim, rn FROM (
      SELECT n.probe_id, n.label, e.vec_id,
             list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                 i -> n.pv[i] * CAST(e.embedding[i] AS DOUBLE))), (acc, x) -> acc + x)
               / ({_DD_NORM.format(v='n.pv')} * {_DD_NORM.format(v='e.embedding')})
               AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY n.probe_id ORDER BY
               list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                 i -> n.pv[i] * CAST(e.embedding[i] AS DOUBLE))), (acc, x) -> acc + x)
               / ({_DD_NORM.format(v='n.pv')} * {_DD_NORM.format(v='e.embedding')})
               DESC, e.vec_id) AS rn
      FROM nearest n JOIN embeddings e ON n.label = e.label
      WHERE n.probe_id <> e.vec_id) t
    WHERE rn <= 3"""


@register(
    "q_ann_ivf",
    f"WITH {_IVF_CTES} {_IVF_TOPK_SELECT}",
    doc="IVF ANN: exact-decimal centroids per cell (label = coarse "
        "quantizer), nearest-cell probe (nprobe=1), exact top-3 within "
        "the cell — the corpus-pruning scale path for similarity search.",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S

    return S.ivf_topk(table(spark, sf_dir, "embeddings"), probe_ids=[0, 1, 2], k=3)


@register(
    "q_ann_recall",
    f"""
    WITH {_IVF_CTES},
    ivf AS ({_IVF_TOPK_SELECT}),
    bf AS (
      SELECT probe_id, vec_id FROM (
        SELECT p.probe_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
                 list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                   i -> p.pv[i] * CAST(e.embedding[i] AS DOUBLE))),
                   (acc, x) -> acc + x)
                 / ({_DD_NORM.format(v='p.pv')}
                    * {_DD_NORM.format(v='e.embedding')})
                 DESC, e.vec_id) AS rn
        FROM probes p JOIN embeddings e ON p.probe_id <> e.vec_id) t
      WHERE rn <= 3)
    SELECT bf.probe_id,
           CAST(SUM(CASE WHEN ivf.vec_id IS NOT NULL
                     THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS recall_at_3
    FROM bf LEFT JOIN ivf
      ON bf.probe_id = ivf.probe_id AND bf.vec_id = ivf.vec_id
    GROUP BY bf.probe_id
    """,
    doc="ANN index evaluation: recall@3 of the IVF nprobe=1 search "
        "against the exact brute-force top-3, per probe — the quality "
        "dial every ANN deployment monitors when tuning nprobe/nlist. "
        "Both sides reuse the declared-query plans (IVF cell search; "
        "broadcast-probe exact scoring); the join is on (probe, "
        "neighbor) over k·probes rows, so evaluation cost is the two "
        "searches, not a new scan.",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S

    emb = table(spark, sf_dir, "embeddings")
    ivf = (
        S.ivf_topk(emb, probe_ids=[0, 1, 2], k=3)
        .select("probe_id", "vec_id").withColumn("hit", F.lit(1))
    )
    probes = (
        emb.filter(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("probe_id"),
                V.to_double(F.col("embedding")).alias("probe_vec"))
    )
    corpus = fill_cluster(emb).select(
        "vec_id", V.to_double(F.col("embedding")).alias("vec"))
    w = Window.partitionBy("probe_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id"))
    bf = (
        F.broadcast(probes)
        .join(corpus, F.col("probe_id") != F.col("vec_id"))
        .select("probe_id", "vec_id",
                V.cosine(F.col("probe_vec"), F.col("vec")).alias("_cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("probe_id", "vec_id")
    )
    return (
        bf.join(ivf, ["probe_id", "vec_id"], "left")
        .groupBy("probe_id")
        .agg((F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
              / F.count(F.lit(1))).alias("recall_at_3"))
    )


def _lsh_oracle_sql(n_planes: int = 8, dim: int = 64,
                    probe_ids=(0, 1, 2), k: int = 3) -> str:
    """Oracle for q_ann_lsh: the hyperplane sign literals are generated
    by the same deterministic md5 scheme the Spark plan embeds, so both
    engines score identical projections."""
    from ..operators.similarity import hyperplane_signs

    planes = hyperplane_signs(n_planes, dim)
    projs = []
    for signs in planes:
        lst = "list_value(" + ", ".join(f"{s}.0" for s in signs) + ")"
        projs.append(
            "list_reduce(list_prepend(0.0, list_transform(range(1, "
            f"{dim + 1}), i -> CAST(embedding[i] AS DOUBLE) * {lst}[i])), "
            "(acc, x) -> acc + x)")
    bucket = " + ".join(
        f"CASE WHEN ({p}) >= 0 THEN {2 ** b} ELSE 0 END"
        for b, p in enumerate(projs))
    ids = ", ".join(str(i) for i in probe_ids)
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, CAST({bucket} AS INTEGER) AS bucket
      FROM embeddings
    ), probes AS (
      SELECT vec_id AS probe_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pv, bucket
      FROM bucketed WHERE vec_id IN ({ids})
    )
    SELECT probe_id, bucket, vec_id, cos_sim, rn FROM (
      SELECT p.probe_id, p.bucket, c.vec_id,
             list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}),
                 i -> p.pv[i] * CAST(c.embedding[i] AS DOUBLE))), (acc, x) -> acc + x)
               / ({_DD_NORM.format(v='p.pv')} * {_DD_NORM.format(v='c.embedding')})
               AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
               list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}),
                 i -> p.pv[i] * CAST(c.embedding[i] AS DOUBLE))), (acc, x) -> acc + x)
               / ({_DD_NORM.format(v='p.pv')} * {_DD_NORM.format(v='c.embedding')})
               DESC, c.vec_id) AS rn
      FROM probes p JOIN bucketed c ON c.bucket = p.bucket
      WHERE p.probe_id <> c.vec_id) t
    WHERE rn <= {k}
    """


@register(
    "q_ann_lsh",
    _lsh_oracle_sql(),
    doc="ANN via sign-LSH: 8 deterministic md5-derived hyperplanes bucket "
        "the corpus in one codegen pass (no training, unlike IVF); exact "
        "cosine top-3 within the probe's bucket only. The bucket equi-join "
        "is the corpus-pruning shape; at scale partition by bucket.",
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S

    return S.lsh_topk(table(spark, sf_dir, "embeddings"), probe_ids=[0, 1, 2])


_EMBCOS_LSH_THRESH, _EMBCOS_LSH_TABLES = 0.35, 2


def _lsh_pairs_oracle_sql(threshold: float, n_tables: int,
                          n_planes: int = 8, dim: int = 64) -> str:
    """Oracle for q_dedup_embcos_lsh: buckets for every LSH table from
    the same md5-derived hyperplane literals; a pair qualifies when ANY
    table's buckets collide, verified at exact cosine ≥ threshold."""
    from ..operators.similarity import hyperplane_signs

    bucket_exprs = []
    for t in range(n_tables):
        projs = []
        for signs in hyperplane_signs(n_planes, dim, table=t):
            lst = "list_value(" + ", ".join(f"{s}.0" for s in signs) + ")"
            projs.append(
                "list_reduce(list_prepend(0.0, list_transform(range(1, "
                f"{dim + 1}), i -> CAST(embedding[i] AS DOUBLE) * {lst}[i])), "
                "(acc, x) -> acc + x)")
        bucket = " + ".join(
            f"CASE WHEN ({p}) >= 0 THEN {2 ** b} ELSE 0 END"
            for b, p in enumerate(projs))
        bucket_exprs.append(f"CAST({bucket} AS INTEGER) AS b{t}")
    collide = " OR ".join(f"a.b{t} = b.b{t}" for t in range(n_tables))
    cos = (f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}), "
           "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), "
           "(acc, x) -> acc + x) "
           f"/ ({_DD_NORM.format(v='a.embedding')} * {_DD_NORM.format(v='b.embedding')})")
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {', '.join(bucket_exprs)} FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cos_sim
    FROM bucketed a JOIN bucketed b
      ON a.vec_id < b.vec_id AND ({collide})
    WHERE {cos} >= {threshold}
    """


@register(
    "q_dedup_embcos_lsh",
    _lsh_pairs_oracle_sql(_EMBCOS_LSH_THRESH, _EMBCOS_LSH_TABLES),
    doc="Embedding-cosine near-dup pairs via the SCALE discovery path: "
        "2-table sign-LSH bucket self-join (never all-pairs) + exact "
        "cosine verify. Complements q_dedup_embcos (exact O(N²) top-1 "
        "baseline): same verify arithmetic, pruned candidate set. The "
        "synthetic embeddings have no true near-dups (max cos ≈ 0.46), "
        "so the threshold sits at the distribution tail — the query "
        "checks the full plumbing deterministically; real corpora run "
        "cos ≥ 0.9 where per-table collision probability is high.",
)
def q_dedup_embcos_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S

    return S.cosine_pairs_lsh(
        table(spark, sf_dir, "embeddings"),
        threshold=_EMBCOS_LSH_THRESH, n_tables=_EMBCOS_LSH_TABLES)


@register(
    "q_media_meta",
    """
    SELECT doc_id, 'image/fake' AS media_type,
           CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
           md5(text) AS content_md5,
           CAST(64 + strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1
                AS INTEGER) AS width,
           CAST(64 + strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1
                AS INTEGER) AS height
    FROM documents
    """,
    doc="Multimodal plumbing through a REAL mapInPandas/Arrow path: "
        "binary media column + stub decode with deterministic fake dims "
        "(operators/multimodal.py); oracle replicates the md5-derived "
        "dims, so the Arrow batch kernel itself is correctness-checked.",
)
def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as M

    docs = table(spark, sf_dir, "documents")
    return M.decode_media(M.attach_media(docs)).select(
        "doc_id", "media_type", "byte_len", "content_md5", "width", "height")


# ===================================================================
# Corpus statistics & curation (pure built-ins, all partial-aggregable)
# ===================================================================


@register(
    "q_token_freq",
    """
    SELECT tok, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY cnt DESC, tok
    LIMIT 20
    """,
    doc="Global token frequency top-20 — the corpus-statistics staple "
        "(vocab audits, stopword lists). explode → hash agg with map-side "
        "partial aggregation → top-k; shuffles (token, partial count) "
        "pairs only, never text rows.",
)
def q_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(20)
    )


@register(
    "q_tfidf_topterms",
    """
    WITH tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
    ), n AS (
      SELECT COUNT(*) AS n FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.tok,
             tf.tf * (n.n + 1.0) / (dfreq.df + 1.0) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * (n.n + 1.0) / (dfreq.df + 1.0) DESC, tf.tok
             ) AS rn
      FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n
    )
    SELECT doc_id, tok, ROUND(score, 6) AS score, CAST(rn AS INTEGER) AS rn
    FROM scored WHERE rn <= 3
    """,
    doc="Per-document top-3 terms by TF-IDF with a RATIONAL idf "
        "(tf·(N+1)/(df+1), monotone in tf·idf): ln() is libm-dependent "
        "and can differ in the last ulp across engines, while IEEE "
        "mul/div are correctly-rounded everywhere — so ranks and scores "
        "hash-match the oracle exactly. Plan: one explode, two hash "
        "aggs (both partial-aggregable), document-frequency join, "
        "per-doc window top-k. The corpus total N enters as a scalar "
        "cross join, not a collected literal.",
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    score = (F.col("tf") * (F.col("n") + 1.0)) / (F.col("df") + 1.0)
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "tok")
    return (
        tf.join(dfreq, "tok").crossJoin(F.broadcast(n))
        .select("doc_id", "tok", score.alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", F.round("score", 6).alias("score"), "rn")
    )


@register(
    "q_pii_scrub",
    r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.org or +1-555-'
                    || lpad(CAST(doc_id AS VARCHAR), 4, '0'),
               '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
             '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS text_scrubbed
    FROM documents
    """,
    doc="PII redaction (emails, phone numbers) — the pre-training scrub "
        "pass. Synthetic PII is appended deterministically so the "
        "redaction is observable; both regex dialects (Java, RE2) accept "
        "the shared pattern subset. Pure narrow projection: no shuffle, "
        "whole-stage codegen.",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@mail.example.org or +1-555-"),
        F.lpad(F.col("doc_id").cast("string"), 4, "0"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, r"[a-z0-9._]+@[a-z0-9.]+", "<EMAIL>"),
        r"\+1-555-[0-9]{4}", "<PHONE>")
    return docs.select("doc_id", scrubbed.alias("text_scrubbed"))


@register(
    "q_doc_len_histogram",
    """
    SELECT CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS bucket,
           COUNT(*) AS cnt, MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY 1 ORDER BY bucket
    """,
    doc="Document-length histogram (100-char buckets) — the length-"
        "distribution audit every curation pipeline starts with. "
        "Integer bucket arithmetic (engine-exact), partial-aggregable "
        "count/min/max.",
)
def q_doc_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy(
            F.floor(F.col("n_chars") / 100.0).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.min("n_chars").alias("min_chars"),
             F.max("n_chars").alias("max_chars"))
        .orderBy("bucket")
    )


@register(
    "q_sample_stratified",
    """
    SELECT doc_id, lang, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    WHERE rn <= 20
    """,
    doc="Deterministic stratified sample: top-20 per language ordered by "
        "md5(doc_id) — a seedless, engine-independent 'random' order, so "
        "the training-mix sample is reproducible everywhere (rand() "
        "never hash-matches across engines). One window per stratum, no "
        "driver involvement.",
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
    )


@register(
    "q_audio_features",
    """
    WITH s AS (
      SELECT doc_id,
             CAST(length(text) // 2 AS INT) AS n_samples,
             CAST((length(text) // 2) // 64 AS INT) AS n_frames,
             list_transform(
               range(1, CAST(((length(text) // 2) // 64) * 64 AS INT) + 1),
               k -> CASE WHEN ord(substr(text, CAST(2*k AS INT), 1)) >= 128
                    THEN ord(substr(text, CAST(2*k-1 AS INT), 1))
                         + 256 * ord(substr(text, CAST(2*k AS INT), 1)) - 65536
                    ELSE ord(substr(text, CAST(2*k-1 AS INT), 1))
                         + 256 * ord(substr(text, CAST(2*k AS INT), 1)) END
             ) AS pcm
      FROM documents
    )
    SELECT doc_id, n_samples, n_frames,
           CAST(COALESCE(list_sum(pcm), 0) AS BIGINT) AS sample_sum,
           CAST(COALESCE(list_sum(list_transform(pcm,
                v -> CAST(v AS BIGINT) * v)), 0) AS BIGINT) AS energy
    FROM s
    """,
    doc="Audio modality: deterministic PCM16 column + windowed features "
        "in an Arrow mapInPandas kernel — real signal math (not a "
        "stub). The driver-checked projection is the INTEGER-EXACT "
        "subset (n_samples, n_frames, framed sample_sum / energy=Σs²), "
        "which the oracle re-derives by two's-complement-decoding the "
        "same PCM16 bytes char-by-char (the corpus is pure ASCII, so "
        "varchar positions == byte positions; the decode CASE still "
        "carries the >=128 sign branch for arbitrary bytes). The float "
        "RMS/ZCR path runs in the same kernel and is exact-verified "
        "against a pure-numpy recomputation in tests/test_multimodal.py.",
)
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal as M

    docs = table(spark, sf_dir, "documents")
    return M.audio_features(M.attach_audio(docs)).select(
        "doc_id", "n_samples", "n_frames", "sample_sum", "energy")


# ===================================================================
# Corpus curation (operators/curation.py): packing, mixing, decontam
# ===================================================================


_PACK_BUDGET, _PACK_SHARDS = 512, 8


@register(
    "q_pack_sequences",
    f"""
    SELECT doc_id, shard, n_tokens,
           (start_tok // {_PACK_BUDGET}) AS chunk_id,
           (start_tok % {_PACK_BUDGET}) AS chunk_offset
    FROM (
      SELECT doc_id,
             CAST(doc_id % {_PACK_SHARDS} AS INTEGER) AS shard,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
             CAST(SUM(len(string_split(text, ' '))) OVER (
                    PARTITION BY doc_id % {_PACK_SHARDS} ORDER BY doc_id)
                  - len(string_split(text, ' ')) AS BIGINT) AS start_tok
      FROM documents
    )
    """,
    doc="Sequence packing for the trainer: concat-and-chunk token "
        "budgeting (budget=512 whitespace tokens, 8 shards) — each doc "
        "gets the chunk containing its first token plus its offset in "
        "that chunk. One per-shard window cumsum; shards keep the "
        "packing of an arbitrarily large corpus parallel AND "
        "deterministic.",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation as C

    return C.pack_sequences(
        table(spark, sf_dir, "documents"),
        budget=_PACK_BUDGET, n_shards=_PACK_SHARDS)


_MIX_RATES = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
_MIX_DEFAULT = 0.1


def _mix_rate_sql(key: str = "source") -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {r}" for k, r in sorted(_MIX_RATES.items()))
    return f"CASE {key} {whens} ELSE {_MIX_DEFAULT} END"


@register(
    "q_mixture_sample",
    f"""
    SELECT doc_id, source, lang FROM documents
    WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) AS DOUBLE) / 4294967296.0
          < {_mix_rate_sql()}
    """,
    doc="Training-mix assembly: per-domain sampling weights (src0 kept "
        "whole, src1-3 down-weighted, long tail at 10%) applied via a "
        "seedless md5-of-id threshold — reproducible across engines, "
        "retries, and reruns, and monotone under weight increases "
        "(raising a rate only adds documents). One narrow filter; "
        "no shuffle, no RNG state.",
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation as C

    return C.mixture_sample(
        table(spark, sf_dir, "documents"), _MIX_RATES,
        default_rate=_MIX_DEFAULT).select("doc_id", "source", "lang")


_DECON_N, _DECON_MOD = 4, 41


@register(
    "q_decontaminate",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - {_DECON_N} + 2, 1)),
               i -> array_to_string(t[i:i+{_DECON_N}-1], ' ')))) AS gram
      FROM d
    ), ev AS (
      SELECT DISTINCT gram FROM g WHERE doc_id % {_DECON_MOD} = 0
    ), co AS (
      SELECT doc_id, gram FROM g WHERE doc_id % {_DECON_MOD} <> 0
    )
    SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_hits
    FROM co JOIN ev USING (gram) GROUP BY doc_id
    """,
    doc="Eval-set decontamination screen: corpus documents sharing any "
        "word 4-gram with the held-out set (doc_id % 41 = 0 plays the "
        "benchmark) are flagged with their overlap count. The eval "
        "n-gram set broadcasts (benchmarks are tiny vs the corpus), so "
        "the screen is a map-side join — corpus n-grams never shuffle.",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation as C

    docs = table(spark, sf_dir, "documents")
    return C.decontaminate(
        docs.filter(F.col("doc_id") % _DECON_MOD != 0),
        docs.filter(F.col("doc_id") % _DECON_MOD == 0),
        n=_DECON_N)


# ===================================================================
# End-to-end curation pipeline: the operators composed the way a
# pretraining-data run actually chains them.
# ===================================================================

_CUR_Q, _CUR_TB, _CUR_DUP = 0.5, 0.1, 0.7


@register(
    "q_curation_pipeline",
    f"""
    WITH d AS (
      SELECT doc_id, text, lang, source, string_split(text, ' ') AS t
      FROM documents
    ), g AS (
      SELECT *, CASE WHEN len(t) >= 2 THEN list_transform(
                  range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                ELSE [] END AS bg
      FROM d
    ), sig AS (
      SELECT doc_id, text, lang, source, t,
        LEAST(1.0, CAST(len(t) AS DOUBLE) / 50) * 0.5
          + LEAST(1.0, CAST(len(list_filter(t,
              x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
            / len(t) * 5) * 0.5 AS q,
        CASE WHEN len(bg) > 0
          THEN CAST(list_max(list_transform(list_distinct(bg),
                 x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE) / len(bg)
          ELSE 0.0 END AS tb,
        CASE WHEN len(t) > 0
          THEN 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t)
          ELSE 0.0 END AS dup
      FROM g
    ), kept AS (
      SELECT doc_id, text, lang, source, t FROM sig
      WHERE q >= {_CUR_Q} AND tb <= {_CUR_TB} AND dup <= {_CUR_DUP}
        AND doc_id % {_DECON_MOD} <> 0
    ), kgrams AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(t) >= {_DECON_N} THEN list_transform(
          range(1, len(t) - {_DECON_N} + 2),
          i -> array_to_string(t[i:i+{_DECON_N}-1], ' '))
        ELSE [] END)) AS gram
      FROM d WHERE doc_id % {_DECON_MOD} <> 0
    ), evg AS (
      SELECT DISTINCT unnest(list_distinct(
        CASE WHEN len(t) >= {_DECON_N} THEN list_transform(
          range(1, len(t) - {_DECON_N} + 2),
          i -> array_to_string(t[i:i+{_DECON_N}-1], ' '))
        ELSE [] END)) AS gram
      FROM d WHERE doc_id % {_DECON_MOD} = 0
    ), flagged AS (
      SELECT DISTINCT kg.doc_id FROM kgrams kg JOIN evg USING (gram)
    ), clean AS (
      SELECT * FROM kept
      WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
    ), dd AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM clean
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(t)) AS BIGINT) AS n_tokens
    FROM dd WHERE rn = 1
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    doc="The curation pipeline END TO END: quality + repetition signal "
        "gates (single-scan projections — the reusable Column builders "
        "from operators/text.py, no self-joins), eval-set "
        "decontamination (broadcast n-gram screen, anti-join), exact "
        "dedup (digest shuffle, keep-min via min_by hash aggregate — "
        "no sort-window), then the per-(lang, source) corpus summary a "
        "mixture design reads. The contamination screen runs over ALL "
        "non-eval docs, not the signal-filtered subset: the final "
        "anti-join result is identical, and it keeps the expensive "
        "signal subtree out of the screen's plan — each branch of the "
        "DAG is computed once, from a narrow scan (measured: screening "
        "the kept subset instead re-runs the HOF signals in the second "
        "branch and is ~20% slower end-to-end). md5/token-count are "
        "projected in the signal pass so no exchange ever carries "
        "document text.",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import curation as C
    from ..operators import text as T
    from ..operators.scale import fill_cluster, no_pushdown

    docs = table(spark, sf_dir, "documents")
    # no_pushdown pins the signal evaluation above the rebalance: the
    # threshold filter below would otherwise be conjunct-split and
    # pushed into the narrow scan, re-serializing the HOF signal work
    # the rebalance exists to parallelize.
    sig = fill_cluster(docs).select(
        "doc_id", "text", "lang", "source",
        no_pushdown(T.quality_score_col("text")).alias("q"),
        no_pushdown(T.top_bigram_frac_col("text")).alias("tb"),
        no_pushdown(T.dup_token_frac_col("text")).alias("dup"),
    )
    from ..operators.dedup import tokens as _toks
    # Digest + token count are computed HERE, in the same pass as the
    # signals, so `text` never crosses an exchange: the anti-join and
    # dedup shuffles below move (doc_id, lang, source, 16-byte h,
    # n_toks) rows, not document bodies.
    kept = (
        sig.filter((F.col("q") >= _CUR_Q) & (F.col("tb") <= _CUR_TB)
                   & (F.col("dup") <= _CUR_DUP)
                   & (F.col("doc_id") % _DECON_MOD != 0))
        .select("doc_id", "lang", "source",
                F.unhex(F.md5("text")).alias("h"),
                F.size(_toks("text")).alias("n_toks"))
    )
    ev = docs.filter(F.col("doc_id") % _DECON_MOD == 0)
    non_eval = docs.filter(F.col("doc_id") % _DECON_MOD != 0)
    flagged = C.decontaminate(non_eval, ev, n=_DECON_N).select("doc_id")
    clean = kept.join(flagged, "doc_id", "left_anti")
    # Keep-min-doc_id per digest as a hash aggregate (min_by), not a
    # row_number sort-window: same representative row (doc_id is
    # unique), one less sort, and the narrow struct is all that moves.
    rep = clean.groupBy("h").agg(
        F.min_by(F.struct("lang", "source", "n_toks"), "doc_id").alias("s"))
    return (
        rep.groupBy(F.col("s.lang").alias("lang"),
                    F.col("s.source").alias("source"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum("s.n_toks").cast("bigint").alias("n_tokens"))
        .orderBy("lang", "source")
    )


@register(
    "q_embed_quantize",
    """
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) AS mx
      FROM embeddings
    ), s AS (
      SELECT vec_id, embedding,
             CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS sc
      FROM m
    )
    SELECT vec_id, sc AS scale,
           array_to_string(list_transform(embedding,
             x -> CAST(GREATEST(-127, LEAST(127,
                    FLOOR(CAST(x AS DOUBLE) * sc + 0.5))) AS BIGINT)),
             ',') AS qvec_str
    FROM s
    """,
    doc="Symmetric int8 embedding quantization "
        "(operators/similarity.py quantize_int8): scale = 127/max|x|, "
        "floor(x*scale + 0.5) clamped — round-half-up spelled out so "
        "both engines agree at .5 boundaries. The declared query "
        "joins the quantized lanes to a comma string for a "
        "dialect-stable value hash; the operator returns the typed "
        "array<tinyint>. One narrow projection, no shuffle.",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_int8

    q = quantize_int8(table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id", "scale",
        F.array_join(F.transform("qvec", lambda x: x.cast("bigint")
                                 .cast("string")), ",").alias("qvec_str"))
