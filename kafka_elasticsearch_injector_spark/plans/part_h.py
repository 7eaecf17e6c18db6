"""Part H — round-9 corpus-accounting and scale-variant additions:
bucket-first KS drift, hash-sampled dedup recall, document-frequency
spectrum, pairwise source vocabulary overlap, per-tranche n-gram
novelty, exact per-source median via the value grid, boilerplate
prefix detection, packing-shard skew, and duplicate provenance.

Reference parity note: none of this exists in the reference (its
pipeline ends at routing records into Elasticsearch,
src/kafka/consumer.go + src/elasticsearch/elasticsearch.go:60-124);
these extend the training-corpus audit family (Parts C-G). Two of
them promote 100 TB contracts shipped this round from operator knobs
to declared queries: q_drift_ks_hist (drift_ks buckets=B) and
q_dedup_recall_sampled (dedup_recall sample_mod=m).

Cross-engine determinism notes:
- every emitted ratio (token_share, jaccard, novelty, cross_share,
  recall, skew) is an integer-operand IEEE division — bit-identical
  across engines (ROUNDING.md);
- ks_d is a MAX over absolute differences of integer-operand
  divisions — exact value selection, no accumulation;
- bucketing/median arithmetic is pure integer DIV (`//` in DuckDB) on
  non-negative operands, so truncation == floor in both engines;
- the md5 prefix hash and the md5 sampling threshold reuse the
  engine-parity digests every dedup query already relies on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from .part_c import _MH_CLUSTER_CTES, _MH_CLUSTER_SELECT
from .part_g import _DR_THRESH
from .registry import register

# ===================================================================
# Bucket-first KS drift (the declared scale variant)
# ===================================================================

_KH_BUCKETS = 32


@register(
    "q_drift_ks_hist",
    f"""
    WITH tagged AS (
      SELECT n_chars AS v,
             CASE WHEN CAST(SUBSTRING(source, 4) AS INT) < 10
                  THEN 1 ELSE 2 END AS grp
      FROM documents
    ), rng AS (
      SELECT MIN(v) AS lo, MAX(v) AS hi FROM tagged
    ), bk AS (
      SELECT (v - lo) // ((hi - lo) // {_KH_BUCKETS} + 1) AS bv, grp
      FROM tagged CROSS JOIN rng
    ), counts AS (
      SELECT bv,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM bk GROUP BY bv
    ), cum AS (
      SELECT SUM(c1) OVER (ORDER BY bv NULLS LAST) AS k1,
             SUM(c2) OVER (ORDER BY bv NULLS LAST) AS k2,
             (SELECT SUM(c1) FROM counts) AS t1,
             (SELECT SUM(c2) FROM counts) AS t2
      FROM counts
    )
    SELECT MAX(ABS(CAST(k1 AS DOUBLE) / t1
               - CAST(k2 AS DOUBLE) / t2)) AS ks_d
    FROM cum
    """,
    doc="Bucket-first two-sample KS drift (operators/curation."
        "drift_ks, buckets=32) — the 100 TB shape q_drift_ks's "
        "docstring has always pointed at, declared: a broadcast "
        "one-row (min,max) aggregate floors values into 32 equal-"
        "width integer buckets MAP-SIDE, the CDF window runs over "
        "≤32 grid rows, and ks_d is the ECDF-on-histogram lower "
        "bound of exact D (equal when each value gets its own "
        "bucket). Same cohorts as q_drift_ks (src0-9 vs src10-19); "
        "pure integer DIV bucketing, integer-operand divisions, MAX "
        "selection — no accumulation anywhere.",
)
def q_drift_ks_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import drift_ks

    docs = table(spark, sf_dir, "documents")
    grp = F.when(
        F.substring("source", 4, 10).cast("int") < 10, 1).otherwise(2)
    return drift_ks(docs.select(F.col("n_chars").alias("v"),
                                grp.alias("grp")),
                    buckets=_KH_BUCKETS)


# ===================================================================
# Hash-sampled dedup recall (the declared scale variant)
# ===================================================================

_DRS_MOD = 2


def _drs_sql() -> str:
    from .part_c import _minhash_pairs_sql, _ngram_pairs_sql

    # The `sampled` CTE is hash_sample's SQL twin; the nested pair
    # CTEs are the exact fragments q_dedup_recall uses, retargeted at
    # it via the generators' `rel` parameter (DuckDB forbids a
    # non-recursive CTE shadowing the base table name).
    return f"""
    WITH sampled AS (
      SELECT * FROM documents
      WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % {_DRS_MOD} = 0
    ), exact AS (
      {_ngram_pairs_sql(_DR_THRESH, rel="sampled")}
    ), lsh AS (
      {_minhash_pairs_sql(_DR_THRESH, shingle_n=2, rel="sampled")}
    ), c AS (
      SELECT (SELECT COUNT(*) FROM exact) AS ne,
             (SELECT COUNT(*) FROM lsh) AS nl
    )
    SELECT CAST(ne AS BIGINT) AS n_true_pairs,
           CAST(nl AS BIGINT) AS n_candidate_pairs,
           CAST(ne - nl AS BIGINT) AS n_missed,
           CAST(nl AS DOUBLE) / ne AS recall
    FROM c WHERE ne > 0
    """


@register(
    "q_dedup_recall_sampled",
    _drs_sql(),
    doc="q_dedup_recall's 100 TB contract, declared: the quadratic "
        "exact truth runs on the seedless md5 hash-sampled HALF of "
        "the corpus (dedup.hash_sample, sample_mod=2 — pairs survive "
        "at rate 1/4) and recall is measured among surviving pairs — "
        "the unbiased estimate a real run logs where the full tile "
        "kernel is unaffordable. Same operators, thresholds and "
        "integer-operand arithmetic as q_dedup_recall; the oracle "
        "applies the identical md5 sampling via a `sampled` CTE the "
        "pair fragments are retargeted at, so both engines select "
        "the identical sub-corpus.",
)
def q_dedup_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import parquet_row_count
    from ..operators.dedup import dedup_recall

    return dedup_recall(table(spark, sf_dir, "documents"), n=2,
                        threshold=_DR_THRESH, k=8, rows_per_band=2,
                        size_hint=parquet_row_count(sf_dir, "documents"),
                        sample_mod=_DRS_MOD)


# ===================================================================
# Document-frequency spectrum
# ===================================================================


@register(
    "q_doc_freq_spectrum",
    """
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), dfreq AS (
      SELECT tok, COUNT(*) AS df FROM toks GROUP BY tok
    ), spec AS (
      SELECT df, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM dfreq GROUP BY df
    )
    SELECT CAST(df AS BIGINT) AS doc_freq, n_tokens,
           CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER () AS token_share
    FROM spec
    """,
    doc="Document-frequency spectrum (operators/curation."
        "doc_freq_spectrum): for each df value k, how many distinct "
        "tokens appear in exactly k documents — hapax mass (k=1) is "
        "the Heaps'-law health number, the high-k tail is what a "
        "df-ceiling (winnowing) actually drops. Two "
        "partial-aggregated shuffles (token→df, df→spectrum); the "
        "share window runs over the KB-sized spectrum; token_share "
        "is an integer-operand division.",
)
def q_doc_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import doc_freq_spectrum

    return doc_freq_spectrum(table(spark, sf_dir, "documents"))


# ===================================================================
# Pairwise source vocabulary overlap
# ===================================================================


@register(
    "q_vocab_overlap_matrix",
    """
    WITH st AS (
      SELECT DISTINCT g, tok FROM (
        SELECT source AS g,
               unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents)
    ), sizes AS (
      SELECT g, COUNT(*) AS n FROM st GROUP BY g
    ), inter AS (
      SELECT a.g AS src_a, b.g AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM st a JOIN st b USING (tok) WHERE a.g < b.g
      GROUP BY a.g, b.g
    )
    SELECT src_a, src_b, n_shared,
           CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) AS jaccard
    FROM inter
      JOIN sizes na ON na.g = src_a
      JOIN sizes nb ON nb.g = src_b
    """,
    doc="Pairwise source vocabulary overlap (operators/curation."
        "vocab_overlap_matrix): exact token-set Jaccard per source "
        "pair sharing ≥1 token — the redundancy matrix a mixture "
        "design reads next to per-source token masses (overlap → 1 "
        "means two domains buy one domain's vocabulary). The "
        "(source, token) relation dedupes via partial-aggregated "
        "distinct; the token self-join fans out ≤|sources|² per "
        "token; per-source sizes BROADCAST onto ≤|sources|² pair "
        "rows; jaccard divides exact integers.",
)
def q_vocab_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import vocab_overlap_matrix

    return vocab_overlap_matrix(table(spark, sf_dir, "documents"))


# ===================================================================
# Per-tranche n-gram novelty
# ===================================================================

_NV_BUCKETS, _NV_N = 10, 2


@register(
    "q_ngram_novelty",
    f"""
    WITH slim AS (
      SELECT doc_id, ntile({_NV_BUCKETS}) OVER (ORDER BY doc_id) AS bucket
      FROM documents
    ), bg AS (
      SELECT DISTINCT bucket, g FROM (
        SELECT bucket, unnest(list_distinct(
          list_transform(range(1, len(string_split(text, ' '))),
            i -> string_split(text, ' ')[i] || ' '
                 || string_split(text, ' ')[i+1]))) AS g
        FROM documents JOIN slim USING (doc_id))
    ), present AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_present
      FROM bg GROUP BY bucket
    ), fs AS (
      SELECT g, MIN(bucket) AS bucket FROM bg GROUP BY g
    ), nw AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM fs GROUP BY bucket
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, n_present,
           CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
           CAST(COALESCE(n_new, 0) AS DOUBLE) / n_present AS novelty
    FROM present LEFT JOIN nw USING (bucket)
    """,
    doc="Per-tranche bigram novelty (operators/curation."
        "ngram_novelty): vocab_growth's phrase-level sibling — token "
        "novelty can stay high while PHRASE novelty collapses (new "
        "words, repeated constructions). Tranche assignment is "
        "curation.ntile_by_id (exact NTILE, broadcast boundaries, no "
        "single-task window — the oracle says NTILE literally); "
        "(bucket, gram) dedupes partial-aggregated; first-tranche-"
        "per-gram is a Zipf-immune groupBy(gram) min; the final join "
        f"runs on {_NV_BUCKETS} rows. novelty is an integer-operand "
        "division.",
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import ngram_novelty

    return ngram_novelty(table(spark, sf_dir, "documents"),
                         buckets=_NV_BUCKETS, n=_NV_N)


# ===================================================================
# Exact per-source median document length (value grid)
# ===================================================================


@register(
    "q_median_chars_by_source",
    """
    WITH counts AS (
      SELECT source AS grp, n_chars AS v, COUNT(*) AS cnt
      FROM documents GROUP BY source, n_chars
    ), g AS (
      SELECT grp, v, cnt,
             SUM(cnt) OVER (PARTITION BY grp ORDER BY v) AS cum,
             SUM(cnt) OVER (PARTITION BY grp) AS n
      FROM counts
    )
    SELECT grp AS source, CAST(n AS BIGINT) AS n_docs,
           CAST(v AS BIGINT) AS median
    FROM g WHERE cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2
    """,
    doc="Exact per-source lower-median document length (operators/"
        "curation.group_median_grid) — the per-domain length profile "
        "a length filter is tuned against, computed the VALUE-GRID "
        "way: per-(source, n_chars) counts partial-aggregate first, "
        "the running-count window walks |sources|×|distinct lengths| "
        "grid rows (KBs at any corpus size — never a per-document "
        "window), and the median is the smallest value whose running "
        "count reaches (n+1) DIV 2: interpolation-free, exact "
        "BIGINTs, deterministic in both engines.",
)
def q_median_chars_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import group_median_grid

    return group_median_grid(table(spark, sf_dir, "documents"))


# ===================================================================
# Boilerplate-prefix families
# ===================================================================

_PD_NPREFIX = 8


@register(
    "q_prefix_dup_clusters",
    f"""
    SELECT md5(array_to_string(
             list_slice(string_split(text, ' '), 1, {_PD_NPREFIX}), ' '))
             AS prefix_hash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(SUM(len(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY prefix_hash HAVING COUNT(*) >= 2
    """,
    doc="Boilerplate-prefix families (operators/curation."
        "prefix_dup_clusters): documents grouped by the md5 of their "
        f"first {_PD_NPREFIX} tokens, families of ≥2 kept — the "
        "template/header screen (licence headers, scraped nav, form "
        "letters) that whole-document similarity under-scores because "
        "the shared prefix is a small fraction of each document. "
        "Exact-dedup shape at prefix granularity: only the 32-hex "
        "digest shuffles, one partial-aggregated groupBy; counts are "
        "exact BIGINTs.",
)
def q_prefix_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import prefix_dup_clusters

    return prefix_dup_clusters(table(spark, sf_dir, "documents"),
                               n_prefix=_PD_NPREFIX)


# ===================================================================
# Packing-shard token skew
# ===================================================================

_SK_SHARDS = 32


@register(
    "q_shard_token_skew",
    f"""
    WITH per AS (
      SELECT doc_id % {_SK_SHARDS} AS s,
             SUM(len(string_split(text, ' '))) AS t
      FROM documents GROUP BY doc_id % {_SK_SHARDS}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_shards_used,
           CAST(MIN(t) AS BIGINT) AS min_tokens,
           CAST(MAX(t) AS BIGINT) AS max_tokens,
           CAST(SUM(t) AS BIGINT) AS total_tokens,
           CAST(MAX(t) * COUNT(*) AS DOUBLE) / SUM(t) AS skew
    FROM per HAVING COUNT(*) > 0
    """,
    doc="Packing-shard balance audit (operators/curation."
        "shard_token_skew): token mass per id-hash shard and the "
        "max·shards/total skew ratio — whether pack_sequences' shard "
        "fan-out keeps executors evenly fed (the straggler shard sets "
        "the stage wall-clock). One partial-aggregated rollup to "
        f"{_SK_SHARDS} rows + a single reduce; skew multiplies exact "
        "BIGINTs before its one IEEE division; empty corpus emits "
        "zero rows in both engines.",
)
def q_shard_token_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import shard_token_skew

    return shard_token_skew(table(spark, sf_dir, "documents"),
                            n_shards=_SK_SHARDS)


# ===================================================================
# Duplicate provenance
# ===================================================================


@register(
    "q_dup_provenance",
    f"""
    WITH RECURSIVE {_MH_CLUSTER_CTES},
    clusters AS ({_MH_CLUSTER_SELECT}),
    per AS (
      SELECT cluster_id, COUNT(*) AS sz, COUNT(DISTINCT source) AS nsrc
      FROM clusters JOIN documents USING (doc_id)
      GROUP BY cluster_id HAVING COUNT(*) >= 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_clusters,
           CAST(SUM(CASE WHEN nsrc > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross_source,
           CAST(SUM(CASE WHEN nsrc > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS cross_share
    FROM per HAVING COUNT(*) > 0
    """,
    doc="Duplicate-provenance rollup (operators/dedup.dup_provenance) "
        "over the shared MinHash→LSH→CC clustering: of the multi-"
        "member near-dup clusters, how many span more than one "
        "source — cross-source syndication (drop a copy, keep the "
        "mix) vs within-source boilerplate (fix the crawler). One id "
        "equi-join, one per-cluster partial rollup (count-distinct "
        "bounded by |sources|), one reduce; cross_share divides exact "
        "integers; zero multi-member clusters emits zero rows in both "
        "engines.",
)
def q_dup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dup_provenance
    from .part_c import q_dedup_minhash_cluster

    docs = table(spark, sf_dir, "documents")
    clusters = q_dedup_minhash_cluster(spark, sf_dir)
    return dup_provenance(clusters, docs)
