"""Part C continued — round-3 additions to the LLM-data-pipeline layer
(SURVEY.md §2.3): pipeline-audit and curation operators over `events`,
`documents`, `embeddings`.

Same discipline as part_c.py: md5-only hashing, floats rounded to 6 on
both sides, integer aggregates CAST to BIGINT in the oracle (DuckDB
types a naked integer SUM as HUGEINT, which Spark cannot express and
the driver's typed value hash rejects), and a unique tie-break on every
window/sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..io import table
from .registry import register

# --------------------------------------------------------- pipeline audit


@register(
    "q_offset_gaps",
    """
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE gap > 0) AS BIGINT) AS n_gaps,
           CAST(COALESCE(SUM(gap), 0) AS BIGINT) AS missing_total,
           CAST(MAX(gap) AS BIGINT) AS max_gap
    FROM (
      SELECT event_type,
             event_id - LAG(event_id) OVER (
               PARTITION BY event_type ORDER BY event_id) - 1 AS gap
      FROM events) t
    WHERE gap IS NOT NULL
    GROUP BY event_type
    """,
    doc="Offset-continuity audit, the data-loss check a Kafka consumer "
        "pipeline runs per partition (event_type ≙ partition, event_id ≙ "
        "offset — the q_offset_lag convention; reference consumer commit "
        "semantics src/kafka/consumer.go:163-178 make gaps mean loss). "
        "One shuffle: the lag window partitions by event_type and the "
        "aggregation groups by the same key, so Catalyst reuses the "
        "exchange — at 100 TB this is a single pass per partition-worth "
        "of offsets, output KB-sized.",
)
def q_offset_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("event_type").orderBy("event_id")
    gap = (F.col("event_id") - F.lag("event_id").over(w) - 1).alias("gap")
    return (
        table(spark, sf_dir, "events")
        .select("event_type", gap)
        .filter(F.col("gap").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("gap") > 0, 1)).alias("n_gaps"),
            F.coalesce(F.sum("gap"), F.lit(0)).cast("bigint")
            .alias("missing_total"),
            F.max("gap").cast("bigint").alias("max_gap"),
        )
    )


# ------------------------------------------------------------- curation

_DD_NORM = ("sqrt(list_reduce(list_prepend(0.0, list_transform({v}, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
            "(acc, x) -> acc + x))")

# Per-label exact-decimal centroids — same construction as part_c.py's
# IVF oracle, so both declared consumers of centroids agree bit-for-bit.
_CENT_CTES = """dims AS (
      SELECT label, pos,
             CAST(SUM(CAST(CAST(embedding[pos] AS DOUBLE) AS DECIMAL(30,10)))
                  AS DOUBLE) / COUNT(*) AS mean
      FROM embeddings, (SELECT unnest(range(1, 65)) AS pos) r
      GROUP BY label, pos
    ), cents AS (
      SELECT label, list(mean ORDER BY pos) AS centroid FROM dims GROUP BY label
    )"""


@register(
    "q_embed_outliers",
    f"""
    WITH {_CENT_CTES}
    SELECT label, vec_id, cos_to_centroid, rn FROM (
      SELECT e.label, e.vec_id,
             ROUND(list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * c.centroid[i])),
                 (acc, x) -> acc + x)
               / ({_DD_NORM.format(v='e.embedding')}
                  * {_DD_NORM.format(v='c.centroid')}), 6) + 0.0
               AS cos_to_centroid,
             ROW_NUMBER() OVER (PARTITION BY e.label ORDER BY
               list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                 i -> CAST(e.embedding[i] AS DOUBLE) * c.centroid[i])),
                 (acc, x) -> acc + x)
               / ({_DD_NORM.format(v='e.embedding')}
                  * {_DD_NORM.format(v='c.centroid')}) ASC, e.vec_id) AS rn
      FROM embeddings e JOIN cents c ON e.label = c.label) t
    WHERE rn <= 3
    """,
    doc="Embedding-space outlier audit: the 3 vectors farthest (lowest "
        "cosine) from their own cluster centroid, per label — the "
        "mislabel/noise screen a curation pipeline runs before training. "
        "Centroids come from the same map-combinable decimal aggregation "
        "as the IVF index (operators/similarity.py label_centroids); the "
        "per-label join is a broadcast of nlist rows, the top-3 window "
        "rides the existing label partitioning — output is 3·nlist rows "
        "at any corpus size.",
)
def q_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import label_centroids

    emb = table(spark, sf_dir, "embeddings")
    cents = label_centroids(emb)
    cos = V.cosine(V.to_double(F.col("embedding")), F.col("centroid"))
    w = Window.partitionBy("label").orderBy(F.col("_cos").asc(), "vec_id")
    return (
        emb.join(F.broadcast(cents), "label")
        .select("label", "vec_id", cos.alias("_cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        # ROUND RETAINED (ROUNDING.md): the centroid lanes come from a
        # double->DECIMAL(30,10) cast of arbitrary float32-derived
        # doubles, which Spark converts via the SHORTEST repr and
        # DuckDB via the exact binary expansion — a digit-11 boundary
        # element makes the centroids differ by ~1e-10 (observed on
        # label 7 at sf0.01 under the full-precision replica), so the
        # cosine is NOT bit-identical and the round-6 is load-bearing.
        .select("label", "vec_id",
                F.round(F.col("_cos"), 6).alias("cos_to_centroid"),
                # bigint to match DuckDB's ROW_NUMBER type exactly (the
                # driver hash tolerates int-vs-bigint on proven-green
                # queries, but a never-verified query takes no chances)
                F.col("rn").cast("bigint").alias("rn"))
    )


@register(
    "q_dedup_normalized",
    """
    SELECT doc_id, lang, source, dup_count FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY norm) AS BIGINT) AS dup_count
      FROM (
        SELECT doc_id, lang, source,
               trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
        FROM documents) n) t
    WHERE rn = 1
    """,
    doc="Normalized exact dedup: case-folded, whitespace-collapsed text "
        "— catches the reformatting duplicates exact-hash misses before "
        "the near-dup tiers run. Min-doc_id representative per "
        "normalized key via a min_by HASH aggregate (the curation "
        "pipeline's dedup shape — no sort-window, partial aggregation "
        "combines map-side), with the surviving row carrying its "
        "duplicate-group size from the same aggregate. At 100 TB the "
        "shuffle key is the 16-byte binary md5 of the normalized text, "
        "not the text; the oracle partitions by the normalized string "
        "itself (equivalent modulo md5 collisions).",
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    rep = (
        table(spark, sf_dir, "documents")
        .select(F.unhex(F.md5(norm)).alias("h"), "doc_id", "lang", "source")
        .groupBy("h")
        .agg(F.min_by(F.struct("doc_id", "lang", "source"), "doc_id").alias("s"),
             F.count(F.lit(1)).cast("bigint").alias("dup_count"))
    )
    return rep.select(F.col("s.doc_id").alias("doc_id"),
                      F.col("s.lang").alias("lang"),
                      F.col("s.source").alias("source"),
                      "dup_count")


@register(
    "q_dedup_source_stats",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
             AS dup_rate
    FROM documents GROUP BY source
    """,
    doc="Dedup-rate audit per source: how duplicated is each ingest "
        "feed, BEFORE committing to a full dedup run — the triage "
        "number that decides where near-dup compute goes. Exact "
        "distinct over the 16-byte binary md5 digest (never the text); "
        "Catalyst expands to the standard two-phase count-distinct. "
        "Output is one row per source at any scale.",
)
def q_dedup_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = F.count(F.lit(1))
    nd = F.countDistinct(F.unhex(F.md5(F.col("text"))))
    return (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(n.cast("bigint").alias("n_docs"),
             nd.cast("bigint").alias("n_unique"),
             (F.lit(1.0) - nd.cast("double") / n).alias("dup_rate"))
    )


@register(
    "q_train_order",
    """
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                AS BIGINT) % 8 AS INTEGER) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                          AS BIGINT) % 8
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER)
             AS pos
    FROM documents
    """,
    doc="Deterministic training-order shuffle: md5-of-id assigns each "
        "document a shard and a pseudo-random position within it — the "
        "reproducible global shuffle a training pipeline runs before "
        "sequence packing, with no RNG state (re-running any partition "
        "or changing parallelism yields byte-identical order). One "
        "shuffle on the shard key; each shard orders independently, so "
        "at 100 TB the sort is per-shard (corpus/n_shards rows), never "
        "global.",
)
def q_train_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import md5_32

    h = F.md5(F.col("doc_id").cast("string"))
    shard = F.pmod(md5_32(F.col("doc_id").cast("string")),
                   F.lit(8)).cast("int")
    w = Window.partitionBy("shard").orderBy("_h", "doc_id")
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", h.alias("_h"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


@register(
    "q_quality_buckets",
    """
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM (
      SELECT lang, n_chars,
             NTILE(3) OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS bucket
      FROM documents) t
    GROUP BY lang, bucket
    """,
    doc="CCNet-style per-language quality tiers: rank documents within "
        "each language and cut into head/middle/tail thirds (bucket "
        "1/2/3), then profile each tier. The ordering key here is the "
        "available length signal; in production the same plan ranks by "
        "any score column (LM perplexity in CCNet) — the operator is the "
        "deterministic NTILE with a unique tie-break, not the score. One "
        "shuffle on lang shared by the window and the aggregation.",
)
def q_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        table(spark, sf_dir, "documents")
        .select("lang", "n_chars",
                F.ntile(3).over(w).cast("bigint").alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             (F.sum("n_chars").cast("double") / F.count(F.lit(1)))
             .alias("avg_chars"))
    )
