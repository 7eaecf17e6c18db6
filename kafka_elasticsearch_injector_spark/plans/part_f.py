"""Part F — corpus-curation round 7 additions: winnowing pair
discovery (MOSS overlap detection), token-familiarity quality
scoring, cross-lingual near-dup audit.

Reference parity note: none of this exists in the reference (its
pipeline is Kafka→decode→ES, src/kafka/consumer.go +
src/elasticsearch/elasticsearch.go:60-124); these extend the
training-corpus operator family (Parts C/D/E).

Cross-engine determinism notes:
- every emitted ratio is an integer-operand IEEE division
  (bit-identical across engines, ROUNDING.md);
- q_crosslingual_dups' max_jac is a MAX over per-pair Jaccards each
  computed as one |∩|/|∪| division of exact integers — MAX is
  order-insensitive, so the aggregate is safe where a SUM of doubles
  would not be;
- md5 stays the shared hash primitive ('0x'||substr cast in DuckDB ↔
  conv(…,16,10) in Spark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from .part_c import _minhash_pairs_sql
from .part_e import _WIN_K, _WIN_W, _WINNOW_SEL_CTES
from .registry import register

# ===================================================================
# Winnowing pair discovery (MOSS overlap detection)
# ===================================================================

_WP_CEILING, _WP_MIN_SHARED = 16, 2


@register(
    "q_winnow_pairs",
    f"""
    WITH {_WINNOW_SEL_CTES},
    fps AS (
      SELECT DISTINCT doc_id, CAST(floor(s / 65536) AS BIGINT) AS fp
      FROM sel
    ), sz AS (
      SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id
    ), keep AS (
      SELECT fp, doc_id FROM fps
      QUALIFY COUNT(*) OVER (PARTITION BY fp) <= {_WP_CEILING}
    ), p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS n_shared
      FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_WP_MIN_SHARED}
    )
    SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
           CAST(n_shared AS DOUBLE) / least(sa.n_fp, sb.n_fp) AS overlap
    FROM p
      JOIN sz sa ON sa.doc_id = doc_a
      JOIN sz sb ON sb.doc_id = doc_b
    """,
    doc="MOSS overlap pair discovery over the winnowing sketch "
        "(operators/text.winnow_pairs): posting join on selected "
        "fingerprints with a df-ceiling dropping boilerplate "
        "fingerprints before the self-join (fan-out ≤ ceiling², a "
        "recall-for-cost trade); |sketch| "
        "rides along each posting row, so containment needs no doc-"
        "size side join; overlap is an integer-operand division.",
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import winnow_pairs

    return winnow_pairs(table(spark, sf_dir, "documents"),
                        k=_WIN_K, w=_WIN_W,
                        df_ceiling=_WP_CEILING, min_shared=_WP_MIN_SHARED)


# ===================================================================
# Token-familiarity quality signal
# ===================================================================


@register(
    "q_token_familiarity",
    """
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ), dfreq AS (
      SELECT tok, COUNT(*) AS df FROM dt GROUP BY tok
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(df) AS BIGINT) AS df_sum,
           CAST(SUM(df) AS DOUBLE) / COUNT(*) AS familiarity
    FROM dt JOIN dfreq USING (tok)
    GROUP BY doc_id
    """,
    doc="Per-doc typicality score (CCNet-flavored LM-free quality "
        "proxy): mean corpus document-frequency of the doc's distinct "
        "tokens — OOV/gibberish docs score low, boilerplate high. "
        "operators/text.token_familiarity: row-local array_distinct; "
        "the df profile is a skew-immune partial-aggregated "
        "groupBy(token), and the join back broadcasts while the "
        "vocabulary fits (AQE skew-join past that) — Zipf-safe by "
        "construction; familiarity is an integer-operand division.",
)
def q_token_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import token_familiarity

    return token_familiarity(table(spark, sf_dir, "documents"))


# ===================================================================
# Cross-lingual near-dup audit
# ===================================================================

_XL_SHINGLE, _XL_THRESH = 2, 0.35


@register(
    "q_crosslingual_dups",
    f"""
    WITH p AS (
      {_minhash_pairs_sql(_XL_THRESH, shingle_n=_XL_SHINGLE)}
    )
    SELECT least(la.lang, lb.lang) AS lang_lo,
           greatest(la.lang, lb.lang) AS lang_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           MAX(jac) AS max_jac
    FROM p
      JOIN documents la ON la.doc_id = p.doc_a
      JOIN documents lb ON lb.doc_id = p.doc_b
    WHERE la.lang <> lb.lang
    GROUP BY 1, 2
    """,
    doc="Cross-lingual near-duplicate audit (translated/copied "
        "leakage detector): bigram-shingle MinHash+LSH pairs whose "
        "endpoints carry DIFFERENT language labels, rolled up to a "
        "(lang_lo, lang_hi) matrix bounded by langs² rows. Reuses the "
        "production banded-LSH topology (operators/dedup."
        "minhash_lsh_pairs). The lang lookups are deliberately NOT "
        "hinted broadcast: at corpus scale the (doc_id, lang) "
        "projection is corpus-sized while the verified PAIR set is "
        "the small side — AQE broadcasts whichever side is actually "
        "small at runtime; max_jac is an order-insensitive MAX over "
        "bit-exact per-pair divisions.",
)
def q_crosslingual_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import parquet_row_count
    from ..operators.dedup import minhash_lsh_pairs

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, k=8, rows_per_band=2, shingle_n=_XL_SHINGLE,
        threshold=_XL_THRESH,
        size_hint=parquet_row_count(sf_dir, "documents"))
    lang = docs.select("doc_id", "lang")
    la = lang.select(F.col("doc_id").alias("doc_a"),
                     F.col("lang").alias("lang_a"))
    lb = lang.select(F.col("doc_id").alias("doc_b"),
                     F.col("lang").alias("lang_b"))
    return (pairs.join(la, "doc_a").join(lb, "doc_b")
            .filter(F.col("lang_a") != F.col("lang_b"))
            .groupBy(F.least("lang_a", "lang_b").alias("lang_lo"),
                     F.greatest("lang_a", "lang_b").alias("lang_hi"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.max("jac").alias("max_jac")))
