"""Part G — corpus-accounting round 8 additions: dedup survivor
rollup, benchmark n-gram coverage, length-filter threshold sweep,
token-mass Gini, Heaps'-law vocabulary growth, packing efficiency,
LSH band tuning, candidate-similarity histogram, and LSH recall vs
exact ground truth.

Reference parity note: none of this exists in the reference (its
pipeline ends at routing records into Elasticsearch,
src/kafka/consumer.go + src/elasticsearch/elasticsearch.go:60-124);
these extend the training-corpus operator family (Parts C-F) with the
accounting/audit queries a curation run logs to tune itself.

Cross-engine determinism notes:
- every emitted ratio (coverage, shares, type_token_ratio) is an
  integer-operand IEEE division — bit-identical across engines
  (ROUNDING.md);
- gini uses the exact rank formula Σᵢ(2i−n−1)wᵢ / (n·Σw) with ties
  broken by group name, so numerator and denominator are exact
  integers and the single division is bit-exact; the numerator is
  non-negative by construction (w ascending in i), so no -0.0 hazard;
- ntile(10) tranche assignment is the standard SQL NTILE (earlier
  tranches absorb the remainder) over the unique doc_id order —
  the oracle says NTILE literally; the Spark side reproduces it
  exactly via curation.ntile_by_id's broadcast boundary ids (no
  global sort window — see its docstring for the equivalence proof).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from .part_c import _MH_CLUSTER_CTES, _MH_CLUSTER_SELECT
from .registry import register

# ===================================================================
# Dedup survivor rollup
# ===================================================================


@register(
    "q_dedup_survivors",
    f"""
    WITH RECURSIVE {_MH_CLUSTER_CTES},
    clusters AS ({_MH_CLUSTER_SELECT})
    SELECT cluster_id AS survivor_id,
           CAST(COUNT(*) AS BIGINT) AS n_merged,
           CAST(SUM(CASE WHEN is_canonical THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_kept,
           CAST(SUM(CASE WHEN NOT is_canonical THEN n_chars ELSE 0 END)
                AS BIGINT) AS chars_dropped
    FROM clusters JOIN documents USING (doc_id)
    GROUP BY cluster_id HAVING COUNT(*) >= 2
    """,
    doc="The dedup run's actionable output (operators/dedup."
        "dedup_survivors): one row per multi-member MinHash→LSH→CC "
        "cluster with the surviving doc id and the merged volume "
        "(chars kept vs dropped) — the relation an incremental "
        "pipeline anti-joins against, complementing "
        "q_dedup_cluster_sizes' tuning histogram. One id equi-join + "
        "one partial-aggregated rollup downstream of the shared "
        "clustering; all counts exact BIGINTs.",
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_survivors
    from .part_c import q_dedup_minhash_cluster

    docs = table(spark, sf_dir, "documents")
    clusters = q_dedup_minhash_cluster(spark, sf_dir)
    return dedup_survivors(clusters, docs)


# ===================================================================
# Benchmark n-gram coverage
# ===================================================================

_NC_N, _NC_MOD = 2, 97

# The oracle's gram expression is GENERATED from _NC_N (ADVICE r8:
# a hardcoded bigram concat would silently desync the declared pair
# if _NC_N were ever bumped) — same discipline as _minhash_pairs_sql's
# shingle_n parametrization.
_NC_GRAM = " || ' ' || ".join(f"tk[pos+{i}]" if i else "tk[pos]"
                              for i in range(_NC_N))


@register(
    "q_ngram_coverage",
    f"""
    WITH pg AS (
      SELECT DISTINCT doc_id, {_NC_GRAM} AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS tk,
                   unnest(range(1, greatest(len(string_split(text, ' '))
                                            - {_NC_N - 1}, 0) + 1)) AS pos
            FROM documents WHERE doc_id % {_NC_MOD} = 0) t
    ), cg AS (
      SELECT DISTINCT {_NC_GRAM} AS g
      FROM (SELECT string_split(text, ' ') AS tk,
                   unnest(range(1, greatest(len(string_split(text, ' '))
                                            - {_NC_N - 1}, 0) + 1)) AS pos
            FROM documents WHERE doc_id % {_NC_MOD} <> 0) t
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN cg.g IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           CAST(SUM(CASE WHEN cg.g IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS coverage
    FROM pg LEFT JOIN cg USING (g)
    GROUP BY doc_id
    """,
    doc="Benchmark n-gram coverage audit (operators/curation."
        "ngram_coverage): per eval-set document, the fraction of its "
        "distinct word bigrams appearing ANYWHERE in the training "
        "corpus — the decontamination-tuning signal (coverage ≈ 1 "
        "means the benchmark is memorizable from the mix even when no "
        "single document trips the overlap screen). Probe = the "
        f"deterministic doc_id % {_NC_MOD} == 0 slice. The corpus "
        "side is one scan filtered by the BROADCAST probe-gram set "
        "before any aggregation; only probe-sized relations shuffle; "
        "coverage is an integer-operand division.",
)
def q_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import ngram_coverage

    docs = table(spark, sf_dir, "documents")
    probe = docs.filter(F.col("doc_id") % _NC_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _NC_MOD != 0)
    return ngram_coverage(corpus, probe, n=_NC_N)


# ===================================================================
# Length-filter threshold sweep
# ===================================================================

_LF_GRID = (8, 16, 32, 64)


@register(
    "q_length_filter_sweep",
    f"""
    WITH base AS (
      SELECT len(string_split(text, ' ')) AS n FROM documents
    ), tot AS (
      SELECT COUNT(*) AS docs, SUM(n) AS toks FROM base
    ), grid AS (
      SELECT unnest([{", ".join(str(t) for t in _LF_GRID)}]) AS t
    )
    SELECT CAST(t AS BIGINT) AS min_tokens,
           CAST(SUM(CASE WHEN n >= t THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(SUM(CASE WHEN n >= t THEN n ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           CAST(SUM(CASE WHEN n >= t THEN 1 ELSE 0 END) AS DOUBLE)
             / MIN(docs) AS docs_share,
           CAST(SUM(CASE WHEN n >= t THEN n ELSE 0 END) AS DOUBLE)
             / MIN(toks) AS tokens_share
    FROM base CROSS JOIN tot CROSS JOIN grid
    GROUP BY t
    """,
    doc="Length-filter threshold sweep (operators/curation."
        "length_filter_sweep): docs/tokens surviving each candidate "
        "minimum-token cutoff, in ONE corpus scan — the audit that "
        "picks the length filter instead of guessing it (C4's "
        "3-sentence floor is corpus-specific). Single partial-"
        "aggregated reduce with 2·|grid|+2 conditional lanes; grid "
        "rows inlined from the one aggregate row; shares are integer-"
        "operand divisions.",
)
def q_length_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import length_filter_sweep

    return length_filter_sweep(table(spark, sf_dir, "documents"),
                               list(_LF_GRID))


# ===================================================================
# Token-mass Gini
# ===================================================================


@register(
    "q_gini_tokens",
    """
    WITH per AS (
      SELECT source AS grp, SUM(len(string_split(text, ' '))) AS w
      FROM documents GROUP BY source
      HAVING SUM(len(string_split(text, ' '))) IS NOT NULL
    ), ranked AS (
      SELECT CAST(w AS BIGINT) AS w,
             ROW_NUMBER() OVER (ORDER BY w, grp) AS i,
             COUNT(*) OVER () AS n,
             CAST(SUM(w) OVER () AS BIGINT) AS tw
      FROM per
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_groups,
           CAST(MIN(tw) AS BIGINT) AS total_tokens,
           CAST(SUM((2 * i - n - 1) * w) AS DOUBLE) / MIN(n * tw) AS gini
    FROM ranked
    """,
    doc="Token-mass Gini across sources (operators/curation."
        "gini_tokens): the imbalance coefficient a mixture design "
        "quotes next to q_hhi_concentration — 0 = even token budget, "
        "→1 = one domain dominates. Exact rank formula "
        "Σ(2i−n−1)wᵢ/(n·Σw), ties broken by source name: integer "
        "numerator/denominator, ONE bit-exact division. Partial-"
        "aggregated per-source mass; everything after runs on "
        "|sources| rows.",
)
def q_gini_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import gini_tokens

    return gini_tokens(table(spark, sf_dir, "documents"))


# ===================================================================
# Vocabulary-growth (Heaps'-law) audit
# ===================================================================

_VG_BUCKETS = 10


@register(
    "q_vocab_growth",
    f"""
    WITH slim AS (
      SELECT doc_id, ntile({_VG_BUCKETS}) OVER (ORDER BY doc_id) AS bucket
      FROM documents
    ), base AS (
      SELECT bucket, string_split(text, ' ') AS tk
      FROM documents JOIN slim USING (doc_id)
    ), tok_mass AS (
      SELECT bucket, SUM(len(tk)) AS toks FROM base GROUP BY bucket
    ), first_seen AS (
      SELECT bucket, COUNT(*) AS types FROM (
        SELECT tok, MIN(bucket) AS bucket
        FROM (SELECT bucket, unnest(tk) AS tok FROM base)
        GROUP BY tok)
      GROUP BY bucket
    ), cum AS (
      SELECT bucket,
             SUM(toks) OVER (ORDER BY bucket) AS cum_tokens,
             SUM(COALESCE(types, 0)) OVER (ORDER BY bucket) AS cum_types
      FROM tok_mass LEFT JOIN first_seen USING (bucket)
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(cum_types AS BIGINT) AS cum_types,
           CAST(cum_types AS DOUBLE) / CAST(cum_tokens AS BIGINT)
             AS type_token_ratio
    FROM cum
    """,
    doc="Heaps'-law vocabulary-growth audit (operators/curation."
        "vocab_growth): cumulative distinct vocabulary vs cumulative "
        "token mass across 10 equal-count tranches of the corpus in "
        "id order — the does-more-data-still-buy-new-vocabulary curve "
        "(early flattening ⇒ the corpus is saturating). Tranche "
        "assignment is curation.ntile_by_id: exact NTILE semantics "
        "with the 9 boundary ids extracted via coarse-group-"
        "partitioned windows over a slim id projection and BROADCAST, "
        "so bucket is a map-side column (no single-task ntile window "
        "anywhere — plan-gated); first-tranche-per-token is a "
        "Zipf-immune partial-aggregated groupBy(token); cumsums run "
        "on 10 rows. type_token_ratio is an integer-operand division.",
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import vocab_growth

    return vocab_growth(table(spark, sf_dir, "documents"),
                        buckets=_VG_BUCKETS)


# ===================================================================
# Packing-efficiency audit
# ===================================================================

_PE_BUDGET, _PE_SHARDS = 512, 8


@register(
    "q_packing_efficiency",
    f"""
    WITH packed AS (
      SELECT doc_id,
             CAST(doc_id % {_PE_SHARDS} AS INTEGER) AS shard,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
             CAST(SUM(len(string_split(text, ' '))) OVER (
                    PARTITION BY doc_id % {_PE_SHARDS} ORDER BY doc_id)
                  - len(string_split(text, ' ')) AS BIGINT) AS start_tok
      FROM documents
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST((SUM(n_tokens) + {_PE_BUDGET - 1}) // {_PE_BUDGET}
                AS BIGINT) AS n_chunks,
           CAST((SUM(n_tokens) + {_PE_BUDGET - 1}) // {_PE_BUDGET}
                * {_PE_BUDGET} - SUM(n_tokens) AS BIGINT)
             AS padding_tokens,
           CAST(SUM(CASE WHEN start_tok % {_PE_BUDGET} + n_tokens
                              > {_PE_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_straddling,
           CAST(SUM(n_tokens) AS DOUBLE)
             / ((SUM(n_tokens) + {_PE_BUDGET - 1}) // {_PE_BUDGET}
                * {_PE_BUDGET}) AS fill_ratio
    FROM packed GROUP BY shard
    """,
    doc="Packing-plan audit (operators/curation.packing_efficiency) "
        "over q_pack_sequences' concat-and-chunk layout: per shard, "
        "sequence fill ratio (only the final chunk pads), padding "
        "volume, and how many documents straddle a chunk boundary — "
        "the two numbers that decide whether budget=512 fits the "
        "corpus. One partial-aggregable rollup over the packing "
        "window; fill_ratio is an integer-operand division; ceil-div "
        "spelled (x + b - 1) DIV b so both engines stay integral.",
)
def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import packing_efficiency

    return packing_efficiency(table(spark, sf_dir, "documents"),
                              budget=_PE_BUDGET, n_shards=_PE_SHARDS)


# ===================================================================
# LSH banding-parameter tuning (S-curve audit)
# ===================================================================

_BT_CONFIGS = ((1, 8), (2, 4), (4, 2), (8, 1))   # (rows_per_band, bands)
_BT_DUP = 0.5
_BT_Q = 1048576          # 2^20 quantizer — exact scaling, exact floor


def _bt_pow_sql(expr: str, e: int) -> str:
    out = expr
    for _ in range(e - 1):
        out = f"({out} * {expr})"
    return out


def _bt_lanes_sql() -> str:
    lanes = [f"CAST(SUM(CASE WHEN jac >= {_BT_DUP} THEN 1 ELSE 0 END) "
             "AS BIGINT) AS _nd",
             f"CAST(SUM(CASE WHEN jac < {_BT_DUP} THEN 1 ELSE 0 END) "
             "AS BIGINT) AS _no"]
    for r, b in _BT_CONFIGS:
        s_r = _bt_pow_sql("jac", r)
        p = f"(1.0 - {_bt_pow_sql(f'(1.0 - {s_r})', b)})"
        q = f"CAST(floor({p} * {_BT_Q}.0) AS BIGINT)"
        lanes.append(f"CAST(SUM(CASE WHEN jac >= {_BT_DUP} THEN {q} "
                     f"ELSE 0 END) AS BIGINT) AS _d{r}_{b}")
        lanes.append(f"CAST(SUM(CASE WHEN jac < {_BT_DUP} THEN {q} "
                     f"ELSE 0 END) AS BIGINT) AS _o{r}_{b}")
    return ", ".join(lanes)


def _bt_rows_sql() -> str:
    # Mirrors the operator exactly (ADVICE r8): the WHERE clause is
    # the SQL twin of the Spark-side `_nd + _no > 0` empty-input
    # filter (an empty candidate relation aggregates to one all-NULL
    # lanes row — emit ZERO config rows, not |configs| NULL rows),
    # and the CASE WHEN guards are the twin of the F.when zero-class
    # guards (x/0 is NULL in non-ANSI Spark but NaN/Inf in DuckDB).
    selects = []
    for r, b in _BT_CONFIGS:
        selects.append(f"""
      SELECT CAST({r} AS BIGINT) AS rows_per_band,
             CAST({b} AS BIGINT) AS bands,
             _nd AS n_dup_pairs, _no AS n_other_pairs,
             CASE WHEN _nd > 0
                  THEN CAST(_d{r}_{b} AS DOUBLE) / (_nd * {_BT_Q})
             END AS expected_dup_recall,
             CASE WHEN _no > 0
                  THEN CAST(_o{r}_{b} AS DOUBLE) / (_no * {_BT_Q})
             END AS expected_other_rate
      FROM lanes
      WHERE COALESCE(_nd, 0) + COALESCE(_no, 0) > 0""")
    return "\n      UNION ALL".join(selects)


def _bt_sql() -> str:
    from .part_c import _minhash_pairs_sql

    return f"""
    WITH p AS (
      {_minhash_pairs_sql(0.0, shingle_n=1)}
    ), lanes AS (
      SELECT {_bt_lanes_sql()} FROM p
    )
    {_bt_rows_sql()}
    """


@register(
    "q_lsh_band_tuning",
    _bt_sql(),
    doc="LSH banding-parameter tuning (operators/dedup."
        "lsh_band_tuning): evaluate the S-curve p(s) = 1 − (1 − sʳ)ᵇ "
        "for every k=8 split (r×b ∈ 1×8, 2×4, 4×2, 8×1) against the "
        "OBSERVED candidate-pair Jaccard distribution — expected "
        "recall over true near-dups (jac ≥ 0.5) vs expected pass-"
        "through of everything else, so r/b is picked from this "
        "corpus's actual similarity mass, not the textbook curve. "
        "Cross-engine exactness: per-pair p is quantized to "
        "floor(p·2²⁰) BEFORE summation (integer-operand s, explicit "
        "left-associated products, power-of-two scaling), so the sums "
        "are exact BIGINTs and the ratios integer-operand divisions — "
        "no order-dependent double accumulation. One partial-"
        "aggregable pass over the production candidate pairs.",
)
def q_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import parquet_row_count, small_vocab_probe
    from ..operators.dedup import lsh_band_tuning, minhash_lsh_pairs

    docs = table(spark, sf_dir, "documents")
    # vocab_hint enables the bitmask verify — without it the exact-
    # Jaccard verify on every threshold-0 candidate is array_intersect
    # over ~10M pairs (measured 14.8 s vs 2 s at sf0.1, the same trap
    # q_minhash_calibration documents).
    pairs = minhash_lsh_pairs(
        docs, k=8, rows_per_band=2, shingle_n=1, threshold=0.0,
        size_hint=parquet_row_count(sf_dir, "documents"),
        vocab_hint=small_vocab_probe(sf_dir, "documents"))
    return lsh_band_tuning(pairs, list(_BT_CONFIGS), dup_threshold=_BT_DUP)


# ===================================================================
# Candidate-similarity histogram
# ===================================================================

_JH_BUCKETS = 20


@register(
    "q_candidate_jac_histogram",
    f"""
    WITH p AS (
      {{pairs}}
    )
    SELECT bucket, n_pairs,
           CAST(n_pairs AS DOUBLE) / SUM(n_pairs) OVER () AS share
    FROM (
      SELECT CAST(floor(jac * {_JH_BUCKETS}.0) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM p GROUP BY bucket)
    """.format(pairs=__import__(
        "kafka_elasticsearch_injector_spark.plans.part_c",
        fromlist=["_minhash_pairs_sql"])._minhash_pairs_sql(
            0.0, shingle_n=1)),
    doc="Candidate-pair similarity histogram (floor(jac·20) buckets "
        "over the production threshold-0 LSH candidates): the observed "
        "distribution q_lsh_band_tuning integrates over and the plot a "
        "dedup run logs before picking its threshold. floor of a "
        "single IEEE multiply is deterministic cross-engine; share "
        "divides exact integers via an unpartitioned window over the "
        "≤ 21 bucket rows (no eager total count). One partial-"
        "aggregable pass.",
)
def q_candidate_jac_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..io import parquet_row_count, small_vocab_probe
    from ..operators.dedup import minhash_lsh_pairs

    docs = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, k=8, rows_per_band=2, shingle_n=1, threshold=0.0,
        size_hint=parquet_row_count(sf_dir, "documents"),
        vocab_hint=small_vocab_probe(sf_dir, "documents"))
    hist = (pairs
            .groupBy(F.floor(F.col("jac") * _JH_BUCKETS).cast("bigint")
                     .alias("bucket"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs")))
    total = F.sum("n_pairs").over(Window.partitionBy(F.lit(1)))
    return hist.select(
        "bucket", "n_pairs",
        (F.col("n_pairs").cast("double") / total).alias("share"))


# ===================================================================
# LSH candidate-generation recall vs exact ground truth
# ===================================================================

_DR_THRESH = 0.5


def _dr_sql() -> str:
    from .part_c import _minhash_pairs_sql, _ngram_pairs_sql

    return f"""
    WITH exact AS (
      {_ngram_pairs_sql(_DR_THRESH)}
    ), lsh AS (
      {_minhash_pairs_sql(_DR_THRESH, shingle_n=2)}
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
    "q_dedup_recall",
    _dr_sql(),
    doc="LSH candidate-GENERATION recall against exact ground truth — "
        "the text-dedup twin of q_ann_recall, completing the sketch-"
        "evaluation trio (calibration = per-pair estimate error, "
        "band tuning = expected S-curve, THIS = realized recall): "
        "exact bigram-Jaccard pairs ≥ 0.5 from the blocked tile kernel "
        "(quadratic truth, tile-bounded) vs the banded MinHash path at "
        "the same threshold. Verified LSH pairs are a SUBSET of the "
        "truth (the verify stage computes the identical Jaccard), so "
        "recall = |lsh| / |exact| — two count aggregates, one "
        "integer-operand division; empty truth emits zero rows in "
        "both engines. At 100 TB the quadratic truth runs on a "
        "hash-sampled sub-corpus via dedup_recall's sample_mod knob "
        "(seedless md5 selection; see its docstring) — this declared "
        "query is the full-corpus audit.",
)
def q_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import parquet_row_count
    from ..operators.dedup import dedup_recall

    # Full-corpus evaluation at bench scale; dedup_recall's sample_mod
    # knob is the documented 100 TB contract (hash-sampled truth
    # sub-corpus) — the declared query stays the exact audit.
    return dedup_recall(table(spark, sf_dir, "documents"), n=2,
                        threshold=_DR_THRESH, k=8, rows_per_band=2,
                        size_hint=parquet_row_count(sf_dir, "documents"))


# ===================================================================
# Mixture-sampling convergence audit
# ===================================================================


@register(
    "q_mixture_convergence",
    """
    WITH rates AS (
      SELECT source, COUNT(*) AS n_total,
             SUM(CASE WHEN CAST(CAST('0x' ||
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) AS DOUBLE) / 4294967296.0
                      < {rate} THEN 1 ELSE 0 END) AS n_kept,
             CAST(MIN({rate}) AS DOUBLE) AS requested_rate
      FROM documents GROUP BY source
    )
    SELECT source, CAST(n_total AS BIGINT) AS n_total,
           CAST(n_kept AS BIGINT) AS n_kept,
           requested_rate,
           CAST(n_kept AS DOUBLE) / n_total AS realized_rate
    FROM rates
    """.format(rate=__import__(
        "kafka_elasticsearch_injector_spark.plans.part_c",
        fromlist=["_mix_rate_sql"])._mix_rate_sql()),
    doc="Mixture-sampling convergence audit: per source, the REALIZED "
        "keep rate of the deterministic md5-threshold sampler next to "
        "the requested rate — the log line that says whether the "
        "domain mix landed where the design asked (hash sampling "
        "converges at 1/√n; small sources can sit far off). One "
        "partial-aggregated rollup, conditional-count lanes share the "
        "q_mixture_sample threshold expression verbatim; realized "
        "rate is an integer-operand division, requested rate a plan "
        "literal.",
)
def q_mixture_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import _TWO_32
    from .part_c import _MIX_DEFAULT, _MIX_RATES

    docs = table(spark, sf_dir, "documents")
    u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16, 10).cast("bigint") / F.lit(_TWO_32))
    rate = F.lit(float(_MIX_DEFAULT))
    for key, r in sorted(_MIX_RATES.items()):
        rate = F.when(F.col("source") == key, F.lit(float(r))).otherwise(rate)
    return (docs.select("source", u.alias("_u"), rate.alias("_r"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_total"),
                 F.sum(F.when(F.col("_u") < F.col("_r"), 1).otherwise(0))
                 .cast("bigint").alias("n_kept"),
                 F.min("_r").alias("requested_rate"),
                 (F.sum(F.when(F.col("_u") < F.col("_r"), 1).otherwise(0))
                  .cast("double") / F.count(F.lit(1)))
                 .alias("realized_rate")))
