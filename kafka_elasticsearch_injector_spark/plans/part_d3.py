"""Part D3 — time-series and product-analytics operators over the
event stream (gap-filled resampling, OHLC candles, sequential
conversion funnel) plus two similarity-layer completions (kNN label
classification, Levenshtein-verified fuzzy dedup).

Cross-engine determinism notes specific to this file:
- arg_min/arg_max composite tie-breaks are sortable STRINGS
  (zero-padded micros + zero-padded id): DuckDB's arg_min has no
  struct-key overload, and a numeric ts*K+id key overflows BIGINT.
- Calendar sequences come from sequence()/generate_series() with both
  endpoints day-truncated, so the bucket sets are identical by
  construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import table
from ..operators.scale import fill_cluster, no_pushdown
from ._util import as_double6, dec
from .registry import register

# ------------------------------------------------- time-series resample


@register(
    "q_gapfill_daily",
    """
    WITH spans AS (
      SELECT user_id,
             DATE_TRUNC('day', MIN(ts)) AS d0,
             DATE_TRUNC('day', MAX(ts)) AS d1
      FROM events GROUP BY user_id
    ), calendar AS (
      SELECT user_id, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
      FROM spans
    ), daily AS (
      SELECT user_id, DATE_TRUNC('day', ts) AS day, COUNT(*) AS n
      FROM events GROUP BY user_id, DATE_TRUNC('day', ts)
    )
    SELECT c.user_id, c.day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events
    FROM calendar c LEFT JOIN daily d
      ON c.user_id = d.user_id AND c.day = d.day
    """,
    doc="Gap-filled daily resample: every user gets a dense calendar "
        "row for every day between their first and last event, with "
        "zero-filled counts — the regularization step before any "
        "window/forecast model consumes event data. The calendar "
        "explodes from per-user (min, max) spans (one agg row per "
        "user, NOT a global calendar cross join), and the fill join "
        "is per-user equi-keyed. At 100 TB the span agg and the "
        "daily agg reuse the same user_id partitioning — two "
        "aggregations, one join, all on the same key.",
)
def q_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single fact scan: per-user spans derive from the per-(user, day)
    # aggregate (min/max over truncated days == truncated min/max ts),
    # not from a second pass over events — the KB-scale rollup carries
    # everything the calendar grid needs, and the spans shuffle plus
    # the grid join both reuse its user_id hash partitioning.
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1"))
    calendar = spans.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY")))
        .alias("day"))
    return (
        calendar.join(daily, ["user_id", "day"], "left")
        .select("user_id", "day",
                F.coalesce(F.col("n"), F.lit(0)).cast("bigint")
                .alias("n_events"))
    )


# A sortable composite tie-break: microsecond timestamp then unique
# event id, both zero-padded so string order == (ts, id) order.
_ORD_KEY_SQL = ("strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || "
                "lpad(CAST(event_id AS VARCHAR), 12, '0')")


def _ord_key() -> F.Column:
    return F.concat(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"))


@register(
    "q_resample_ohlc",
    f"""
    SELECT user_id, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
           ROUND(arg_min(value, {_ORD_KEY_SQL}), 6) + 0.0 AS open,
           ROUND(MAX(value), 6) + 0.0 AS high,
           ROUND(MIN(value), 6) + 0.0 AS low,
           ROUND(arg_max(value, {_ORD_KEY_SQL}), 6) + 0.0 AS close,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id, DATE_TRUNC('day', ts)
    """,
    doc="OHLC candle resample per (user, day): open/close are the "
        "first/last value by event time via arg_min/arg_max over a "
        "sortable (micros, id) string key — a unique tie-break, since "
        "argument aggregates with non-unique keys are nondeterministic "
        "in both engines. Entirely partial-aggregable: one shuffle of "
        "one candle per (user, day) per task. The streaming twin is a "
        "tumbling-window aggregate with the same five aggregates.",
)
def q_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").withColumn("_k", _ord_key())
    return (
        ev.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.round(F.min_by("value", "_k"), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", "_k"), 6).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "q_conversion_funnel",
    """
    WITH stage1 AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), stage2 AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN stage1 s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND e.ts > s.t_view
      GROUP BY e.user_id
    ), stage3 AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN stage2 s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.t_click
      GROUP BY e.user_id
    )
    SELECT
      (SELECT COUNT(*) FROM stage1) AS n_view,
      (SELECT COUNT(*) FROM stage2) AS n_click_after_view,
      (SELECT COUNT(*) FROM stage3) AS n_purchase_after_click
    """,
    doc="Sequential conversion funnel (view -> click-after-view -> "
        "purchase-after-click): each stage is the MIN event time of "
        "the stage type STRICTLY AFTER the user's previous-stage time "
        "— order matters, which is what separates a funnel from three "
        "counts. Every stage reuses the user_id partitioning of the "
        "one before (join + agg on the same key, no new shuffle "
        "shape); stage outputs are one row per surviving user, so "
        "each successive stage's input shrinks. The batch analog of "
        "the sessionized funnels product-analytics stores compute.",
)
def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (ev.filter(F.col("event_type") == "view")
          .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    s2 = (ev.filter(F.col("event_type") == "click")
          .join(s1, "user_id")
          .filter(F.col("ts") > F.col("t_view"))
          .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    s3 = (ev.filter(F.col("event_type") == "purchase")
          .join(s2, "user_id")
          .filter(F.col("ts") > F.col("t_click"))
          .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    n1 = s1.agg(F.count(F.lit(1)).alias("n_view"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n_click_after_view"))
    n3 = s3.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))
    return n1.crossJoin(n2).crossJoin(n3)


# ------------------------------------------------- similarity completions


@register(
    "q_knn_classify",
    """
    WITH probes AS (
      SELECT vec_id AS probe_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS pv
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT p.probe_id, e.label,
             ROW_NUMBER() OVER (PARTITION BY p.probe_id ORDER BY
               list_reduce(list_prepend(0.0, list_transform(range(1, 65),
                 i -> p.pv[i] * CAST(e.embedding[i] AS DOUBLE))),
                 (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_prepend(0.0,
                    list_transform(p.pv, x -> x * x)), (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_prepend(0.0,
                    list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                    (acc, x) -> acc + x)))
               DESC, e.vec_id) AS rn
      FROM probes p JOIN embeddings e ON e.vec_id >= 5
    )
    SELECT probe_id, label AS predicted_label, votes FROM (
      SELECT probe_id, label, COUNT(*) AS votes,
             ROW_NUMBER() OVER (PARTITION BY probe_id
                                ORDER BY COUNT(*) DESC, label) AS vr
      FROM scored WHERE rn <= 3
      GROUP BY probe_id, label) v
    WHERE vr = 1
    """,
    doc="kNN classification over the embedding column: majority label "
        "of the 3 nearest cosine neighbors per probe (ties break to "
        "the smallest label — spelled identically in both engines). "
        "Composes the declared brute-force search with a per-probe "
        "vote; at scale the neighbor stage swaps for the IVF/LSH "
        "plans unchanged, because the vote only sees (probe, label) "
        "pairs. Probes broadcast; the corpus is scanned once.",
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import vectors as V
    emb = table(spark, sf_dir, "embeddings")
    probes = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("probe_id"),
                V.to_double(F.col("embedding")).alias("pv"))
    )
    corpus = fill_cluster(emb.filter(F.col("vec_id") >= 5)).select(
        "vec_id", "label", V.to_double(F.col("embedding")).alias("vec"))
    w_nn = Window.partitionBy("probe_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id"))
    neigh = (
        F.broadcast(probes).join(corpus)
        .select("probe_id", "vec_id", "label",
                V.cosine(F.col("pv"), F.col("vec")).alias("_cos"))
        .withColumn("rn", F.row_number().over(w_nn))
        .filter(F.col("rn") <= 3)
    )
    w_vote = Window.partitionBy("probe_id").orderBy(
        F.col("votes").desc(), F.col("label"))
    return (
        neigh.groupBy("probe_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
        .withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select("probe_id", F.col("label").alias("predicted_label"), "votes")
    )


@register(
    "q_fuzzy_levenshtein",
    """
    WITH blocked AS (
      SELECT doc_id, lang, n_chars // 32 AS len_band,
             SUBSTRING(text, 1, 64) AS head
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_distance
    FROM blocked a JOIN blocked b
      ON a.lang = b.lang AND a.len_band = b.len_band
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= 12
    """,
    doc="Levenshtein-verified fuzzy dedup: candidate pairs are blocked "
        "on (lang, length band) — never all-pairs — and verified by "
        "edit distance over the 64-char head (the classic cheap proxy: "
        "near-dup documents rarely diverge in their opening bytes; "
        "full-text verify is the quadratic-DP step you only run on "
        "survivors). The equi-join on the blocking key is the same "
        "LSH-bucket shape as the minhash path, with edit distance as "
        "the in-bucket metric instead of Jaccard.",
)
def q_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    blocked = table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.floor(F.col("n_chars") / 32).alias("len_band"),
        F.substring("text", 1, 64).alias("head"))
    a = blocked.select(
        F.col("doc_id").alias("doc_a"), "lang", "len_band",
        F.col("head").alias("head_a"))
    b = blocked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"), F.col("len_band").alias("band_b"),
        F.col("head").alias("head_b"))
    # The threshold variant runs the BANDED DP (O((2k+1)·n) per pair,
    # not O(n²)) and returns -1 above the bound — same kept pairs and
    # distances, ~6× less work per candidate (measured 14.9 s → see
    # BENCH_DETAIL). The oracle's unbounded levenshtein only ever runs
    # at sf0.01.
    #
    # Explicit user repartition on the blocking keys (r15, guide §2.5):
    # the block shuffle is tiny in BYTES (~0.5 MB at sf0.1) but feeds
    # the per-pair DP, so AQE's byte-based partition coalescing was
    # collapsing it to 1-2 tasks and running the quadratic verify
    # nearly single-core (measured 3.7 s → 1.2 s, identical pairs).
    # A user-specified partition count is exempt from AQE coalescing;
    # defaultParallelism keeps it scale-adaptive, and at real scale
    # the byte-sized partitioning dominates anyway.
    par = spark.sparkContext.defaultParallelism
    a = a.repartition(par, "lang", "len_band")
    b = b.repartition(par, "lang_b", "band_b")
    dist = F.levenshtein("head_a", "head_b", 12)
    return (
        a.join(b, (a.lang == b.lang_b) & (a.len_band == b.band_b)
               & (a.doc_a < b.doc_b))
        .filter((dist >= 0) & (dist <= 12))
        .select("doc_a", "doc_b", dist.cast("bigint").alias("edit_distance"))
    )


# ------------------------------------------------- retrieval scoring


_BM25_TERMS = ("data", "table", "spark")
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "q_bm25",
    f"""
    WITH tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      WHERE tok IN ('data', 'table', 'spark')
      GROUP BY doc_id, tok
    ), dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ), scored AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ((s.n - tf.tf_df + 0.5) / (tf.tf_df + 0.5))
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1}
                  * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl)),
               6) AS DECIMAL(18,6)) AS term_score
      FROM (SELECT tf.*, d.df AS tf_df
            FROM tf JOIN (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok) d
              ON tf.tok = d.tok) tf
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id, ROUND(CAST(SUM(term_score) AS DOUBLE), 6) + 0.0 AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
    doc="BM25 retrieval scoring of a fixed 3-term query over the corpus "
        "— the lexical-retrieval ranker a data pipeline runs for "
        "contamination lookup and dedup triage. Determinism adaptation: "
        "the idf is the RATIONAL (N-df+0.5)/(df+0.5) without ln() "
        "(libm last-ulp differs across engines; monotone per term), "
        "and per-term scores are rounded to 6 then summed as EXACT "
        "decimals, so the cross-term accumulation is order-independent "
        "— the standard float-sum nondeterminism cannot arise. Plan "
        "(r9 rewrite): per-term tf and doc length are ROW-LOCAL array "
        "lanes (size/filter over the split — no explode, no "
        "per-(doc,term) shuffle), so the whole query is one stats "
        "pass (1-row aggregate over the lanes: n, avgdl, per-term "
        "df) broadcast onto one scoring pass — two text scans total "
        "(was four: tf and dl each re-derived for their downstream "
        "aggregate), zero joins, top-10 is TakeOrdered. The scoring "
        "arithmetic is operand-for-operand the formulation the "
        "oracle spells (identical doubles), and the cross-term sum "
        "is a fixed-width chain of exact decimals.",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both passes (stats, scoring) evaluate the per-term tf lanes below
    # their first exchange — one task each at bench scale (single-row-
    # group scan). Rebalance the shared base; no-op at real scale
    # (fill_cluster guard). Measured 0.325 → 0.298 s at sf0.1 (r16,
    # interleaved). The two passes still read the text column twice:
    # column pruning and the pushed tf filter specialize each side's
    # copy of the exchange (different ReadSchemas), so ReuseExchange
    # cannot fire — the r9 two-scan shape is unchanged, only
    # parallelized (r16 review finding; plans/r16/q_bm25_after.txt).
    docs = fill_cluster(table(spark, sf_dir, "documents")
                        .select("doc_id", "text"))
    toks = F.split("text", " ")

    def _term_eq(term: str):
        # one-arg lambda, built per term: PySpark gives a TWO-arg
        # higher-order-function lambda (element, index) semantics, so
        # a default-arg closure (lambda x, _t=term: ...) would bind
        # the INDEX column, not the term
        return lambda x: x == F.lit(term)

    lanes = [F.col("doc_id").alias("doc_id"), F.size(toks).alias("dl")]
    for i, t in enumerate(_BM25_TERMS):
        lanes.append(F.size(F.filter(toks, _term_eq(t))).alias(f"tf_{i}"))
    per = docs.select(*lanes)
    aggs = [F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("dl").cast("bigint")).cast("double")
             / F.count(F.lit(1))).alias("avgdl")]
    for i in range(len(_BM25_TERMS)):
        aggs.append(F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
                    .cast("bigint").alias(f"df_{i}"))
    stats = per.agg(*aggs)
    total = F.lit("0").cast("decimal(18,6)")
    any_tf = F.lit(False)
    for i in range(len(_BM25_TERMS)):
        tf = F.col(f"tf_{i}")
        idf = ((F.col("n") - F.col(f"df_{i}") + 0.5)
               / (F.col(f"df_{i}") + 0.5))
        tf_part = (tf * (_BM25_K1 + 1.0)) / (
            tf + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")))
        term_score = F.round(idf * tf_part, 6).cast("decimal(18,6)")
        total = total + F.when(tf > 0, term_score).otherwise(
            F.lit("0").cast("decimal(18,6)"))
        any_tf = any_tf | (tf > 0)
    # Pin the term filter ABOVE the rebalance: split-and-pushed, the
    # three interpreted filter lambdas re-serialize onto the narrow
    # pre-rebalance scan task — the exact case scale.no_pushdown
    # documents (r16 review finding; Filter(2) sat under Exchange(3)
    # in the first cut's after-plan).
    return (
        per.crossJoin(F.broadcast(stats))
        .filter(no_pushdown(any_tf.cast("int")) == 1)
        .select("doc_id", as_double6(total).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


# ------------------------------------------------- cohorts & anomalies


@register(
    "q_retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, CAST(DATE_TRUNC('day', MIN(ts)) AS TIMESTAMP)
               AS cohort_day
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP)
               AS active_day
      FROM events
    )
    SELECT f.cohort_day,
           CAST(DATE_DIFF('day', f.cohort_day, a.active_day) AS INT)
             AS day_offset,
           COUNT(*) AS n_active
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    GROUP BY f.cohort_day, DATE_DIFF('day', f.cohort_day, a.active_day)
    """,
    doc="Retention cohort matrix: users grouped by first-seen day, "
        "counted on each subsequent active day (offset 0 = cohort "
        "size). The classic product-analytics triangle. Three "
        "aggregations, all keyed on user_id then the KB-sized "
        "(cohort, offset) grid — the first-seen agg, the distinct "
        "active-day dedup, and the matrix count reuse one shuffle "
        "key; output is bounded by days², independent of corpus "
        "size.",
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single fact scan: the cohort day is the min of the user's
    # DISTINCT active days (trunc commutes with min), so it derives
    # from the deduped activity set — no second events scan, and the
    # firsts aggregate + the cohort join both reuse activity's
    # user_id hash partitioning.
    ev = table(spark, sf_dir, "events")
    activity = (
        ev.select("user_id", F.date_trunc("day", F.col("ts"))
                  .alias("active_day"))
        .distinct()
    )
    firsts = activity.groupBy("user_id").agg(
        F.min("active_day").alias("cohort_day"))
    return (
        firsts.join(activity, "user_id")
        .groupBy("cohort_day",
                 F.datediff("active_day", "cohort_day")
                 .cast("int").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "q_anomaly_days",
    """
    WITH daily AS (
      SELECT user_id, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day,
             COUNT(*) AS n
      FROM events GROUP BY user_id, DATE_TRUNC('day', ts)
    ), stats AS (
      SELECT user_id,
             CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_n,
             COUNT(*) AS n_days,
             CAST(SUM(n * n) AS DOUBLE) AS sum_sq
      FROM daily GROUP BY user_id
    )
    SELECT d.user_id, d.day, d.n AS n_events,
           ROUND((d.n - s.mean_n)
                 / sqrt((s.sum_sq - s.n_days * s.mean_n * s.mean_n)
                        / (s.n_days - 1)), 6) AS zscore
    FROM daily d JOIN stats s ON d.user_id = s.user_id
    WHERE s.n_days > 1
      AND (s.sum_sq - s.n_days * s.mean_n * s.mean_n) > 0
      AND (d.n - s.mean_n)
          / sqrt((s.sum_sq - s.n_days * s.mean_n * s.mean_n)
                 / (s.n_days - 1)) > 2.0
    """,
    doc="Per-user activity anomaly screen: days whose event count sits "
        "more than 2 sample standard deviations above that user's own "
        "mean. The variance is spelled from INTEGER power sums "
        "(sum, sum of squares, count) — exact at any accumulation "
        "order below 2^53, unlike stddev_samp over doubles whose "
        "merge order is engine-dependent; sqrt is IEEE-correctly- "
        "rounded everywhere. Two same-key aggregations and a "
        "broadcastable per-user stats join.",
)
def q_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy("user_id").agg(
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("mean_n"),
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("sum_sq"))
    var = (F.col("sum_sq") - F.col("n_days") * F.col("mean_n")
           * F.col("mean_n")) / (F.col("n_days") - 1)
    z = (F.col("n") - F.col("mean_n")) / F.sqrt(var)
    return (
        daily.join(stats, "user_id")
        .filter((F.col("n_days") > 1)
                & ((F.col("sum_sq") - F.col("n_days") * F.col("mean_n")
                    * F.col("mean_n")) > 0)
                & (z > 2.0))
        .select("user_id", "day", F.col("n").alias("n_events"),
                F.round(z, 6).alias("zscore"))
    )


@register(
    "q_cumulative_users",
    """
    WITH firsts AS (
      SELECT user_id, CAST(DATE_TRUNC('day', MIN(ts)) AS TIMESTAMP)
               AS first_day
      FROM events GROUP BY user_id
    ), per_day AS (
      SELECT first_day AS day, COUNT(*) AS new_users
      FROM firsts GROUP BY first_day
    )
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS total_users
    FROM per_day
    """,
    doc="Cumulative distinct users by day via the O(N) first-seen "
        "formulation: distinct-per-prefix is a quadratic trap "
        "(re-counting every prefix); instead each user contributes "
        "once at their first-seen day, and a running sum over the "
        "KB-sized per-day series yields the cumulative curve exactly. "
        "The only full-data shuffle is the per-user min; the window "
        "runs over one row per day — a SinglePartition sort of a "
        "year-sized series is free.",
)
def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("day"))
    per_day = firsts.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        "day", "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("total_users"))


# ------------------------------------------------- containment & lang eval


_CONTAIN_THRESH = 0.3


@register(
    "q_containment_pairs",
    f"""
    WITH grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || ' '
                    || string_split(text, ' ')[i+1])) AS g
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / len(a.g) AS containment
    FROM grams a JOIN grams b ON a.doc_id <> b.doc_id
    WHERE len(a.g) > 0
      AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) / len(a.g)
          >= {_CONTAIN_THRESH}
    """,
    doc="Asymmetric containment pairs (|A∩B| / |A| ≥ 0.3): catches "
        "quotation/subset duplication that symmetric Jaccard misses "
        "(a short doc fully contained in a long one scores low "
        "Jaccard but containment 1.0). Spark side is the blocked "
        "tile kernel (operators/blocked.py containment_pairs_blocked "
        "— directed emission from one sgemm intersection matrix per "
        "tile): its cost is N²/B² per task REGARDLESS of gram "
        "frequency skew, where the inverted-index posting join costs "
        "Σ df(g)² and degenerates on common grams (this corpus: 931 "
        "grams, median df 285 ⇒ 73M join rows, measured 58 s at "
        "sf0.1 vs ~1 s for the kernel). On large flat-vocabulary "
        "text the posting join + stop-gram df-ceiling is the "
        "alternative; at scale either runs AFTER LSH blocking. "
        "word_ngrams guards the 1-token-doc case (sequence(1,0) "
        "DESCENDS in Spark); the oracle is the quadratic "
        "list_intersect spelled directly.",
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import parquet_row_count
    from ..operators.blocked import containment_pairs_blocked
    from ..operators.dedup import gram_set
    docs = table(spark, sf_dir, "documents")
    # Rebalance the RAW scan before the bigram projection (guide §2.6
    # shape, r15): the interpreted word_ngrams/array_distinct HOF chain
    # otherwise evaluates below replicate_block_pairs' rebalance — i.e.
    # on the scan's few splits (ONE at sf0.1: measured 1.8 s
    # single-core for the projection alone, 3.2 s → 1.3 s end-to-end
    # after the fix, identical pairs). At scale the guard makes this a
    # no-op, same as every fill_cluster site.
    grams = fill_cluster(docs.select("doc_id", "text")).select(
        "doc_id", gram_set("text", 2).alias("g"))
    return containment_pairs_blocked(
        grams, id_col="doc_id", set_col="g", threshold=_CONTAIN_THRESH,
        size_hint=parquet_row_count(sf_dir, "documents"))


@register(
    "q_lang_confusion",
    """
    WITH markers(cand_lang, marker) AS (
      VALUES ('en', 'the'), ('de', 'der'), ('es', 'el'),
             ('fr', 'le'), ('zh', '的')
    ), counts AS (
      SELECT doc_id, cand_lang,
             len(list_filter(string_split(text, ' '), t -> t = marker))
               AS cnt
      FROM documents CROSS JOIN markers
    ), ranked AS (
      SELECT doc_id, cand_lang, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, cand_lang) AS rn
      FROM counts
    ), preds AS (
      SELECT doc_id,
             CASE WHEN cnt > 0 THEN cand_lang ELSE 'und' END AS pred_lang
      FROM ranked WHERE rn = 1
    )
    SELECT d.lang AS true_lang, p.pred_lang, COUNT(*) AS n
    FROM documents d JOIN preds p ON d.doc_id = p.doc_id
    GROUP BY d.lang, p.pred_lang
    """,
    doc="Language-ID confusion matrix: the declared heuristic "
        "classifier (q_lang_id) evaluated against the labeled lang "
        "column — the quality gate you run before trusting any "
        "language filter in a curation pipeline. Reuses the "
        "classifier plan unchanged; the matrix aggregation is over "
        "(true, pred) pairs, output bounded by langs², corpus-size "
        "independent.",
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as T

    docs = table(spark, sf_dir, "documents")
    preds = T.predict_language(spark, docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(preds, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ------------------------------------------------- multi-topic & robust stats


@register(
    "q_multi_topic_merge",
    """
    WITH merged AS (
      SELECT event_type AS topic,
             event_type || ':' || CAST(event_id AS VARCHAR) AS doc_id
      FROM events WHERE event_type IN ('click', 'view')
    )
    SELECT topic, COUNT(*) AS n_records,
           COUNT(DISTINCT doc_id) AS n_unique_ids
    FROM merged GROUP BY topic
    """,
    doc="Multi-topic ingestion merge — the reference consumes a TOPIC "
        "LIST into one pipeline (KAFKA_CONSUMER_TOPICS, reference "
        "src/injector/injector.go:12-14, src/kafka/consumer.go:36-47) "
        "and derives collision-safe document ids from the source "
        "coordinates (codec.go doc_id = partition:offset, SURVEY.md "
        "§2.1 op 13). Batch analog: union the per-topic sub-streams "
        "(event_type plays the topic, as across Part A), qualify ids "
        "with the topic, and audit per-topic volume vs distinct ids "
        "(equal iff routing is collision-free). In Spark the union of "
        "same-source filters collapses into ONE scan with an IN "
        "filter; n distinct is the standard two-phase expand.",
)
def q_multi_topic_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    topics = [
        ev.filter(F.col("event_type") == t).select(
            F.col("event_type").alias("topic"),
            F.concat_ws(":", "event_type",
                        F.col("event_id").cast("string")).alias("doc_id"))
        for t in ("click", "view")
    ]
    merged = topics[0].unionByName(topics[1])
    return merged.groupBy("topic").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count_distinct(F.col("doc_id")).alias("n_unique_ids"))


@register(
    "q_robust_stats",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(m.med, 6) + 0.0 AS median_value,
           ROUND(quantile_cont(ABS(e.value - m.med), 0.5), 6) AS mad
    FROM events e JOIN med m ON e.event_type = m.event_type
    GROUP BY e.event_type, m.med
    """,
    doc="Robust dispersion per key: median + median absolute deviation "
        "(MAD), the outlier-resistant stddev replacement monitoring "
        "pipelines prefer for heavy-tailed metrics. Two passes by "
        "definition (the second percentile needs the first's result); "
        "both reuse the event_type partitioning, and the median join "
        "broadcasts one row per key. Interpolation arithmetic is "
        "identical across engines (proved by the declared "
        "q_percentile); at 100 TB swap both for approx_percentile's "
        "t-digest and keep the same two-pass shape.",
)
def q_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("_mad"))
        .select("event_type", F.round("med", 6).alias("median_value"),
                F.round("_mad", 6).alias("mad"))
    )


# ------------------------------------------------- chunk dedup & concentration


@register(
    "q_chunk_dup_rate",
    """
    WITH sized AS (
      SELECT doc_id, text, GREATEST(LENGTH(text) - 128, 0) AS extra
      FROM documents
    ), chunks AS (
      SELECT doc_id,
             MD5(SUBSTRING(text, CAST(1 + 96 * i AS INT), 128)) AS chunk_md5
      FROM sized, UNNEST(range(0, 1 + (extra + 95) // 96)) AS t(i)
    ), counted AS (
      SELECT doc_id, chunk_md5,
             COUNT(*) OVER (PARTITION BY chunk_md5) AS n_occ
      FROM chunks
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_fraction
    FROM counted GROUP BY doc_id
    """,
    doc="Chunk-level duplication rate per document: chunk with the "
        "declared 128/96 window (same formula as q_doc_chunks), count "
        "corpus-wide occurrences of each chunk fingerprint, and roll "
        "the duplicated-chunk fraction back up per doc — the signal "
        "RefinedWeb/Dolma-style pipelines threshold to drop documents "
        "that are MOSTLY duplicated content even when no full-text "
        "match exists. Two shuffles, both on 16-byte digests (the "
        "occurrence window keys on chunk_md5, the rollup on doc_id); "
        "chunk text never leaves its input split.",
)
def q_chunk_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_chunks = 1 + F.floor(
        (F.greatest(F.length("text") - 128, F.lit(0)) + 95) / 96)
    chunks = (
        docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
            .alias("_i"), "text")
        .select("doc_id", F.unhex(F.md5(F.substring(
            F.col("text"), (F.lit(1) + 96 * F.col("_i")).cast("int"), 128)))
            .alias("chunk_md5"))
    )
    w = Window.partitionBy("chunk_md5")
    counted = chunks.withColumn("n_occ", F.count(F.lit(1)).over(w))
    dup = F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0))
    return (
        counted.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"),
             dup.cast("bigint").alias("n_dup_chunks"),
             (dup.cast("double") / F.count(F.lit(1)))
             .alias("dup_fraction"))
    )


@register(
    "q_hhi_concentration",
    """
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS r
      FROM lineitem GROUP BY l_suppkey
    ), tot AS (
      SELECT SUM(r) AS t FROM rev
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           ROUND(SUM(POWER(CAST(r AS DOUBLE) / CAST(t AS DOUBLE), 2)), 6)
             AS hhi
    FROM rev CROSS JOIN tot
    """,
    doc="Supplier revenue concentration (Herfindahl-Hirschman index): "
        "sum of squared revenue shares — the market-concentration "
        "audit, also the skew diagnostic for partition-key choice (an "
        "HHI near 1/n means a uniform key; near 1 means one hot key). "
        "Shares divide exact decimal sums as doubles; the squared-"
        "share sum accumulates ~n_suppliers doubles whose error stays "
        "far below the 6-decimal rounding at any group count that "
        "fits an aggregation. Per-supplier agg + scalar total cross "
        "join — two shuffles, second over one row per supplier.",
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    rev = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))
             .alias("r"))
    )
    tot = rev.agg(F.sum("r").alias("t"))
    share = F.col("r").cast("double") / F.col("t").cast("double")
    return (
        rev.crossJoin(F.broadcast(tot))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
             F.round(F.sum(F.pow(share, 2)), 6).alias("hhi"))
    )


# ------------------------------------------------- time-series similarity


@register(
    "q_ts_similarity",
    """
    WITH days AS (
      SELECT UNNEST(range(0, 30)) AS d
    ), users AS (
      SELECT DISTINCT user_id FROM events
    ), daily AS (
      SELECT user_id,
             DATE_DIFF('day', TIMESTAMP '2024-01-01 00:00:00',
                       DATE_TRUNC('day', ts)) AS d,
             COUNT(*) AS n
      FROM events GROUP BY user_id, DATE_TRUNC('day', ts)
    ), dense AS (
      SELECT u.user_id, days.d,
             COALESCE(daily.n, 0) AS n
      FROM users u CROSS JOIN days
      LEFT JOIN daily ON daily.user_id = u.user_id AND daily.d = days.d
    ), probe AS (
      SELECT d, n AS pn FROM dense WHERE user_id = 0
    )
    SELECT user_id,
           CAST(SUM((dense.n - probe.pn) * (dense.n - probe.pn)) AS BIGINT)
             AS dist_sq
    FROM dense JOIN probe ON dense.d = probe.d
    WHERE user_id <> 0
    GROUP BY user_id
    ORDER BY dist_sq, user_id LIMIT 5
    """,
    doc="Time-series similarity search (cf. 'Time Series Similarity "
        "Search for Streaming Data in Distributed Systems', EDBT "
        "2019): each user's 30-day activity profile is densified to a "
        "fixed calendar vector (zero-filled), and the 5 users closest "
        "to user 0's profile by squared Euclidean distance surface. "
        "Distances are INTEGER arithmetic end to end (counts), so the "
        "result is exact — no float accumulation anywhere. The dense "
        "grid is |users|x30 rows (KB-scale at any event volume since "
        "it post-aggregates); probe vector broadcasts; top-5 is "
        "TakeOrdered with the user id tie-break.",
)
def q_ts_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    daily = ev.groupBy(
        "user_id",
        F.datediff(F.date_trunc("day", F.col("ts")), base).alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    # Distinct users come from the KB-scale daily aggregate (its group
    # keys are exactly the users with events), not a second full scan
    # and shuffle of the fact table.
    users = daily.select("user_id").distinct()
    dense = (
        users.select("user_id",
                     F.explode(F.sequence(F.lit(0), F.lit(29))).alias("d"))
        .join(daily, ["user_id", "d"], "left")
        .select("user_id", "d", F.coalesce("n", F.lit(0)).alias("n"))
    )
    # Probe vector straight from the per-user aggregate (30 rows via
    # its own zero-filled sequence) — filtering `dense` instead would
    # re-execute the full events lineage a second time. Guarded the
    # same way the oracle's probe CTE is: the probe is EMPTY exactly
    # when user 0 has no events AT ALL (the oracle's users CTE has no
    # day-range filter, so a user-0 event on ANY day yields a 30-row
    # zero-filled probe). The existence check is a window count over a
    # FULL outer join with the day grid — u0 days outside 0..29 still
    # prove existence (a left join would drop them and wrongly empty
    # the probe), then the range filter keeps the 30 grid rows. One u0
    # execution, no second scan of the events lineage.
    u0 = daily.filter(F.col("user_id") == 0).select("d", "n")
    days = spark.range(30).select(F.col("id").cast("int").alias("d"))
    probe = (
        days.join(u0, "d", "full")
        .withColumn("_u0_rows", F.count("n").over(Window.partitionBy()))
        .filter((F.col("_u0_rows") > 0) & F.col("d").between(0, 29))
        .select("d", F.coalesce("n", F.lit(0)).alias("pn"))
    )
    diff = F.col("n") - F.col("pn")
    return (
        dense.filter(F.col("user_id") != 0)
        .join(F.broadcast(probe), "d")
        .groupBy("user_id")
        .agg(F.sum(diff * diff).cast("bigint").alias("dist_sq"))
        .orderBy("dist_sq", "user_id")
        .limit(5)
    )


# ------------------------------------------------- UDTF extension point


@register(
    "q_udtf_expand",
    """
    SELECT doc_id, i AS pos, w[i] AS tok
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         UNNEST(range(1, LEAST(len(w), 5) + 1)) AS t(i)
    """,
    doc="Python UDTF extension point (Spark 4 @udtf): a table function "
        "expanding each document into its first 5 (pos, token) rows — "
        "completing the user-code extension triple next to the scalar "
        "pandas_udf and the grouped-agg/grouped-map kernels. UDTFs "
        "run row-at-a-time Python (EvalPython node, no Arrow batch "
        "path), so the declared guidance stands: built-in "
        "explode/posexplode expresses THIS query natively and is what "
        "production should use — the UDTF exists to prove the "
        "extension point works and stays oracle-checkable. Lateral "
        "per-row expansion parallelizes embarrassingly; no shuffle.",
)
def q_udtf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, tok string")
    class FirstTokens:
        def eval(self, text: str):
            for i, tok in enumerate(text.split(" ")[:5], start=1):
                yield i, tok

    docs = table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_udtf_docs")
    spark.udtf.register("first_tokens", FirstTokens)
    return spark.sql(
        "SELECT doc_id, t.pos, t.tok "
        "FROM _udtf_docs, LATERAL first_tokens(text) t")


# ------------------------------------------------- tokenizer & incremental


@register(
    "q_bpe_first_merges",
    """
    WITH words AS (
      SELECT UNNEST(string_split(text, ' ')) AS w FROM documents
    ), pairs AS (
      SELECT SUBSTRING(w, CAST(i AS INT), 2) AS pair
      FROM words, UNNEST(range(1, LENGTH(w))) AS t(i)
      WHERE LENGTH(w) >= 2
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT 20
    """,
    doc="Tokenizer induction, step one: the top-20 adjacent character "
        "pairs across the corpus — exactly the candidate set the first "
        "BPE merge picks from (Sennrich et al.; iterating = re-running "
        "this count over re-segmented text). Explode is in-row, the "
        "pair count partial-aggregates (shuffle = one row per distinct "
        "pair per task over a character-set-bounded vocabulary), "
        "top-20 is TakeOrdered with the pair tie-break. At 100 TB "
        "this is the canonical map-side-combine word-count shape.",
)
def q_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # The word explode + per-character pair window run below the first
    # exchange — one task at bench scale (single-row-group scan).
    # Rebalance the text column first; no-op at real scale
    # (fill_cluster guard). Measured 0.40 → 0.26 s at sf0.1 (r16).
    words = (fill_cluster(docs.select("text"))
             .select(F.explode(F.split("text", " ")).alias("w"))
             .filter(F.length("w") >= 2))
    pairs = words.select(
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1), "
            "i -> substring(w, i, 2))")).alias("pair"))
    return (
        pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@register(
    "q_incremental_dedup",
    """
    WITH existing AS (
      SELECT DISTINCT MD5(text) AS digest FROM documents
      WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
    )
    SELECT d.doc_id, d.source
    FROM documents d LEFT JOIN existing e ON MD5(d.text) = e.digest
    WHERE d.source NOT IN ('src0', 'src1', 'src2', 'src3', 'src4')
      AND e.digest IS NULL
    """,
    doc="Incremental-ingest dedup: documents of the NEW snapshot "
        "(sources src5+) that do not duplicate anything in the "
        "EXISTING corpus (src0-4) — the anti-join every periodic "
        "crawl runs before appending, so dedup cost is new x existing "
        "digests rather than a full-corpus re-cluster. The join ships "
        "16-byte digests, never text; at 100 TB the existing side is "
        "a persisted digest table bucketed on the digest so the "
        "anti-join is co-located with no new shuffle of the "
        "accumulated corpus.",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    old_srcs = ["src0", "src1", "src2", "src3", "src4"]
    docs = table(spark, sf_dir, "documents")
    existing = (
        docs.filter(F.col("source").isin(old_srcs))
        .select(F.unhex(F.md5("text")).alias("digest")).distinct()
    )
    return (
        docs.filter(~F.col("source").isin(old_srcs))
        .withColumn("digest", F.unhex(F.md5("text")))
        .join(existing, "digest", "left_anti")
        .select("doc_id", "source")
    )


@register(
    "q_embed_dim_stats",
    """
    WITH flat AS (
      SELECT i AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE), 7)
                  AS DECIMAL(12,7)) AS x
      FROM embeddings, UNNEST(range(1, 65)) AS t(i)
    )
    SELECT CAST(dim AS INT) AS dim,
           ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) + 0.0 AS mean,
           ROUND(SQRT((CAST(SUM(x * x) AS DOUBLE)
                       - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                         / COUNT(*)) / (COUNT(*) - 1)), 6) AS std
    FROM flat GROUP BY dim
    """,
    doc="Per-dimension embedding normalization stats (mean/std over "
        "the corpus for each of the 64 lanes) — what a feature "
        "pipeline computes before whitening or asymmetric "
        "quantization. Inputs quantize to DECIMAL(12,7) (exact .5 "
        "ties are impossible for binary floats at scale 7; a NEAR-tie "
        "can still split the engines' rounding mechanisms "
        "(ROUNDING.md double→decimal class) at ~2^-40 per element, "
        "which the output ROUND-6 absorbs) — narrow enough that the "
        "SQUARE stays an exact "
        "decimal (25,14) inside both engines' 38-digit ceiling; a "
        "wider input decimal overflows the product and each engine "
        "sheds precision differently (measured: the 6th decimal of "
        "std flipping). Both power sums are then exact and order-"
        "independent under shuffle; sqrt is IEEE-exact, so the hash "
        "is stable. The posexplode shuffles "
        "64 rows per vector with full partial aggregation; the "
        "no-explode 64-column variant (label_centroids style) is the "
        "100 TB path — this spelling keeps the oracle 1:1.",
)
def q_embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(
        F.posexplode(F.col("embedding")).alias("pos", "v")
    ).select((F.col("pos") + 1).cast("int").alias("dim"),
             F.round(F.col("v").cast("double"), 7)
             .cast("decimal(12,7)").alias("x"))
    n = F.count(F.lit(1))
    sx = F.sum("x").cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).cast("double")
    return (
        flat.groupBy("dim")
        .agg(F.round(sx / n, 6).alias("mean"),
             F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6).alias("std"))
    )


# ------------------------------------------------- sketch calibration & drift


def _minhash_calibration_sql() -> str:
    from .part_c import _DD_BANDS, _DD_SIGS

    est = " + ".join(
        f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END"
        for i in range(8))
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS sh
      FROM documents
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
           CAST({est} AS DOUBLE) / 8 AS est_jac,
           CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
             / (len(ta.sh) + len(tb.sh)
                - len(list_intersect(ta.sh, tb.sh))) AS exact_jac
    FROM cand
      JOIN sigs sa ON sa.doc_id = doc_a
      JOIN sigs sb ON sb.doc_id = doc_b
      JOIN toks ta ON ta.doc_id = doc_a
      JOIN toks tb ON tb.doc_id = doc_b
    """


@register(
    "q_minhash_calibration",
    _minhash_calibration_sql(),
    doc="MinHash sketch calibration: for every LSH candidate pair, the "
        "signature-agreement estimate (matching lanes / k) next to the "
        "exact Jaccard — the per-deployment check that the k=8 sketch's "
        "error is acceptable before trusting it at a scale where exact "
        "verification is unaffordable (the dedup analog of "
        "q_ann_recall). Candidates come from the same banded equi-join "
        "as the production path; the per-pair signature agreement "
        "rides the candidate join itself (carry_sigs — the signatures "
        "are already computed below the banding, so no join back onto "
        "the pair stream; plan-gated). At 100 TB the "
        "calibration runs on a hash-sampled candidate subset "
        "(pmod(xxhash64(doc_a, doc_b), K) = 0) — error estimates "
        "converge at thousands of pairs, so emitting every candidate "
        "is a verify-scale luxury, not the production shape.",
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import parquet_row_count, small_vocab_probe
    from ..operators.dedup import minhash_lsh_pairs

    docs = table(spark, sf_dir, "documents")
    # Candidates + exact Jaccard come from the PRODUCTION path at
    # threshold 0 (first-matching-band emission = the oracle's DISTINCT
    # candidate set; bitmask verify when the vocabulary fits 64 bits).
    # A hand-rolled candidate join + array_intersect verify re-paid the
    # costs that path exists to kill — measured 13-15 s at sf0.1 vs
    # ~2 s this way. The per-pair signature agreement rides the
    # candidate join itself (carry_sigs, r15): the signatures are
    # already computed below the banding, so re-deriving them in a
    # separate fill_cluster'd projection and joining them back onto
    # the ~10M-pair stream twice paid two BroadcastHashJoins plus a
    # second signature evaluation (measured −0.25 s at sf0.1 removing
    # them; plan: 2 joins fewer, identical 10,576,638-row output,
    # decimal-checksum-verified). This also retires the
    # broadcast-size guard the join-back needed — nothing
    # corpus-sized is ever pinned broadcast here; the candidate
    # join's own topology stays size_hint-gated inside
    # minhash_lsh_pairs, and at 100 TB the calibration contract is
    # the hash-sampled candidate subset either way.
    n_docs = parquet_row_count(sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, k=8, rows_per_band=2, shingle_n=1, threshold=0.0,
        size_hint=n_docs,
        vocab_hint=small_vocab_probe(sf_dir, "documents"),
        carry_sigs=True,
    ).withColumnRenamed("jac", "exact_jac")
    est = sum(
        F.when(F.col(f"a_sig_{i}") == F.col(f"b_sig_{i}"), 1).otherwise(0)
        for i in range(8))
    return pairs.select(
        "doc_a", "doc_b",
        (est.cast("double") / 8).alias("est_jac"),
        "exact_jac",
    )


@register(
    "q_drift_ks",
    """
    WITH tagged AS (
      SELECT n_chars AS v,
             CASE WHEN CAST(SUBSTRING(source, 4) AS INT) < 10
                  THEN 1 ELSE 2 END AS grp
      FROM documents
    ), counts AS (
      SELECT v,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM tagged GROUP BY v
    ), cum AS (
      SELECT v,
             SUM(c1) OVER (ORDER BY v NULLS LAST) AS k1,
             SUM(c2) OVER (ORDER BY v NULLS LAST) AS k2,
             (SELECT SUM(c1) FROM counts) AS t1,
             (SELECT SUM(c2) FROM counts) AS t2
      FROM counts
    )
    SELECT MAX(ABS(CAST(k1 AS DOUBLE) / t1
               - CAST(k2 AS DOUBLE) / t2)) AS ks_d
    FROM cum
    """,
    doc="Two-sample Kolmogorov-Smirnov statistic between the length "
        "distributions of two source cohorts (src0-9 vs src10-19) — "
        "the distribution-drift gate a pipeline runs between crawl "
        "snapshots before mixing them. Exact: integer cumulative "
        "counts divide as doubles only at the compare. One shuffle to "
        "the per-value counts; the CDF window runs over the DISTINCT "
        "value grid (KB for integer-ish features — at 100 TB bucket "
        "continuous features first, which bounds the grid and is the "
        "standard ECDF-on-histogram approximation).",
)
def q_drift_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import drift_ks

    docs = table(spark, sf_dir, "documents")
    grp = F.when(
        F.substring("source", 4, 10).cast("int") < 10, 1).otherwise(2)
    # Exact distinct-value-grid mode; drift_ks(buckets=B) is the
    # documented bucket-first 100 TB variant for continuous features.
    return drift_ks(docs.select(F.col("n_chars").alias("v"),
                                grp.alias("grp")))


# ------------------------------------------------- operational audits


@register(
    "q_index_rollover_audit",
    """
    SELECT 'pfx-events-' || strftime(ts, '%Y-%m-%d') AS index_name,
           COUNT(*) AS n_docs,
           CAST(CEIL(COUNT(*) / 100.0) AS BIGINT) AS n_bulks
    FROM events
    GROUP BY strftime(ts, '%Y-%m-%d')
    """,
    doc="Index-rollover audit: documents and bulk-request count per "
        "daily index — the sizing view behind the reference's "
        "time-suffixed routing (op 15, src/models/record.go:18-24) "
        "and 100-record bulks (KAFKA_CONSUMER_BATCH_SIZE, "
        "src/injector/injector.go:20-24): oversized daily indices are "
        "THE operational failure of time-routed ES clusters, and this "
        "is the one-aggregation detector. Map-side partial count, one "
        "row per day.",
)
def q_index_rollover_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.concat(F.lit("pfx-events-"),
                            F.date_format("ts", "yyyy-MM-dd"))
                   .alias("index_name"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.ceil(F.count(F.lit(1)) / 100.0).cast("bigint")
             .alias("n_bulks"))
    )


@register(
    "q_partition_balance",
    """
    WITH per_part AS (
      SELECT user_id % 32 AS part, COUNT(*) AS n
      FROM events GROUP BY user_id % 32
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_partitions,
           CAST(MAX(n) AS BIGINT) AS max_n,
           CAST(MIN(n) AS BIGINT) AS min_n,
           CAST(MAX(n) AS DOUBLE)
             / (CAST(SUM(n) AS DOUBLE) / COUNT(*)) AS skew_ratio
    FROM per_part
    """,
    doc="Partition-balance audit: per-partition row counts (user_id "
        "mod 32 as the partitioner, mirroring a keyed Kafka topic's "
        "partition assignment — reference consumer parallelism is "
        "per-partition, src/kafka/consumer.go:73-135) and the "
        "max/mean skew ratio — the number that predicts straggler "
        "tasks before a shuffle hits them. Two KB-sized aggregations; "
        "the ratio divides exact integer counts as doubles.",
)
def q_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy((F.col("user_id") % 32).alias("part")).agg(
        F.count(F.lit(1)).alias("n"))
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_partitions"),
        F.max("n").cast("bigint").alias("max_n"),
        F.min("n").cast("bigint").alias("min_n"),
        (F.max("n").cast("double")
         / (F.sum("n").cast("double") / F.count(F.lit(1))))
        .alias("skew_ratio"),
    )
