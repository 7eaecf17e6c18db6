"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All pure Column expressions (JVM-side); the
per-doc cost is O(chars), embarrassingly parallel, zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import tokens, word_ngrams

# Marker tokens per language for the n-gram(1) heuristic language ID.
# Deliberately tiny: the point is the *operator shape* (profile join +
# per-doc argmax), which at scale takes a real profile table instead.
LANG_MARKERS: list[tuple[str, str]] = [
    ("en", "the"), ("de", "der"), ("es", "el"), ("fr", "le"), ("zh", "的"),
]

STOPWORDS = ("the", "a", "of", "and", "to")


def predict_language(spark: SparkSession, df: DataFrame,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Predicted language = argmax marker count (ties → lexicographic
    lang; zero hits → 'und').

    The marker list is plan-time constant, so the argmax folds into a
    single zero-shuffle projection: one tokenize per doc, one
    (cnt, lang) struct per language, `array_min` over (-cnt, lang) =
    max count with lexicographic-smallest tie-break.
    """
    toks = tokens(text_col)

    def eq(marker: str):
        # one-arg lambda: a two-arg signature would make F.filter pass
        # (element, index) instead of binding the marker
        return lambda t: t == F.lit(marker)

    cands = F.array(*[
        F.struct(
            (-F.size(F.filter(toks, eq(marker)))).cast("int")
            .alias("neg_cnt"),
            F.lit(lang).alias("lang"),
        )
        for lang, marker in LANG_MARKERS
    ])
    best = F.array_min(cands)
    hits = -best["neg_cnt"]
    return df.select(
        F.col(id_col),
        F.when(hits > 0, best["lang"]).otherwise(F.lit("und"))
        .alias("pred_lang"),
        hits.alias("marker_hits"),
    )


def quality_score_col(text_col: Column | str) -> Column:
    """Composite quality score as a reusable Column expression.

    Emitted UNROUNDED (round-6 audit, round 6): every step is a
    deterministic IEEE op evaluated in the same order by Spark and the
    DuckDB oracle (integer-ratio divisions, least, scale-by-0.5, one
    add — no libm, no reassociation), so the double is bit-identical
    across engines and downstream thresholds compare the identical
    value on both sides. Rounding was the only divergence-capable step
    (Spark BigDecimal HALF_UP vs binary-double round on .5
    boundaries)."""
    toks = tokens(text_col)
    n_words = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    stop_ratio = stop_hits.cast("double") / n_words
    return (F.least(F.lit(1.0), n_words.cast("double") / 50) * 0.5
            + F.least(F.lit(1.0), stop_ratio * 5) * 0.5)


def quality_features(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Length/stopword/char-class features + a composite quality score.

    Mirrors the usual pretraining-corpus filters (C4/Gopher-style rules):
    too-short docs and stopword-free docs are down-scored.
    """
    toks = tokens(text_col)
    n_words = F.size(toks)
    n_chars = F.length(F.col(text_col))
    stop_hits = F.size(F.filter(
        toks, lambda t: t.isin(*STOPWORDS)))
    avg_word_len = (n_chars - (n_words - 1)).cast("double") / n_words
    stop_ratio = stop_hits.cast("double") / n_words
    return df.select(
        F.col(id_col),
        n_words.cast("int").alias("n_words"),
        # unrounded: integer-count ratios are one IEEE division on
        # exact operands — bit-identical across engines (round-6 audit)
        avg_word_len.alias("avg_word_len"),
        stop_ratio.alias("stop_ratio"),
        quality_score_col(text_col).alias("quality_score"),
    )


def repetition_signals(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Gopher/MassiveText-style repetition filters, per document:

    - ``dup_token_frac``: 1 − distinct/total tokens — the mass of the
      document that is repeats of earlier tokens;
    - ``top_bigram_frac``: occurrences of the single most frequent word
      bigram over total bigrams — boilerplate and template spam
      concentrate their mass in one n-gram.

    Both are the published pretraining-corpus signals (MassiveText
    filters docs whose most-common 2-gram exceeds ~20% of the text);
    thresholding is left to the caller so mixtures stay tunable.

    Scale shape: everything is computed INSIDE the row — the
    most-common-bigram count is a run-length scan over the row's own
    SORTED gram array (array_sort is a native expression; the scan is
    one O(G) fold, G ≈ doc length), so the operator is a projection:
    no aggregation shuffle, embarrassingly parallel at any corpus
    size. (The tempting per-distinct-gram count —
    transform(distinct, g -> size(filter(grams, = g))) — is O(G²)
    NESTED interpreted lambdas and measured ~50× slower.) The only
    exchange ever introduced is fill_cluster's small-scan rebalance,
    a no-op at scale.
    """
    from .scale import fill_cluster

    return fill_cluster(df).select(
        F.col(id_col),
        dup_token_frac_col(text_col).alias("dup_token_frac"),
        top_bigram_frac_col(text_col).alias("top_bigram_frac"),
    )


def dup_token_frac_col(text_col: Column | str) -> Column:
    """Duplicate-token fraction as a reusable Column — unrounded:
    1.0 − (int/int) is a division + subtraction on exact operands,
    bit-identical across engines (round-6 audit)."""
    toks = tokens(text_col)
    n_toks = F.size(toks)
    return F.when(
        n_toks > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n_toks,
    ).otherwise(F.lit(0.0))


def top_bigram_frac_col(text_col: Column | str) -> Column:
    """Most-common-bigram mass fraction (unrounded — exact integer
    ratio) as a reusable Column: longest equal-run in the SORTED gram
    array == max bigram frequency — one native array_sort plus one
    O(G) fold."""
    grams = word_ngrams(tokens(text_col), 2)
    n_grams = F.size(grams)

    def _step(acc, x):
        run = F.when(x == acc.getField("prev"),
                     acc.getField("run") + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"))

    top_cnt = F.aggregate(
        F.array_sort(grams),
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).alias("run"), F.lit(0).alias("best")),
        _step,
        lambda acc: acc.getField("best"),
    )
    # unrounded integer-count ratio — bit-identical across engines
    return F.when(
        n_grams > 0, top_cnt.cast("double") / n_grams).otherwise(F.lit(0.0))


# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space.
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_counts(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Whitespace token count + regex (BPE-ish pre-tokenization) count."""
    return df.select(
        F.col(id_col),
        F.size(tokens(text_col)).cast("int").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0))
        .cast("int").alias("re_tokens"),
    )


MOD = 1_000_000_007


def rolling_fingerprint(text: Column, prefix_len: int = 64) -> Column:
    """Polynomial rolling hash over the first `prefix_len` chars:
    h = fold(h*31 + ascii(c)) mod 1e9+7. Stays in bigint range because the
    modulus is applied every step (max acc ≈ 31·(1e9+7)+255 ≪ 2^63)."""
    idx = F.sequence(F.lit(1), F.least(F.length(text), F.lit(prefix_len)))
    codes = F.transform(idx, lambda i: F.ascii(text.substr(i, F.lit(1))).cast("bigint"))
    return F.aggregate(
        codes, F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 31 + x) % MOD,
    )


def fingerprints(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    return df.select(
        F.col(id_col),
        rolling_fingerprint(F.col(text_col)).alias("fingerprint"),
    )


def _winnow_doc_arrays(df: DataFrame, k: int, w: int,
                       id_col: str, text_col: str) -> DataFrame:
    """(id, n_grams, _sels) — `_sels` holds every window's fused
    min-key `h32·2¹⁶ + (2¹⁶−1−pos)` as a row-local ARRAY (duplicated
    whenever adjacent windows pick the same gram, the winnowing normal
    case). Built as three stacked projections (grams → gram-hash keys
    → window minima) so each stage is a named attribute the next one
    references: CollapseProject declines to inline non-cheap aliases
    used more than once, so nothing is recomputed and no stage needs
    an Exchange. Docs with fewer than w windows (n_grams < w) emit
    nothing — identical to the old explode+window filter and to the
    SQL oracle's `n_grams >= w` predicate.

    The fused key packs the gram position into 16 bits, so a document
    with more than 65535 k-grams would silently corrupt the
    rightmost-min tie-break (the position lane goes negative); an
    executor-side raise_error guard makes oversized docs fail LOUDLY
    instead — widen the encoding (e.g. h·2³² + (2³²−1−pos)) before
    lifting the bound."""
    toks = tokens(text_col)
    n_raw = F.size(toks) - (k - 1)
    # Guard direction matters: `when(n_raw > bound, raise)` keeps a
    # NULL text (NULL n_raw → condition NULL → otherwise branch) on
    # the silent-drop path the `n_grams >= w` filter already handles,
    # instead of crashing the job with a misleading overflow error.
    n_grams = F.when(n_raw > F.lit(65535), F.raise_error(
        F.format_string(
            "winnowing position encoding overflow: document has %s "
            "k-grams but the fused min-key carries 16-bit positions "
            "(max 65535); widen the encoding in _winnow_doc_arrays",
            n_raw))).otherwise(n_raw)
    base = (df.select(F.col(id_col), toks.alias("_toks"),
                      n_grams.alias("n_grams"))
            .filter(F.col("n_grams") >= w))
    grams = F.transform(
        F.sequence(F.lit(1), F.col("n_grams")),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("_toks"), i + j) for j in range(k)]))
    encs = F.transform(
        F.col("_grams"),
        lambda g, i: F.conv(F.substring(F.md5(g), 1, 8), 16, 10)
        .cast("bigint") * F.lit(65536) + (F.lit(65535) - (i + F.lit(1))))
    # The sliding-min projection MUST reference `_encs` more than once:
    # CollapseProject inlines a non-cheap alias referenced exactly once,
    # and an inlined `_encs` sits UNDER the per-window lambda, so every
    # window position would re-evaluate the whole md5 transform —
    # O(n_grams²) hashing per document (this exact regression shipped
    # in round 7: 22 s for a 270k-token corpus). Deriving n_grams from
    # size(_encs) makes the second reference, which pins `_encs` as a
    # materialized per-row attribute in its own Project; a plan gate in
    # tests/test_part_e_ops.py asserts the executed plan slices an
    # attribute reference (`slice(_encs#N`), never a nested transform.
    sels = F.transform(
        F.sequence(F.lit(1), F.size("_encs") - (w - 1)),
        lambda p: F.array_min(F.slice(F.col("_encs"), p, F.lit(w))))
    return (base.select(id_col, "n_grams", grams.alias("_grams"))
            .select(id_col, encs.alias("_encs"))
            .select(id_col, F.size("_encs").cast("int").alias("n_grams"),
                    sels.alias("_sels")))


def winnow_stats(df: DataFrame, k: int = 3, w: int = 4,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-doc winnowing sketch rollup: (id, n_grams, n_fingerprints,
    density). Shuffle-FREE: the sketch is already a row-local array
    (see _winnow_doc_arrays), so the rollup is size(array_distinct())
    inside the same narrow projection — no window, no groupBy, no
    exchange; the plan gate pins the Exchange count at zero."""
    arr = _winnow_doc_arrays(df, k, w, id_col, text_col)
    n_fp = F.size(F.array_distinct("_sels"))
    return arr.select(
        F.col(id_col),
        F.col("n_grams").cast("bigint").alias("n_grams"),
        n_fp.cast("bigint").alias("n_fingerprints"),
        (n_fp.cast("double") / F.col("n_grams")).alias("density"))


def winnow_pairs(df: DataFrame, k: int = 3, w: int = 4,
                 df_ceiling: int = 16, min_shared: int = 2,
                 id_col: str = "doc_id",
                 text_col: str = "text",
                 reliable: bool = False,
                 staging_dir: str | None = None) -> DataFrame:
    """MOSS overlap detection — the winnowing sketch's actual purpose:
    discover document pairs sharing selected fingerprints and score
    each pair by containment of the smaller sketch. Returns
    (doc_a, doc_b, n_shared bigint, overlap double) for pairs with at
    least `min_shared` shared fingerprints; overlap =
    n_shared / min(|sketch_a|, |sketch_b|), an integer-operand IEEE
    division (bit-exact cross-engine).

    Scale shape — an inverted-index (posting) join over the SKETCH,
    never the corpus:
    - the per-doc fingerprint set is row-local array algebra
      (_winnow_doc_arrays + array_distinct), so sketching is a narrow
      projection and |sketch| rides along each posting row — no
      doc-size side join;
    - the posting rows are MATERIALIZED exactly once
      (localCheckpoint) before fanning out to the document-frequency
      aggregate and both self-join sides. Without the barrier,
      Catalyst plans fps/dfreq/keep-a/keep-b as four independent
      subtrees — four corpus scans, four md5 sketch computations,
      zero ReusedExchange (the round-7 regression: 402 s at sf0.1 for
      103 output rows). The sketch is ~2/(w+1) the gram density —
      tiny next to the corpus — so checkpointing it is the cheap side
      of the trade at any scale;
    - `df_ceiling` drops fingerprints appearing in more than that many
      docs BEFORE the self-join (boilerplate/stop-fingerprints — a
      recall trade: pairs found only via dropped fingerprints are
      lost): per-fingerprint fan-out is ≤ ceiling², so worst cost is
      |postings|·ceiling, never N²;
    - downstream of the checkpoint, the pair rollup shuffles only
      (doc_a, doc_b, 1) triples with map-side partial counts.

    Calling this runs an eager Spark job (the materialization) at
    plan-construction time. The sketch job parallelizes by input split
    (deliberately NOT fill_cluster'd: measured at sf0.1,
    round-robin-shuffling the text cost more than the 0.6 s serial
    sketch it parallelized, and at real scale splits already provide
    the parallelism).

    Durability trade (`reliable`): the default localCheckpoint stores
    the sketch blocks in EXECUTOR storage with the lineage truncated —
    fast and right for local[n] / on-demand nodes, but if an executor
    dies (preemptible/spot nodes) its blocks are gone and there is no
    lineage to recompute from: the job fails. `reliable=True` instead
    stages the sketch through one parquet round-trip under
    `staging_dir` (a durable path every executor can reach — DFS at
    scale), trading one extra write for executor-loss survival; the
    downstream plan is identical either way (it reads one materialized
    sketch relation).
    """
    arr = _winnow_doc_arrays(df, k, w, id_col, text_col)
    fpa = F.array_distinct(F.transform(
        "_sels", lambda s: F.floor(s / F.lit(65536)).cast("bigint")))
    # explode_outer, NOT explode: InferFiltersFromGenerate adds a
    # `size(arr) > 0` filter under a non-outer Generate, and predicate
    # pushdown then substitutes the FULL nested sketch expression into
    # a scan-level DataFilter, re-inlining the O(n_grams²) expression
    # _winnow_doc_arrays avoids. The rule skips outer generates, and
    # `n_grams >= w` already keeps every array non-empty, so the outer
    # variant is value-identical and never emits a null row.
    sketch = (arr.select(F.col(id_col).alias("doc"), fpa.alias("_fps"))
              .select("doc", F.size("_fps").alias("n_fp"),
                      F.explode_outer("_fps").alias("fp")))
    if reliable:
        if staging_dir is None:
            raise ValueError(
                "winnow_pairs(reliable=True) needs staging_dir: a "
                "durable path (DFS at scale) every executor can read")
        sketch.write.mode("overwrite").parquet(staging_dir)
        fps = df.sparkSession.read.parquet(staging_dir)
    else:
        fps = sketch.localCheckpoint()
    dfreq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    keep = fps.join(dfreq.filter(F.col("df") <= df_ceiling), "fp")
    a = keep.select("fp", F.col("doc").alias("doc_a"),
                    F.col("n_fp").alias("n_fp_a"))
    b = keep.select("fp", F.col("doc").alias("doc_b"),
                    F.col("n_fp").alias("n_fp_b"))
    pairs = (a.join(b, "fp")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_shared"),
                  F.min("n_fp_a").alias("n_fp_a"),
                  F.min("n_fp_b").alias("n_fp_b"))
             .filter(F.col("n_shared") >= min_shared))
    return pairs.select(
        "doc_a", "doc_b",
        F.col("n_shared").cast("bigint").alias("n_shared"),
        (F.col("n_shared").cast("double")
         / F.least("n_fp_a", "n_fp_b")).alias("overlap"))


def token_familiarity(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-doc typicality quality signal (CCNet-flavored LM-free
    proxy): mean corpus document-frequency of the document's DISTINCT
    tokens. OOV-heavy / gibberish docs score low, boilerplate scores
    high — the cheap outlier screen that runs before any model-based
    scorer. Returns (id, n_types, df_sum, familiarity) where
    familiarity = df_sum / n_types (integer-operand IEEE division).

    Scale shape: distinct tokens come from row-local array_distinct
    (no per-doc distinct shuffle). The document-frequency profile is a
    partial-aggregated groupBy(token) — map-side combine makes it
    immune to Zipf token skew (every partition emits ≤ vocab rows, a
    hot token like "the" never concentrates) — and the join back is
    left to Catalyst: with a broadcastable vocabulary (the common
    case; even 10M tokens ≈ low hundreds of MB) the (doc, token) rows
    NEVER shuffle, and past that threshold it degrades to a shuffle
    join where AQE's skew-join splits the hot tokens. A forced
    co-partitioning by token would save the profile's second corpus
    scan but funnel every occurrence of a hot token into one task —
    the wrong trade under Zipf; the deliberate cost here is two scans
    of one projected column."""
    from .scale import fill_cluster

    dt = (fill_cluster(df)
          .select(F.col(id_col),
                  F.explode(F.array_distinct(tokens(text_col)))
                  .alias("tok")))
    dfreq = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_types = F.count(F.lit(1))
    return (dt.join(dfreq, "tok")
            .groupBy(id_col)
            .agg(n_types.cast("bigint").alias("n_types"),
                 F.sum("df").cast("bigint").alias("df_sum"),
                 (F.sum("df").cast("double") / n_types)
                 .alias("familiarity")))


def lexical_diversity(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document lexical diversity: (id, n_tokens, n_types,
    type_token_ratio, repetition_index) where repetition_index is the
    token-distribution collision probability Σc²/n² — the Rényi-2
    surrogate for entropy. Chosen over Shannon entropy deliberately:
    Σc² and n² are exact integers, so the two ratios are single IEEE
    divisions on exactly-representable operands — bit-identical in any
    engine — whereas entropy's per-term libm log carries last-ulp
    engine skew (ROUNDING.md class). Same signal ordering for quality
    filtering: high collision ⇔ low entropy ⇔ repetitive doc.

    One explode + two hash aggregations, both partial-aggregable; the
    shuffle carries (doc, token) counts, never text."""
    counts = (df.select(F.col(id_col),
                        F.explode(tokens(text_col)).alias("tok"))
              .groupBy(id_col, "tok")
              .agg(F.count(F.lit(1)).alias("c")))
    n = F.sum("c")
    return (counts.groupBy(id_col)
            .agg(n.cast("bigint").alias("n_tokens"),
                 F.count(F.lit(1)).cast("bigint").alias("n_types"),
                 (F.count(F.lit(1)).cast("double") / n)
                 .alias("type_token_ratio"),
                 (F.sum(F.col("c") * F.col("c")).cast("double")
                  / (n * n)).alias("repetition_index")))
