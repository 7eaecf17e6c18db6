"""Corpus-curation operators for assembling an LLM training mix:
sequence packing, deterministic mixture sampling, and eval-set
decontamination.

None of this exists in the reference (its surface ends at routing
records into Elasticsearch, src/elasticsearch/codec.go:21-100); these
are the operations a training-data pipeline runs BETWEEN a deduplicated
corpus and the trainer, declared here Spark-first:

- pack_sequences: concat-and-chunk token budgeting — the standard
  pretraining packing scheme (documents concatenated in a fixed order,
  split into budget-sized chunks; a document belongs to the chunk where
  it starts). One window cumsum per shard, no Python in the row path.
- mixture_sample: per-domain sampling weights applied via a seedless
  md5 threshold, so the sampled mix is reproducible across engines,
  retries, and partial re-runs (rand() is none of those).
- decontaminate: exact word-n-gram overlap against an eval/benchmark
  set — the screen that keeps test data out of the training mix.

All three are pure Column-expression plans: whole-stage codegen, no
UDFs, no driver-side actions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import gram_set, md5_32, tokens, word_ngrams
from .scale import fill_cluster

# 2^32 as a double: dividing the 8-hex-digit (32-bit) md5 prefix by it
# maps ids to [0, 1) exactly (power-of-two division is lossless), so
# threshold comparisons are bit-identical in every engine.
_TWO_32 = 4294967296.0


def n_tokens(text_col: Column | str) -> Column:
    """Whitespace token count (the corpus's tokenizer stand-in)."""
    return F.size(tokens(text_col)).cast("int")


def pack_sequences(docs: DataFrame, budget: int, n_shards: int = 32,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Assign each document its position in a concat-and-chunk packing:
    documents are laid out shard-by-shard in id order, and chunk
    `chunk_id` of a shard holds tokens [chunk_id*budget, (chunk_id+1)*
    budget). A document belongs to the chunk containing its FIRST token
    (documents may straddle a boundary — the trainer reads them across
    the cut, exactly how pretraining packing works).

    Returns (id, shard, n_tokens, chunk_id, chunk_offset).

    Scale: the only wide op is one hash-partition by `shard` for the
    per-shard window cumsum. Shards bound the sequential region — the
    cumsum within a shard is a single-task scan, so pick n_shards ≈
    cluster cores × a few (or reuse the upstream partition id) and the
    packing of a 100 TB corpus is embarrassingly parallel while staying
    fully deterministic (shard = id % n_shards, order = id). A global
    single-window formulation would serialize the whole corpus through
    one task; this one never does.
    """
    nt = n_tokens(text_col)
    shard = (F.col(id_col) % n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy(id_col)
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("bigint")
    return (
        docs.select(F.col(id_col), shard.alias("shard"),
                    nt.alias("n_tokens"))
        .withColumn("_start", start)
        .select(
            id_col, "shard", "n_tokens",
            F.expr(f"_start div {int(budget)}").alias("chunk_id"),
            (F.col("_start") % budget).alias("chunk_offset"),
        )
    )


def mixture_sample(docs: DataFrame, rates: dict[str, float],
                   key_col: str = "source", default_rate: float = 0.0,
                   id_col: str = "doc_id") -> DataFrame:
    """Deterministic weighted mixture: keep a row iff
    u(id) < rates[key], where u(id) = first 32 md5 bits of the id as a
    uniform [0,1) draw. Same columns out as in.

    Why a hash, not rand(): the sampled set is a pure function of the
    data, so re-running a failed partition, changing parallelism, or
    reproducing the mix months later yields byte-identical output — and
    raising a domain's rate later only ADDS documents (u is fixed per
    id, thresholds are nested), which makes mixture experiments
    monotone. Plan: one narrow filter, no shuffle, no state.
    """
    u, rate = mixture_draw(rates, key_col, default_rate, id_col)
    return docs.filter(u < rate)


def mixture_draw(rates: dict[str, float], key_col: str,
                 default_rate: float, id_col: str) -> tuple[Column, Column]:
    """(u, rate) of mixture_sample: the row's uniform [0,1) md5 draw
    and its domain's keep rate; a row is kept iff u < rate."""
    u = md5_32(F.col(id_col).cast("string")) / F.lit(_TWO_32)
    rate: Column = F.lit(float(default_rate))
    for key, r in sorted(rates.items()):
        rate = F.when(F.col(key_col) == key, F.lit(float(r))).otherwise(rate)
    return u, rate


def decontaminate(corpus: DataFrame, eval_df: DataFrame, n: int = 8,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Contamination screen: for every corpus document, count its
    distinct word n-grams that also occur anywhere in `eval_df`.
    Returns (id, n_hits) for contaminated documents only — the set a
    curation pipeline quarantines (anti-join) or downweights.

    Shape: the eval side collapses to DISTINCT n-grams — benchmarks are
    tiny relative to a corpus, so that set broadcasts and the screen is
    a map-side semi-join-with-count: corpus n-grams never shuffle. At
    100 TB the corpus side stays a narrow explode → broadcast-join →
    partial-count; only (doc, hit-count) rows — bounded by the eval
    set's size — reach the reducers. n≈8-13 word n-grams is the
    published decontamination range (GPT-3 used 13-grams); collisions
    at that length are evidence of copying, not chance.

    Caller contract (r15/r16): `eval_df` is NOT rebalanced here — its
    gram pass runs on the input's own splits. "Tiny by contract" means
    that pass is cheap wherever it runs (benchmark suites are MBs). A
    caller holding a GB-sized eval dump packed into one split must
    pre-spread it (fill_cluster / repartition) BEFORE calling; an eval
    side derived from a cluster-scale corpus scan already has ≥-cores
    splits, so no rebalance is needed there either way.
    """
    grams = gram_set(text_col, n)
    # N-gram construction is the CPU cost here and runs below any
    # exchange — rebalance the CORPUS side so it uses the whole
    # cluster. The eval side stays on its scan's own splits (the same
    # call ngram_coverage makes for its probe): eval sets are tiny by
    # contract, the distinct already partial-aggregates per split, and
    # rebalancing a KB-sized probe bought nothing while costing a full
    # extra stage wave per run (r15: interleaved A/B at sf0.1,
    # 0.94-1.13 s → 0.60-0.71 s for the whole screen, identical
    # output; the ev-gram distinct alone fell 0.46 → 0.16 s). The
    # eval-side placement contract lives in the docstring above
    # (caller-visible, ADVICE r15).
    ev = eval_df.select(F.explode(grams).alias("gram")).distinct()
    co = fill_cluster(corpus).select(
        F.col(id_col), F.explode(grams).alias("gram"))
    return (
        co.join(F.broadcast(ev), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("int").alias("n_hits"))
    )


def cap_per_source(df: DataFrame, cap: int, source_col: str = "source",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-source frequency capping (the CCNet/RefinedWeb `head`
    quota): keep at most `cap` documents per source, deterministic by
    ascending id — re-runs keep the identical subset. Adds a boolean
    `kept`. One window per source partition; at 100 TB the partition
    key is the domain, so each quota ranks only its own documents —
    nothing global. Skewed mega-domains are exactly the rows the cap
    discards, so rank-truncation cost is bounded by the quota."""
    w = Window.partitionBy(source_col).orderBy(id_col)
    return df.withColumn(
        "kept", F.row_number().over(w) <= F.lit(cap))


def dsir_weights(corpus: DataFrame, target: DataFrame,
                 n_buckets: int = 256, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """DSIR-flavored importance weights (Xie et al. 2023,
    arXiv:2302.03169): score each corpus document by how much its
    hashed-bigram profile looks like the `target` distribution versus
    the corpus at large. Returns (id, score_num, score_den, weight).

    Exact-arithmetic variant, on purpose: instead of the paper's
    Σ log((t_f+1)/(r_f+1)) — whose per-term libm log carries engine
    last-ulp skew — the weight is the count-weighted odds ratio
        weight = Σ_f c_doc(f)·(t_f+1)  /  Σ_f c_doc(f)·(r_f+1)
    with add-one smoothing. Numerator/denominator are exact BIGINTs,
    the final division is one IEEE op on integer operands —
    bit-identical in any engine — and the ordering it induces is the
    same "looks more like target" ranking importance resampling needs.

    Scale shape: bigrams hash into `n_buckets` features, so the two
    corpus-level profiles are `n_buckets`-row aggregates that BROADCAST
    back onto the per-doc feature counts: one explode + two broadcast
    joins + one groupBy(doc) — the corpus text shuffles only as
    (doc, bucket, count) triples. The md5-per-bigram explode is
    CPU-dense, so inputs go through fill_cluster first: a small corpus
    arriving as one parquet split must not serialize ~n_tokens·|corpus|
    hashes onto one core (at real scale the scan's own splits already
    spread it and fill_cluster is a no-op)."""
    def feats(df: DataFrame) -> DataFrame:
        toks = tokens(text_col)
        grams = word_ngrams(toks, 2)
        bucket = F.pmod(md5_32(F.col("gram")), F.lit(n_buckets))
        return (fill_cluster(df)
                .select(F.col(id_col), F.explode(grams).alias("gram"))
                .select(id_col, bucket.alias("bucket")))

    doc_counts = (feats(corpus)
                  .groupBy(id_col, "bucket")
                  .agg(F.count(F.lit(1)).alias("c")))
    raw_profile = (doc_counts.groupBy("bucket")
                   .agg(F.sum("c").alias("r")))
    target_profile = (feats(target).groupBy("bucket")
                      .agg(F.count(F.lit(1)).alias("t")))

    scored = (doc_counts
              .join(F.broadcast(raw_profile), "bucket")
              .join(F.broadcast(target_profile), "bucket", "left")
              .select(id_col, "c", "r", F.coalesce("t", F.lit(0)).alias("t")))
    num = F.sum(F.col("c") * (F.col("t") + 1))
    den = F.sum(F.col("c") * (F.col("r") + 1))
    return (scored.groupBy(id_col)
            .agg(num.cast("bigint").alias("score_num"),
                 den.cast("bigint").alias("score_den"),
                 (num.cast("double") / den).alias("weight")))


def k_anonymity_audit(df: DataFrame, quasi_cols: list[Column | str],
                      k: int, report_col: Column | str) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns: rows whose
    quasi-identifier combination occurs fewer than `k` times are
    re-identifiable and must be suppressed before release. Returns one
    row per `report_col` value: (report, n_groups, n_suppressed_groups,
    n_rows_suppressed, n_rows_kept) — exact integers.

    Complements pii_scrub (direct identifiers): k-anonymity is the
    INDIRECT-identifier release gate. Two hash aggregations — group
    sizes, then per-report rollup; the shuffle carries quasi-identifier
    tuples + counts, never payload rows."""
    qcols = [F.col(c) if isinstance(c, str) else c for c in quasi_cols]
    rep = F.col(report_col) if isinstance(report_col, str) else report_col
    groups = (df.groupBy(rep.alias("report"), *qcols)
              .agg(F.count(F.lit(1)).alias("n")))
    suppressed = F.col("n") < k
    return (groups.groupBy("report")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                 F.sum(F.when(suppressed, 1).otherwise(0))
                 .cast("bigint").alias("n_suppressed_groups"),
                 F.sum(F.when(suppressed, F.col("n")).otherwise(0))
                 .cast("bigint").alias("n_rows_suppressed"),
                 F.sum(F.when(~suppressed, F.col("n")).otherwise(0))
                 .cast("bigint").alias("n_rows_kept")))


def ngram_coverage(corpus: DataFrame, probe: DataFrame, n: int = 2,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-probe-document n-gram coverage by the corpus: for each
    document of `probe` (a benchmark/eval set), the fraction of its
    DISTINCT word n-grams that appear anywhere in `corpus`. The audit
    run when TUNING decontamination: coverage ≈ 1 means the benchmark
    is effectively memorizable from the training mix even if no single
    document tripped the overlap screen; decontaminate() then needs a
    stricter n / threshold. Returns (id, n_grams, n_covered, coverage)
    for probe docs with at least one n-gram; coverage is an
    integer-operand IEEE division (bit-exact cross-engine).

    Scale shape — the corpus is scanned ONCE and never shuffled by
    gram text:
    - probe grams (small by construction: eval sets are KBs-MBs)
      broadcast to the corpus scan, so the corpus explode is filtered
      to candidate grams BEFORE any aggregation;
    - the matched-gram set (≤ |probe grams|) is then distinct'd and
      broadcast back onto the per-probe-doc gram rows — the only
      exchanges move probe-sized relations;
    - at 100 TB the corpus side stays a narrow projection + broadcast
      semi-join; no global distinct over corpus grams ever runs.
    """
    probe_grams = (probe.select(
        F.col(id_col), F.explode(gram_set(text_col, n)).alias("g")))
    probe_gram_set = probe_grams.select("g").distinct()
    # fill_cluster: the corpus-side shingling is the CPU-bound stage;
    # a few-split input would run it on a sliver of the cluster (no-op
    # at scale — see scale.fill_cluster). explode_outer, not explode:
    # a non-outer Generate gets an inferred size()>0 filter whose
    # pushdown re-evaluates the whole gram array per row at the scan
    # (see text._winnow_doc_arrays); the join on g drops the outer
    # variant's null rows for free.
    hits = (fill_cluster(corpus.select(text_col)).select(
        F.explode_outer(word_ngrams(tokens(text_col), n)).alias("g"))
            .join(F.broadcast(probe_gram_set), "g")
            .select("g").distinct()
            .withColumn("_hit", F.lit(1)))
    return (probe_grams.join(F.broadcast(hits), "g", "left")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                 F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                 .cast("bigint").alias("n_covered"),
                 (F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
                  / F.count(F.lit(1))).alias("coverage")))


def length_filter_sweep(df: DataFrame, thresholds: list[int],
                        text_col: str = "text") -> DataFrame:
    """Length-filter threshold sweep: for each candidate minimum token
    count, how many documents and tokens survive — the one-pass audit
    a curation pipeline runs to PICK its length cutoff instead of
    guessing (C4 dropped <3-sentence pages; the right bound is
    corpus-specific). Returns one row per threshold:
    (min_tokens, docs_kept, tokens_kept, docs_share, tokens_share);
    shares are integer-operand IEEE divisions.

    Scale shape: ONE corpus scan into a single partial-aggregated
    reduce (2·|grid|+2 conditional lanes — every lane map-side
    combines), then the grid rows are inlined from the one aggregate
    row. No join, no second scan, no shuffle beyond the reduce."""
    nt = n_tokens(text_col)
    base = df.select(nt.alias("_n"))
    lanes = [F.count(F.lit(1)).alias("_docs"),
             F.sum("_n").alias("_toks")]
    for t in thresholds:
        keep = F.col("_n") >= t
        lanes.append(F.sum(F.when(keep, 1).otherwise(0)).alias(f"_d{t}"))
        lanes.append(F.sum(F.when(keep, F.col("_n")).otherwise(0))
                     .alias(f"_t{t}"))
    # Empty corpus → the global agg's single row carries NULL sums;
    # drop it so the output is zero rows, matching the SQL oracle's
    # GROUP BY over an empty relation (and the non-null BIGINT
    # contract of the count columns).
    agg = base.agg(*lanes).filter(F.col("_docs") > 0)
    rows = F.array(*[
        F.struct(F.lit(t).cast("bigint").alias("min_tokens"),
                 F.col(f"_d{t}").cast("bigint").alias("docs_kept"),
                 F.col(f"_t{t}").cast("bigint").alias("tokens_kept"),
                 (F.col(f"_d{t}").cast("double") / F.col("_docs"))
                 .alias("docs_share"),
                 (F.col(f"_t{t}").cast("double") / F.col("_toks"))
                 .alias("tokens_share"))
        for t in thresholds])
    return (agg.select(F.explode(rows).alias("r"))
            .select("r.min_tokens", "r.docs_kept", "r.tokens_kept",
                    "r.docs_share", "r.tokens_share"))


def gini_tokens(df: DataFrame, group_col: str = "source",
                text_col: str = "text") -> DataFrame:
    """Gini coefficient of token mass across `group_col` (sources /
    domains): the imbalance number a mixture design quotes next to the
    HHI — 0 = perfectly even token budget, →1 = one domain dominates.
    Uses the exact rank formula G = Σᵢ(2i − n − 1)wᵢ / (n Σw) with
    ties broken by group name, so numerator and denominator are exact
    BIGINTs and the single division is bit-identical cross-engine.
    Groups with NULL token mass (all-NULL text) are EXCLUDED from
    n_groups — counting them in n while they contribute nothing to
    Σw would let the numerator (hence gini) go negative.
    Returns one row: (n_groups, total_tokens, gini).

    Scale shape: token mass per group is a partial-aggregated groupBy
    (immune to doc skew); everything after runs on |groups| rows —
    the rank window and final reduce are KB-sized at any corpus
    size."""
    per = (df.select(F.col(group_col).alias("grp"),
                     n_tokens(text_col).alias("_n"))
           .groupBy("grp").agg(F.sum("_n").cast("bigint").alias("w"))
           # A group whose token mass is entirely NULL (all-NULL text)
           # would be counted in n yet contribute nothing to tw or the
           # numerator, letting gini go negative (ADVICE r8). Exclude
           # NULL-mass groups from n_groups — both engines, same WHERE.
           .filter(F.col("w").isNotNull()))
    # n and Σw ride along every ranked row via an unpartitioned window
    # (|groups| rows — KBs); nesting them as aggregates-inside-the-sum
    # is illegal SQL in both engines.
    # asc_nulls_last on BOTH keys: Spark's ASC default is NULLS FIRST,
    # DuckDB's is NULLS LAST — a NULL group name would otherwise rank
    # differently and skew the numerator (w is non-null post-filter).
    wall = Window.partitionBy(F.lit(1))
    order = Window.orderBy(F.col("w").asc_nulls_last(),
                           F.col("grp").asc_nulls_last())
    ranked = per.select(
        "w", F.row_number().over(order).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("w").over(wall).alias("tw"))
    num = F.sum((F.lit(2) * F.col("i") - F.col("n") - 1) * F.col("w"))
    return ranked.agg(
        F.min("n").cast("bigint").alias("n_groups"),
        F.min("tw").cast("bigint").alias("total_tokens"),
        (num.cast("double") / F.min(F.col("n") * F.col("tw")))
        .alias("gini"))


def drift_ks(df: DataFrame, value_col: str = "v", grp_col: str = "grp",
             buckets: int | None = None) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the `value_col`
    distributions of cohorts grp==1 and grp==2 — the distribution-
    drift gate a pipeline runs between crawl snapshots before mixing
    them. Returns one row (ks_d double). Exact: integer cumulative
    counts divide as doubles only at the compare.

    Exact mode (buckets=None): one shuffle to per-value counts, then
    the CDF window runs over the DISTINCT value grid — KB-sized for
    integer-ish features.

    Bucket-first mode (buckets=B) — the 100 TB shape for continuous /
    high-cardinality features (this is the scale variant the exact
    mode's docstring has always pointed at): values are floored into
    B equal-width buckets via a broadcast one-row (min, max)
    aggregate (integer width = (hi−lo) DIV B + 1, so the map is exact
    integer arithmetic and monotone), the CDF window runs over ≤ B
    rows, and ks_d is the standard ECDF-on-histogram approximation —
    the max of |F1−F2| sampled at bucket right-edges, hence a LOWER
    bound on exact D that EQUALS it whenever each observed value gets
    its own bucket (any integer grid narrower than B; pinned by
    test). Values must be integral in this mode (DIV arithmetic)."""
    base = df.select(F.col(value_col).alias("_v"),
                     F.col(grp_col).alias("_g"))
    if buckets is not None:
        rng = base.agg(F.min("_v").alias("_lo"), F.max("_v").alias("_hi"))
        base = (base.crossJoin(F.broadcast(rng))
                .select(F.expr(
                    f"CAST((_v - _lo) DIV ((_hi - _lo) DIV {buckets} + 1)"
                    " AS BIGINT)").alias("_v"), "_g"))
    counts = (base.groupBy("_v")
              .agg(F.sum(F.when(F.col("_g") == 1, 1).otherwise(0))
                   .cast("bigint").alias("c1"),
                   F.sum(F.when(F.col("_g") == 2, 1).otherwise(0))
                   .cast("bigint").alias("c2")))
    # asc_nulls_last: Spark's ASC default is NULLS FIRST, DuckDB's is
    # NULLS LAST — a NULL value column would skew the cumulative counts
    # differently per engine (benign today: callers pass non-null
    # features, but the gini_tokens lesson says pin it anyway).
    w = (Window.orderBy(F.col("_v").asc_nulls_last())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot = counts.agg(F.sum("c1").alias("t1"), F.sum("c2").alias("t2"))
    cum = (counts.select("_v", F.sum("c1").over(w).alias("k1"),
                         F.sum("c2").over(w).alias("k2"))
           .crossJoin(F.broadcast(tot)))
    d = F.abs(F.col("k1").cast("double") / F.col("t1")
              - F.col("k2").cast("double") / F.col("t2"))
    return cum.agg(F.max(d).alias("ks_d"))


def ntile_by_id(df: DataFrame, buckets: int, id_col: str = "doc_id",
                coarse: int = 1024) -> DataFrame:
    """Exact SQL NTILE(buckets) OVER (ORDER BY id) WITHOUT the global
    single-task sort window — the 100 TB shape for tranche assignment
    over unique non-null numeric ids (r8 verdict: the unpartitioned
    ntile was the inventory's last single-task-window scale-killer).

    Plan: (1) one-row (min, max, n) aggregate; (2) a MONOTONE map-side
    coarse split of the id range into ≤`coarse` groups — computed in
    double, which is safe because int64→double casts, same-lo
    subtraction and positive-width division are all weakly monotone in
    IEEE, and an edge-rounded group border only moves rows between
    ADJACENT groups, which the exact counts below absorb; (3) exact
    per-group counts + a prefix-sum window over ≤`coarse` aggregate
    rows (KBs at any corpus size); (4) the buckets−1 boundary ranks
    r_k = k·(n DIV b) + least(k, n mod b) located inside their coarse
    groups, where a row_number window PARTITIONED by group (only the
    ≤ b−1 boundary-holding groups are scanned) extracts the boundary
    ids; (5) the ≤ b−1 boundary ids broadcast as one sorted array and
    every row assigned map-side: bucket = 1 + |{k : boundary_k < id}|.
    A row with rank i satisfies boundary_k < id ⟺ r_k < i (unique
    ids), so the count reproduces NTILE exactly, including the
    n < buckets degenerate case where boundary ranks repeat (the
    duplicate ids in the multiset each count once).

    The input relation itself never shuffles: only the slim id
    projection moves (once, hash-partitioned by coarse group), and the
    per-task sort in step 4 touches ~n/coarse ids. Returns `df` with
    an added int `bucket` column; ids must be unique, non-null and
    numeric (the same preconditions an ORDER BY id NTILE needs to be
    deterministic)."""
    if buckets < 2:
        return df.withColumn("bucket", F.lit(1).cast("int"))

    sid = F.col(id_col)
    slim = df.select(sid.alias("_id"))
    stats = slim.agg(F.min("_id").alias("_lo"), F.max("_id").alias("_hi"),
                     F.count(F.lit(1)).alias("_n"))

    width = ((F.col("_hi").cast("double") - F.col("_lo").cast("double"))
             / F.lit(float(coarse)))
    cexp = F.when(F.col("_hi") <= F.col("_lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("_id").cast("double")
                     - F.col("_lo").cast("double")) / width),
            F.lit(coarse - 1))).cast("int")
    tagged = (slim.crossJoin(F.broadcast(stats))
              .select("_id", cexp.alias("_c")))

    counts = tagged.groupBy("_c").agg(F.count(F.lit(1)).alias("_cnt"))
    wpre = (Window.orderBy("_c")
            .rowsBetween(Window.unboundedPreceding, -1))
    pre = counts.select(
        "_c", "_cnt",
        F.coalesce(F.sum("_cnt").over(wpre), F.lit(0)).alias("_pre"))

    bounds = (stats.filter(F.col("_n") > 0)
              .select(F.explode(F.sequence(
                  F.lit(1), F.lit(buckets - 1))).alias("_k"), "_n")
              .select(F.expr(
                  f"CAST(_k * (_n DIV {buckets})"
                  f" + least(_k, _n % {buckets}) AS BIGINT)").alias("_r")))
    spec = (pre.join(F.broadcast(bounds),
                     (F.col("_pre") < F.col("_r"))
                     & (F.col("_r") <= F.col("_pre") + F.col("_cnt")))
            .select("_c", (F.col("_r") - F.col("_pre")).alias("_lr")))

    wloc = Window.partitionBy("_c").orderBy("_id")
    cands = (tagged.join(F.broadcast(spec.select("_c").distinct()), "_c")
             .select("_id", "_c", F.row_number().over(wloc).alias("_rn")))
    bids = (cands.join(F.broadcast(spec), "_c")
            .filter(F.col("_rn") == F.col("_lr"))
            .select("_id"))
    # sort_array for a deterministic broadcast payload only — the
    # count-of-smaller-boundaries assignment is order-free.
    barr = bids.agg(F.sort_array(F.collect_list("_id")).alias("_bnds"))

    return (df.crossJoin(F.broadcast(barr))
            .withColumn("bucket",
                        (F.lit(1)
                         + F.size(F.filter(F.col("_bnds"),
                                           lambda b: b < sid))).cast("int"))
            .drop("_bnds"))


def vocab_growth(df: DataFrame, buckets: int = 10,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Heaps'-law vocabulary-growth audit: walk the corpus in id order
    split into `buckets` equal-count tranches and report cumulative
    token mass vs cumulative DISTINCT vocabulary after each tranche —
    the curve that says whether more data still buys new vocabulary
    (sub-linear growth flattening early ⇒ the corpus is saturating and
    further scale mostly repeats itself). Returns one row per tranche:
    (bucket, cum_tokens, cum_types, type_token_ratio); the ratio is an
    integer-operand IEEE division.

    Scale shape: tranche assignment is ntile_by_id — boundary ids are
    extracted from a slim id-only projection via coarse-group-
    partitioned windows and broadcast, so bucket is a MAP-SIDE column
    on the document rows (no global single-task ntile window, no
    id-join that would shuffle text; r8 verdict item #1). The corpus
    is scanned ONCE, in a fully LINEAR chain (no relation fan-out — a
    branching tok_mass/first_seen formulation re-derives the token
    explode per consumer because pruning makes the branches'
    exchanges non-identical): (token, bucket) occurrence counts
    partial-aggregate first (map-side combine caps every partition's
    emission at vocab size, Zipf-immune), then per token the ≤
    `buckets` (bucket, count) pairs collapse into one row carrying
    min(bucket); exploding that back out yields token mass
    (Σ count per bucket) and new-type count (bucket == the token's
    min) from the SAME relation. Both cumsums then run on `buckets`
    rows. Plan-gated: exactly one text scan."""
    per_tok = (ntile_by_id(df, buckets, id_col)
               .select("bucket", F.explode(tokens(text_col)).alias("tok"))
               .groupBy("tok", "bucket").agg(F.count(F.lit(1)).alias("_c"))
               .groupBy("tok")
               .agg(F.min("bucket").alias("_fb"),
                    F.collect_list(F.struct("bucket", "_c")).alias("_bc")))
    lanes = (per_tok.select("_fb", F.explode("_bc").alias("b"))
             .groupBy(F.col("b.bucket").alias("bucket"))
             .agg(F.sum("b._c").alias("toks"),
                  F.sum(F.when(F.col("b.bucket") == F.col("_fb"), 1)
                        .otherwise(0)).alias("types")))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (lanes
            .select(F.col("bucket").cast("bigint").alias("bucket"),
                    F.sum("toks").over(w).cast("bigint").alias("cum_tokens"),
                    F.sum("types").over(w).cast("bigint").alias("cum_types"))
            .withColumn("type_token_ratio",
                        F.col("cum_types").cast("double")
                        / F.col("cum_tokens")))


def packing_efficiency(docs: DataFrame, budget: int, n_shards: int = 32,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Packing-plan audit over pack_sequences' concat-and-chunk layout:
    per shard, how full the fixed-size training sequences are and how
    many documents straddle a chunk boundary — the two numbers that
    decide whether the budget fits the corpus (short docs → great
    fill, straddle-heavy → attention masks cross document cuts more
    often). Returns one row per shard:
    (shard, n_docs, total_tokens, n_chunks, padding_tokens,
     n_straddling, fill_ratio) where n_chunks = ceil(total/budget)
    (only the final chunk of a shard carries padding in concat-and-
    chunk) and fill_ratio = total_tokens / (n_chunks·budget), an
    integer-operand IEEE division.

    Scale shape: one partial-aggregable rollup over pack_sequences'
    output (which itself is one per-shard window cumsum); the shuffle
    carries |shards| rows."""
    packed = pack_sequences(docs, budget, n_shards, id_col, text_col)
    total = F.sum("n_tokens")
    # exact integer ceil-div in both engines: (x + b - 1) DIV b
    n_chunks = F.expr(
        f"(sum(n_tokens) + {budget - 1}) DIV {budget}")
    straddle = F.col("chunk_offset") + F.col("n_tokens") > budget
    return (packed.groupBy("shard")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 total.cast("bigint").alias("total_tokens"),
                 n_chunks.cast("bigint").alias("n_chunks"),
                 (n_chunks * budget - total).cast("bigint")
                 .alias("padding_tokens"),
                 F.sum(F.when(straddle, 1).otherwise(0)).cast("bigint")
                 .alias("n_straddling"),
                 (total.cast("double") / (n_chunks * budget))
                 .alias("fill_ratio")))


def doc_freq_spectrum(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Document-frequency spectrum: for every document-frequency value
    k, how many distinct tokens appear in exactly k documents — the
    k=1 mass is the hapax share (Heaps'-law health), the high-k tail
    is the stopword/boilerplate mass a df-ceiling would drop. Returns
    one row per observed doc_freq:
    (doc_freq, n_tokens, token_share) with token_share an
    integer-operand IEEE division.

    Scale shape: two partial-aggregated shuffles (token → its df,
    df → spectrum row count) — map-side combine caps the first at
    vocab size per partition, the second at |distinct df| rows; the
    share window runs over the KB-sized spectrum."""
    toks = df.select(F.col(id_col),
                     F.explode(F.array_distinct(tokens(text_col)))
                     .alias("_tok"))
    dfreq = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    spec = dfreq.groupBy("_df").agg(F.count(F.lit(1)).alias("n_tokens"))
    total = F.sum("n_tokens").over(Window.partitionBy(F.lit(1)))
    return spec.select(
        F.col("_df").cast("bigint").alias("doc_freq"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("n_tokens").cast("double") / total).alias("token_share"))


def vocab_overlap_matrix(df: DataFrame, group_col: str = "source",
                         text_col: str = "text") -> DataFrame:
    """Pairwise vocabulary overlap between groups (sources/domains):
    exact token-set Jaccard for every group pair that shares at least
    one token — the redundancy view a mixture design reads next to
    the per-source token masses (two domains with jaccard → 1 buy one
    domain's worth of vocabulary). Returns
    (src_a, src_b, n_shared, jaccard) for src_a < src_b; pairs with
    ZERO shared tokens are omitted (their jaccard is 0 by
    definition). jaccard divides exact integers.

    Scale shape: the (group, token) relation is deduped by a partial-
    aggregated distinct, then self-joined on token — per-token fan-out
    is bounded by |groups|², never |docs|²; per-group vocab sizes
    broadcast onto the ≤|groups|² pair rows."""
    st = (df.select(F.col(group_col).alias("_g"),
                    F.explode(F.array_distinct(tokens(text_col)))
                    .alias("_tok"))
          .distinct())
    sizes = st.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
    a, b = st.alias("a"), st.alias("b")
    inter = (a.join(b, "_tok")
             .filter(F.col("a._g") < F.col("b._g"))
             .groupBy(F.col("a._g").alias("src_a"),
                      F.col("b._g").alias("src_b"))
             .agg(F.count(F.lit(1)).alias("n_shared")))
    na = sizes.select(F.col("_g").alias("src_a"), F.col("_n").alias("_na"))
    nb = sizes.select(F.col("_g").alias("src_b"), F.col("_n").alias("_nb"))
    return (inter.join(F.broadcast(na), "src_a")
            .join(F.broadcast(nb), "src_b")
            .select("src_a", "src_b",
                    F.col("n_shared").cast("bigint").alias("n_shared"),
                    (F.col("n_shared").cast("double")
                     / (F.col("_na") + F.col("_nb") - F.col("n_shared")))
                    .alias("jaccard")))


def ngram_novelty(df: DataFrame, buckets: int = 10, n: int = 2,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-tranche n-gram novelty: walk the corpus in id order split
    into `buckets` equal-count tranches (ntile_by_id — exact NTILE,
    no single-task window) and report, per tranche, how many of its
    distinct word n-grams were never seen in an earlier tranche —
    vocab_growth's phrase-level sibling (token novelty can stay high
    while PHRASE novelty collapses: the corpus keeps new words but
    repeats its constructions). Returns one row per tranche:
    (bucket, n_present, n_new, novelty) with novelty an
    integer-operand division.

    Scale shape — ONE corpus pass, no relation fan-out: tranche
    assignment is a broadcast map-side column; a single groupBy(gram)
    collect_set(bucket) dedupes AND gathers each gram's tranche set
    (≤ `buckets` elements — the partial aggregate caps every
    partition's state at vocab size, Zipf-immune); exploding that set
    with array_min riding along yields n_present (count per bucket)
    and n_new (bucket == the gram's min) from the SAME aggregation —
    the naive present/first two-branch formulation re-derives the
    gram explode per consumer (four text scans in the executed plan;
    this shape has exactly one, plan-gated). The gram stage is
    fill_cluster'd: n-gram construction dominates this operator
    (measured 3.3 s serial vs 2.3 s spread at sf0.1 — the OPPOSITE
    call from vocab_growth's cheaper token explode, where the text
    shuffle costs more than it reclaims), and the guard makes it a
    no-op at real scale where splits already parallelize."""
    per_gram = (fill_cluster(ntile_by_id(df, buckets, id_col))
                .select("bucket",
                        F.explode(gram_set(text_col, n)).alias("_g"))
                .groupBy("_g")
                .agg(F.collect_set("bucket").alias("_bs")))
    ex = per_gram.select(F.array_min("_bs").alias("_first"),
                         F.explode("_bs").alias("bucket"))
    return (ex.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_present"),
                 F.sum(F.when(F.col("_first") == F.col("bucket"), 1)
                       .otherwise(0)).alias("n_new"))
            .select(F.col("bucket").cast("bigint").alias("bucket"),
                    F.col("n_present").cast("bigint").alias("n_present"),
                    F.col("n_new").cast("bigint").alias("n_new"))
            .withColumn("novelty", F.col("n_new").cast("double")
                        / F.col("n_present")))


def group_median_grid(df: DataFrame, group_col: str = "source",
                      value_col: str = "n_chars") -> DataFrame:
    """Exact per-group lower median via the VALUE GRID — the same
    bucket-first discipline as drift_ks: per-(group, value) counts
    first (partial-aggregable, immune to doc skew), then the running
    count and the rank target k = (n+1) DIV 2 run over the grid
    (|groups| × |distinct values| rows — KBs for integer-ish
    features), never over documents. median = the smallest value
    whose running count reaches k (the interpolation-free lower
    median, deterministic in both engines). Returns one row per
    group: (group, n_docs, median)."""
    counts = (df.groupBy(F.col(group_col).alias("grp"),
                         F.col(value_col).alias("v"))
              .agg(F.count(F.lit(1)).alias("_cnt")))
    wcum = (Window.partitionBy("grp").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("grp")
    g = counts.select(
        "grp", "v", "_cnt",
        F.sum("_cnt").over(wcum).alias("_cum"),
        F.sum("_cnt").over(wall).alias("_n"))
    k = F.expr("(_n + 1) DIV 2")
    return (g.filter((F.col("_cum") >= k)
                     & (F.col("_cum") - F.col("_cnt") < k))
            .select(F.col("grp").alias(group_col),
                    F.col("_n").cast("bigint").alias("n_docs"),
                    F.col("v").cast("bigint").alias("median")))


def prefix_dup_clusters(df: DataFrame, n_prefix: int = 8,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Boilerplate-prefix detection: group documents by the md5 of
    their first `n_prefix` whitespace tokens and keep groups of ≥ 2 —
    the template/header screen that catches near-duplicate FAMILIES
    (licence headers, scraped navigation, form letters) that
    full-document similarity under-scores because the shared prefix
    is a small fraction of each document. Returns one row per
    duplicate-prefix family:
    (prefix_hash, n_docs, min_doc_id, total_chars).

    Scale shape: the 32-hex-char digest is the only thing that
    shuffles (text stays in the map stage), one partial-aggregated
    groupBy — the exact-dedup shape at prefix granularity."""
    pref = F.md5(F.concat_ws(" ", F.slice(tokens(text_col), 1, n_prefix)))
    return (df.select(pref.alias("prefix_hash"), F.col(id_col),
                      F.length(text_col).alias("_len"))
            .groupBy("prefix_hash")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.min(id_col).cast("bigint").alias("min_doc_id"),
                 F.sum("_len").cast("bigint").alias("total_chars"))
            .filter(F.col("n_docs") >= 2))


def shard_token_skew(df: DataFrame, n_shards: int = 32,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Packing-shard balance audit: token mass per id-hash shard and
    the max/mean skew ratio — the number that says whether the
    pack_sequences shard fan-out keeps executors evenly fed (skew → 1
    is balanced; the straggler shard sets the stage's wall-clock).
    Returns ONE row: (n_shards_used, min_tokens, max_tokens,
    total_tokens, skew) where skew = max·shards/total — exact integer
    operands, one IEEE division.

    Scale shape: one partial-aggregated rollup to |shards| rows, then
    a single reduce."""
    per = (df.groupBy((F.col(id_col) % n_shards).alias("_s"))
           .agg(F.sum(n_tokens(text_col)).alias("_t")))
    return (per.agg(F.count(F.lit(1)).cast("bigint").alias("n_shards_used"),
                    F.min("_t").cast("bigint").alias("min_tokens"),
                    F.max("_t").cast("bigint").alias("max_tokens"),
                    F.sum("_t").cast("bigint").alias("total_tokens"))
            .filter(F.col("n_shards_used") > 0)
            .select("n_shards_used", "min_tokens", "max_tokens",
                    "total_tokens",
                    ((F.col("max_tokens") * F.col("n_shards_used"))
                     .cast("double") / F.col("total_tokens"))
                    .alias("skew")))
