"""Corpus-curation operators: packing positions hand-computed, mixture
sampling's determinism/monotonicity/rate contracts, and the
decontamination screen on planted eval overlap."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_elasticsearch_injector_spark.operators import curation as C


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_pack_sequences_positions(spark):
    # One shard (n_shards=1): token counts 3, 4, 5 with budget 6 —
    # starts 0, 3, 7 → chunks 0, 0, 1 and offsets 0, 3, 1.
    docs = _docs(spark, [
        (0, "a b c"), (1, "a b c d"), (2, "a b c d e")])
    out = {r.doc_id: r for r in C.pack_sequences(
        docs, budget=6, n_shards=1).collect()}
    assert (out[0].chunk_id, out[0].chunk_offset) == (0, 0)
    assert (out[1].chunk_id, out[1].chunk_offset) == (0, 3)
    assert (out[2].chunk_id, out[2].chunk_offset) == (1, 1)
    assert all(out[i].shard == 0 for i in range(3))
    assert [out[i].n_tokens for i in range(3)] == [3, 4, 5]


def test_pack_sequences_shards_are_independent(spark):
    # Two shards: each shard's cumsum starts at zero — doc 1 (shard 1)
    # must not see doc 0's tokens.
    docs = _docs(spark, [(0, "a b c d e"), (1, "x y"), (2, "p q r")])
    out = {r.doc_id: r for r in C.pack_sequences(
        docs, budget=4, n_shards=2).collect()}
    assert out[1].shard == 1 and out[1].chunk_id == 0 \
        and out[1].chunk_offset == 0
    # Shard 0: doc 0 starts at 0; doc 2 starts at 5 → chunk 1 offset 1.
    assert out[2].shard == 0 and out[2].chunk_id == 1 \
        and out[2].chunk_offset == 1


def test_mixture_sample_rate_edges_and_determinism(spark):
    docs = spark.createDataFrame(
        [(i, "srcA" if i % 2 == 0 else "srcB") for i in range(200)],
        "doc_id LONG, source STRING")
    keep_all = C.mixture_sample(docs, {"srcA": 1.0, "srcB": 1.0})
    assert keep_all.count() == 200
    drop_b = C.mixture_sample(docs, {"srcA": 1.0}, default_rate=0.0)
    kept = [r.source for r in drop_b.collect()]
    assert set(kept) == {"srcA"} and len(kept) == 100
    # Determinism: identical plans sample identical ids.
    a = {r.doc_id for r in C.mixture_sample(docs, {"srcA": 0.4}).collect()}
    b = {r.doc_id for r in C.mixture_sample(docs, {"srcA": 0.4}).collect()}
    assert a == b


def test_mixture_sample_monotone_in_rate(spark):
    # Raising a rate only ADDS documents (nested thresholds) — the
    # property that makes mixture-weight experiments comparable.
    docs = spark.createDataFrame(
        [(i, "s") for i in range(500)], "doc_id LONG, source STRING")
    low = {r.doc_id for r in C.mixture_sample(docs, {"s": 0.3}).collect()}
    high = {r.doc_id for r in C.mixture_sample(docs, {"s": 0.7}).collect()}
    assert low <= high
    # And the realized fraction tracks the nominal rate.
    assert 0.2 < len(low) / 500 < 0.4
    assert 0.6 < len(high) / 500 < 0.8


def test_decontaminate_flags_planted_overlap(spark):
    ev = _docs(spark, [(100, "alpha beta gamma delta")])
    corpus = _docs(spark, [
        # shares the 3-grams "alpha beta gamma" and "beta gamma delta"
        (1, "x alpha beta gamma delta y"),
        (2, "no overlap at all here"),
        (3, "alpha beta gamma"),            # one shared 3-gram
    ])
    out = {r.doc_id: r.n_hits for r in C.decontaminate(
        corpus, ev, n=3).collect()}
    assert out == {1: 2, 3: 1}


def test_decontaminate_counts_distinct_grams_once(spark):
    # A corpus doc repeating the same contaminated n-gram counts it once.
    ev = _docs(spark, [(100, "a b c")])
    corpus = _docs(spark, [(1, "a b c a b c a b c")])
    out = C.decontaminate(corpus, ev, n=3).collect()
    assert [(r.doc_id, r.n_hits) for r in out] == [(1, 1)]


def test_decontaminate_short_docs_are_clean(spark):
    # Docs shorter than n produce no n-grams (and no crash).
    ev = _docs(spark, [(100, "a b c d")])
    corpus = _docs(spark, [(1, "a b")])
    assert C.decontaminate(corpus, ev, n=3).count() == 0


def test_pack_sequences_plan_has_no_python(spark):
    docs = _docs(spark, [(0, "a b"), (1, "c")])
    plan = C.pack_sequences(
        docs, budget=8, n_shards=2)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_signals_hand_computed(spark):
    from kafka_elasticsearch_injector_spark.operators import text as T

    docs = _docs(spark, [
        # 4 tokens, 2 distinct -> dup 1/2; bigrams [a b, b a, a b]:
        # top "a b" = 2/3.
        (0, "a b a b"),
        # all distinct -> dup 0; 3 bigrams all distinct -> top 1/3.
        (1, "w x y z"),
        # single token: no bigrams -> top 0.0.
        (2, "solo"),
        # pathological repeat: dup 4/5; one distinct bigram -> top 1.0.
        (3, "spam spam spam spam spam"),
    ])
    out = {r.doc_id: r for r in T.repetition_signals(docs).collect()}
    assert out[0].dup_token_frac == 0.5
    assert out[0].top_bigram_frac == 2 / 3  # unrounded (round-6 audit)
    assert out[1].dup_token_frac == 0.0
    assert out[1].top_bigram_frac == 1 / 3
    assert out[2].top_bigram_frac == 0.0
    assert out[3].dup_token_frac == 0.8
    assert out[3].top_bigram_frac == 1.0


def test_repetition_signals_plan_is_projection(spark):
    from kafka_elasticsearch_injector_spark.operators import text as T

    docs = _docs(spark, [(0, "a b"), (1, "c")])
    plan = T.repetition_signals(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    # No aggregation shuffle (the in-row histogram replaces groupBy);
    # the only allowed exchange is fill_cluster's round-robin rebalance.
    assert "hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_corpus_to_training_export_end_to_end(spark, sf_dir, tmp_path):
    """The whole training-data story composed: quality gate → exact
    dedup (hash-agg keep-min) → deterministic mixture sample →
    parquet export → read-back. Each stage is unit- and oracle-tested
    on its own; this guards the COMPOSITION — schemas, digest types,
    and determinism surviving stage boundaries — and pins that
    re-running the pipeline reproduces the identical row set (no RNG,
    no scheduling dependence)."""
    from pyspark.sql import functions as F

    from kafka_elasticsearch_injector_spark.io import table
    from kafka_elasticsearch_injector_spark.operators import curation as C
    from kafka_elasticsearch_injector_spark.operators import text as T

    docs = table(spark, sf_dir, "documents")

    def build():
        gated = docs.filter(T.quality_score_col("text") >= 0.3)
        rep = (
            gated.select(F.unhex(F.md5("text")).alias("h"),
                         "doc_id", "text", "source")
            .groupBy("h")
            .agg(F.min_by(F.struct("doc_id", "text", "source"),
                          "doc_id").alias("s"))
            .select("s.doc_id", "s.text", "s.source")
        )
        rates = {s: 0.8 for s in ("src0", "src1", "src2", "src3", "src4",
                                  "src5", "src6", "src7", "src8", "src9")}
        return C.mixture_sample(rep, rates)

    out = str(tmp_path / "export")
    sampled = build()
    sampled.write.parquet(out)
    rows = sorted(tuple(r) for r in sampled.collect())
    assert 0 < len(rows) < docs.count()

    back = spark.read.parquet(out)
    assert back.columns == ["doc_id", "text", "source"]
    assert sorted(tuple(r) for r in back.collect()) == rows

    # Determinism across a full re-run: identical row set.
    assert sorted(tuple(r) for r in build().collect()) == rows


# ---------------------------------------------- KS drift (r9 verdict)


def test_drift_ks_exact_matches_bruteforce(spark):
    """Exact-mode ks_d equals a pure-Python two-sample KS on the same
    cohorts."""
    from kafka_elasticsearch_injector_spark.operators.curation import (
        drift_ks,
    )

    g1 = [3, 5, 5, 8, 12, 20, 20, 21]
    g2 = [4, 5, 9, 9, 15, 30]
    rows = [(v, 1) for v in g1] + [(v, 2) for v in g2]
    df = spark.createDataFrame(rows, "v long, grp int")

    grid = sorted(set(g1) | set(g2))
    want = max(abs(sum(1 for x in g1 if x <= t) / len(g1)
                   - sum(1 for x in g2 if x <= t) / len(g2))
               for t in grid)
    got = drift_ks(df).collect()[0].ks_d
    assert got == want


def test_drift_ks_bucket_first_variant(spark):
    """r8 verdict item #6: the documented bucket-first 100 TB variant.
    With buckets >= the integer value span each value gets its own
    bucket and ks_d EQUALS the exact statistic; with coarse buckets it
    is the ECDF-on-histogram approximation — a lower bound."""
    from kafka_elasticsearch_injector_spark.operators.curation import (
        drift_ks,
    )

    g1 = [3, 5, 5, 8, 12, 20, 20, 21]
    g2 = [4, 5, 9, 9, 15, 30]
    rows = [(v, 1) for v in g1] + [(v, 2) for v in g2]
    df = spark.createDataFrame(rows, "v long, grp int")

    exact = drift_ks(df).collect()[0].ks_d
    fine = drift_ks(df, buckets=64).collect()[0].ks_d   # span 27 < 64
    assert fine == exact
    coarse = drift_ks(df, buckets=2).collect()[0].ks_d
    assert 0.0 <= coarse <= exact


def test_drift_ks_bucket_grid_is_bounded(spark):
    """Bucket-first mode must aggregate to <= `buckets` grid rows
    before the CDF window — the plan's window input is the bucketed
    per-value aggregate, never the raw relation."""
    from kafka_elasticsearch_injector_spark.operators.curation import (
        drift_ks,
    )

    rows = [(v, 1 + v % 2) for v in range(1000)]
    df = spark.createDataFrame(rows, "v long, grp int")
    bucketed = drift_ks(df, buckets=8)
    assert bucketed.collect()[0].ks_d is not None
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    # the bucketed value expression must reach the grid aggregate
    assert " DIV " in plan.replace("div", " DIV ") or "DIV" in plan, plan
