"""Part G operator units: dedup survivor rollup, n-gram coverage,
length-filter sweep, token-mass Gini, vocabulary growth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.usefixtures("spark")


# ------------------------------------------------------ survivors


def test_dedup_survivors_rollup(spark):
    from kafka_elasticsearch_injector_spark.operators.dedup import (
        dedup_survivors,
    )

    clusters = spark.createDataFrame(
        [(1, 1, True), (2, 1, False), (3, 1, False),
         (4, 4, True),                       # singleton — dropped
         (5, 5, True), (6, 5, False)],
        "doc_id long, cluster_id long, is_canonical boolean")
    docs = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50), (6, 60)],
        "doc_id long, n_chars long")
    got = {r.survivor_id: (r.n_merged, r.chars_kept, r.chars_dropped)
           for r in dedup_survivors(clusters, docs).collect()}
    assert got == {1: (3, 10, 50), 5: (2, 50, 60)}


# ------------------------------------------------------ coverage


def test_ngram_coverage_fractions(spark):
    from kafka_elasticsearch_injector_spark.operators.curation import (
        ngram_coverage,
    )

    corpus = spark.createDataFrame(
        [(100, "a b c d"), (101, "x y")], "doc_id long, text string")
    probe = spark.createDataFrame(
        [(1, "a b c"),      # bigrams {a b, b c} — both in corpus
         (2, "b c q"),      # {b c, c q} — one covered
         (3, "zz ww"),      # {zz ww} — none
         (4, "solo")],      # no bigrams — excluded
        "doc_id long, text string")
    got = {r.doc_id: (r.n_grams, r.n_covered, r.coverage)
           for r in ngram_coverage(corpus, probe, n=2).collect()}
    assert got == {1: (2, 2, 1.0), 2: (2, 1, 0.5), 3: (1, 0, 0.0)}


def test_ngram_coverage_probe_side_broadcasts(spark):
    """Both joins must broadcast probe-sized relations — the corpus
    gram rows never shuffle by gram text."""
    from kafka_elasticsearch_injector_spark.operators.curation import (
        ngram_coverage,
    )

    corpus = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}") for i in range(50)],
        "doc_id long, text string")
    probe = spark.createDataFrame(
        [(1000, "w1 w2 w3")], "doc_id long, text string")
    plan = (ngram_coverage(corpus, probe)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


# ------------------------------------------------------ length sweep


def test_length_filter_sweep_counts_and_shares(spark):
    from kafka_elasticsearch_injector_spark.operators.curation import (
        length_filter_sweep,
    )

    docs = spark.createDataFrame(
        [(1, "a"), (2, "a b"), (3, "a b c"), (4, "a b c d")],
        "doc_id long, text string")   # token counts 1..4, total 10
    got = {r.min_tokens: (r.docs_kept, r.tokens_kept,
                          r.docs_share, r.tokens_share)
           for r in length_filter_sweep(docs, [2, 4, 5]).collect()}
    assert got == {2: (3, 9, 0.75, 0.9),
                   4: (1, 4, 0.25, 0.4),
                   5: (0, 0, 0.0, 0.0)}


def test_length_filter_sweep_single_scan_no_join(spark):
    from kafka_elasticsearch_injector_spark.operators.curation import (
        length_filter_sweep,
    )

    docs = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string")
    plan = (length_filter_sweep(docs, [2, 4])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan, plan


# ------------------------------------------------------ gini


def test_gini_tokens_known_values(spark):
    from kafka_elasticsearch_injector_spark.operators.curation import (
        gini_tokens,
    )

    # masses 1, 2, 3 → G = (1·(2−4) + 2·(4−4) + 3·(6−4)) / (3·6) = 4/18
    docs = spark.createDataFrame(
        [(1, "a", "s1"), (2, "a b", "s2"), (3, "a b c", "s3")],
        "doc_id long, text string, source string")
    row = gini_tokens(docs).collect()[0]
    assert (row.n_groups, row.total_tokens) == (3, 6)
    assert row.gini == pytest.approx(4 / 18, abs=0)

    even = spark.createDataFrame(
        [(1, "a b", "s1"), (2, "c d", "s2")],
        "doc_id long, text string, source string")
    assert gini_tokens(even).collect()[0].gini == 0.0


# ------------------------------------------------------ vocab growth


def test_vocab_growth_cumulative_and_totals(spark):
    from kafka_elasticsearch_injector_spark.operators.curation import (
        vocab_growth,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c"), (3, "c d e"), (4, "a e")],
        "doc_id long, text string")
    rows = sorted(vocab_growth(docs, buckets=2).collect(),
                  key=lambda r: r.bucket)
    # tranche 1 = docs 1-2 (tokens 4, vocab {a,b,c}); tranche 2 adds
    # docs 3-4 (tokens +5, new vocab {d,e})
    assert [(r.bucket, r.cum_tokens, r.cum_types) for r in rows] == [
        (1, 4, 3), (2, 9, 5)]
    assert rows[0].type_token_ratio == 3 / 4
    assert rows[1].type_token_ratio == 5 / 9


# --------------------------------------------- review regressions (r8)


def test_length_filter_sweep_empty_corpus_zero_rows(spark):
    """Empty corpus → zero rows (matching the SQL oracle's GROUP BY
    over an empty relation), never NULL-count rows."""
    from kafka_elasticsearch_injector_spark.operators.curation import (
        length_filter_sweep,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert length_filter_sweep(empty, [2, 4]).count() == 0


def test_gini_tokens_null_group_ranks_last(spark):
    """A NULL group must rank NULLS LAST (DuckDB's ASC default) so the
    rank-formula numerator matches the oracle. Masses: s1=1, NULL=1,
    s2=2 → order (w, grp nulls last) = s1, NULL, s2 →
    G = (1·(2−4) + 1·(4−4) + 2·(6−4)) / (3·4) = 2/12."""
    from kafka_elasticsearch_injector_spark.operators.curation import (
        gini_tokens,
    )

    docs = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", None), (3, "c d", "s2")],
        "doc_id long, text string, source string")
    row = gini_tokens(docs).collect()[0]
    assert (row.n_groups, row.total_tokens) == (3, 4)
    assert row.gini == pytest.approx(2 / 12, abs=0)


# ------------------------------------------------------ packing audit


def test_packing_efficiency_known_layout(spark):
    """Single shard, budget 4, token counts 3,3,2 (concat = 8 tokens):
    2 chunks, 0 padding, the middle doc straddles the first boundary."""
    from kafka_elasticsearch_injector_spark.operators.curation import (
        packing_efficiency,
    )

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f"), (2, "g h")],
        "doc_id long, text string")
    row = packing_efficiency(docs, budget=4, n_shards=1).collect()[0]
    assert (row.shard, row.n_docs, row.total_tokens) == (0, 3, 8)
    assert (row.n_chunks, row.padding_tokens) == (2, 0)
    assert row.n_straddling == 1          # doc 1: offset 3 + 3 > 4
    assert row.fill_ratio == 1.0

    # 9 tokens -> 3 chunks, 3 padding, fill 9/12
    docs2 = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f"), (2, "g h i")],
        "doc_id long, text string")
    row2 = packing_efficiency(docs2, budget=4, n_shards=1).collect()[0]
    assert (row2.n_chunks, row2.padding_tokens) == (3, 3)
    assert row2.fill_ratio == 9 / 12


# ------------------------------------------------------ LSH band tuning


def test_lsh_band_tuning_scurve_values(spark):
    """Hand-checked S-curve on a two-pair distribution: jac 1.0 (dup)
    and jac 0.25 (other). p(1)=1 for every config; for (r=2, b=4):
    p(0.25) = 1 − (1 − 0.0625)⁴."""
    from kafka_elasticsearch_injector_spark.operators.dedup import (
        lsh_band_tuning,
    )

    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (3, 4, 0.25)], "doc_a long, doc_b long, jac double")
    got = {(r.rows_per_band, r.bands):
           (r.n_dup_pairs, r.n_other_pairs,
            r.expected_dup_recall, r.expected_other_rate)
           for r in lsh_band_tuning(
               pairs, [(2, 4), (8, 1)], dup_threshold=0.5).collect()}
    import math
    q = 1048576
    p24 = 1.0 - (1.0 - 0.25 * 0.25) ** 4
    p81 = 0.25 ** 8
    assert got[(2, 4)] == (1, 1, 1.0, math.floor(p24 * q) / q)
    assert got[(8, 1)] == (1, 1, 1.0, math.floor(p81 * q) / q)


def test_lsh_band_tuning_empty_pairs_zero_rows(spark):
    from kafka_elasticsearch_injector_spark.operators.dedup import (
        lsh_band_tuning,
    )

    empty = spark.createDataFrame([], "doc_a long, doc_b long, jac double")
    assert lsh_band_tuning(empty, [(2, 4)]).count() == 0


def test_gini_rank_formula_equals_pairwise_definition(spark):
    """Cross-validate the implemented rank formula Σ(2i−n−1)wᵢ/(nΣw)
    against the textbook mean-absolute-difference definition
    G = ΣᵢΣⱼ|wᵢ−wⱼ| / (2n²·w̄) on randomized masses — two independent
    derivations agreeing pins the algebra, not just the code."""
    import random

    from kafka_elasticsearch_injector_spark.operators.curation import (
        gini_tokens,
    )

    rng = random.Random(99)
    for trial in range(3):
        masses = [rng.randint(1, 30) for _ in range(rng.randint(2, 8))]
        docs = spark.createDataFrame(
            [(i, " ".join(["t"] * m), f"s{i}")
             for i, m in enumerate(masses)],
            "doc_id long, text string, source string")
        got = gini_tokens(docs).collect()[0].gini
        n, tot = len(masses), sum(masses)
        pairwise = sum(abs(a - b) for a in masses for b in masses) / (
            2 * n * n * (tot / n))
        assert got == pytest.approx(pairwise, rel=1e-12), masses


def test_pack_sequences_matches_bruteforce(spark):
    """pack_sequences' window-cumsum layout vs a pure-Python replay of
    the concat-and-chunk definition on randomized doc lengths."""
    import random

    from kafka_elasticsearch_injector_spark.operators.curation import (
        pack_sequences,
    )

    rng = random.Random(7)
    budget, n_shards = 16, 3
    docs = [(i, " ".join(["w"] * rng.randint(1, 24))) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: (r.shard, r.n_tokens, r.chunk_id, r.chunk_offset)
           for r in pack_sequences(df, budget, n_shards).collect()}

    cursor = {s: 0 for s in range(n_shards)}
    for i, text in docs:                    # id order per shard
        n = len(text.split(" "))
        shard = i % n_shards
        start = cursor[shard]
        cursor[shard] += n
        assert got[i] == (shard, n, start // budget, start % budget), i


# --------------------------------------------- review regressions (r9)


def test_lsh_band_tuning_one_sided_class_null_rate(spark):
    """ADVICE r8 (medium): when every observed pair lands on one side
    of dup_threshold, the other class's ratio is x/0 — must be NULL,
    guarded explicitly (Spark non-ANSI happens to NULL x/0, but the
    unguarded DuckDB twin yields NaN/Inf — a parity break)."""
    from kafka_elasticsearch_injector_spark.operators.dedup import (
        lsh_band_tuning,
    )

    all_dup = spark.createDataFrame(
        [(1, 2, 1.0), (3, 4, 1.0)], "doc_a long, doc_b long, jac double")
    row = lsh_band_tuning(all_dup, [(2, 4)], dup_threshold=0.5).collect()[0]
    assert (row.n_dup_pairs, row.n_other_pairs) == (2, 0)
    assert row.expected_dup_recall == 1.0
    assert row.expected_other_rate is None


def test_lsh_band_tuning_sql_twin_guards_zero_class():
    """The oracle SQL must carry the SAME zero-class CASE guards and
    the WHERE twin of the Spark-side empty-input filter: DuckDB over
    a one-sided pair relation yields NULL rates (not NaN/Inf), and an
    empty relation yields ZERO config rows (not |configs| NULL rows)."""
    import duckdb

    from kafka_elasticsearch_injector_spark.plans.part_g import (
        _BT_CONFIGS, _bt_lanes_sql, _bt_rows_sql,
    )

    con = duckdb.connect()
    one_sided = f"""
    WITH p AS (SELECT CAST(1.0 AS DOUBLE) AS jac
               UNION ALL SELECT CAST(1.0 AS DOUBLE)),
    lanes AS (SELECT {_bt_lanes_sql()} FROM p)
    {_bt_rows_sql()}
    """
    rows = con.execute(one_sided).fetchall()
    assert len(rows) == len(_BT_CONFIGS)
    for r in rows:
        assert (r[2], r[3]) == (2, 0)       # n_dup_pairs, n_other_pairs
        assert r[4] == 1.0                  # expected_dup_recall
        assert r[5] is None                 # expected_other_rate: NULL

    empty = f"""
    WITH p AS (SELECT * FROM (SELECT CAST(0.5 AS DOUBLE) AS jac)
               WHERE 1 = 0),
    lanes AS (SELECT {_bt_lanes_sql()} FROM p)
    {_bt_rows_sql()}
    """
    assert con.execute(empty).fetchall() == []


def test_gini_tokens_null_mass_group_excluded(spark):
    """ADVICE r8: a group whose token mass is entirely NULL must be
    excluded from n_groups — counting it in n while it contributes
    nothing to Σw or the numerator can drive gini negative. Masses
    s1=1, s2=3, s3=NULL → n=2, Σw=4,
    G = ((2·1−2−1)·1 + (2·2−2−1)·3) / (2·4) = 2/8."""
    from kafka_elasticsearch_injector_spark.operators.curation import (
        gini_tokens,
    )

    docs = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b c d", "s2"), (3, None, "s3")],
        "doc_id long, text string, source string")
    row = gini_tokens(docs).collect()[0]
    assert (row.n_groups, row.total_tokens) == (2, 4)
    assert row.gini == pytest.approx(2 / 8, abs=0)
    assert row.gini >= 0.0


def test_gini_tokens_null_mass_sql_parity():
    """The q_gini_tokens oracle's HAVING clause is the SQL twin of the
    operator's w-IS-NOT-NULL filter: DuckDB over the same NULL-mass
    corpus returns the identical (2, 4, 0.25) row."""
    import duckdb

    from kafka_elasticsearch_injector_spark.plans import oracle_sql

    con = duckdb.connect()
    con.execute("""
        CREATE VIEW documents AS SELECT * FROM (VALUES
          (1, 'a', 's1'), (2, 'b c d', 's2'), (3, CAST(NULL AS VARCHAR),
           's3')) t(doc_id, text, source)""")
    assert con.execute(oracle_sql()["q_gini_tokens"]).fetchall() == [
        (2, 4, 0.25)]


def test_ngram_coverage_oracle_gram_generated_from_n():
    """ADVICE r8: the oracle's gram expression must be GENERATED from
    _NC_N (a hardcoded bigram concat would silently desync the
    declared pair if _NC_N were bumped) — rebuild the expected concat
    and window bound from _NC_N and pin both in the registered SQL."""
    from kafka_elasticsearch_injector_spark.plans import oracle_sql, part_g

    expected_gram = " || ' ' || ".join(
        f"tk[pos+{i}]" if i else "tk[pos]" for i in range(part_g._NC_N))
    sql = oracle_sql()["q_ngram_coverage"]
    assert expected_gram in sql
    assert f"- {part_g._NC_N - 1}, 0)" in sql


# ----------------------------------------- distributed exact NTILE (r9)


def test_ntile_by_id_matches_window_ntile(spark):
    """ntile_by_id must reproduce SQL NTILE exactly on adversarial id
    distributions: clustered, gapped, negative, and n < buckets —
    compared against Spark's own window ntile as ground truth."""
    from pyspark.sql import Window

    from kafka_elasticsearch_injector_spark.operators.curation import (
        ntile_by_id,
    )

    cases = [
        list(range(100)),                              # dense sequential
        [i * 97 + 13 for i in range(57)],              # strided
        [2**40 + i for i in range(20)] + [-5, 0, 7],   # clustered + tail
        [-(2**35) + i * i for i in range(33)],         # quadratic gaps
        [42],                                          # n == 1
        [1, 2, 3],                                     # n < buckets
    ]
    def ntile_ref(ids: list[int], b: int) -> dict[int, int]:
        """SQL NTILE spec: first n mod b buckets get one extra row."""
        srt = sorted(ids)
        n, base, rem = len(srt), len(srt) // b, len(srt) % b
        out, idx = {}, 0
        for bucket in range(1, b + 1):
            for _ in range(base + (1 if bucket <= rem else 0)):
                if idx < n:
                    out[srt[idx]] = bucket
                    idx += 1
        return out

    # Spec-level Python reference for the full matrix (the r12 duration
    # profile showed the 48 tiny collect-pairs this ran before cost
    # ~50 s of pure job-scheduling overhead for KB-sized data), plus
    # ONE Spark-window anchor proving the reference IS Spark's ntile.
    anchor = spark.createDataFrame([(i,) for i in cases[1]], "doc_id long")
    spark_want = {r.doc_id: r.bucket for r in anchor.withColumn(
        "bucket", F.ntile(7).over(Window.orderBy("doc_id"))).collect()}
    assert spark_want == ntile_ref(cases[1], 7)

    # Trimmed matrix (same semantic classes, ~half the heavy collects:
    # ntile_by_id's plan is multi-stage, ~2 s per action on local[*]):
    # every id distribution at the general b=7; the dense case also at
    # b=2/10 (bucket-count extremes); n < buckets at b=10 (boundary
    # ranks repeat); b=1 once (the buckets<2 short-circuit).
    matrix = ([(ids, 7) for ids in cases]
              + [(cases[0], 2), (cases[0], 10),
                 (cases[5], 10), (cases[0], 1)])
    for ids, b in matrix:
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        got = {r.doc_id: r.bucket
               for r in ntile_by_id(df, b, coarse=8).collect()}
        assert got == ntile_ref(ids, b), (ids, b)


def test_vocab_growth_no_global_id_window(spark, sf_dir):
    """r8 verdict item #1: q_vocab_growth must NOT rank per-document
    ids in a single-task window. The executed plan must contain no
    ntile, and every window ordering raw `_id` attributes must be
    PARTITIONED by the coarse group `_c` (unpartitioned windows are
    only allowed over aggregate-sized relations, which never carry
    `_id`)."""
    import re

    from kafka_elasticsearch_injector_spark.plans import queries

    df = queries()["q_vocab_growth"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
    assert specs, plan
    for spec in specs:
        if "_id#" in spec:
            assert spec.lstrip().startswith("_c#"), spec
    # single-pass gate (r9): the linear per-token chain must derive
    # the token explode ONCE — a branching tok_mass/first_seen
    # formulation re-scans text per consumer. Final plan section only
    # (AQE toString appends an Initial Plan duplicate).
    final = plan.split("== Initial Plan ==")[0]
    text_scans = [m for m in re.findall(r"FileScan parquet \[([^\]]*)\]",
                                        final) if "text" in m]
    assert len(text_scans) == 1, text_scans


# ------------------------------------- sampled recall evaluation (r9)


def _recall_fixture(spark):
    """~40 docs with hash-dispersed ids and planted bigram near-dups so
    that BOTH the full corpus and the md5 mod-3 sample contain true
    pairs (texts are duplicated across ids, so any surviving id pair
    of the same family is a jac=1.0 truth pair)."""
    fams = ["alpha beta gamma delta", "red green blue yellow",
            "one two three four five", "north south east west"]
    rows = [(i, fams[i % len(fams)]) for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_recall_sample_mod_one_is_full(spark):
    """sample_mod=1 (and None) must be the identical full-corpus
    evaluation — same single result row."""
    from kafka_elasticsearch_injector_spark.operators.dedup import (
        dedup_recall,
    )

    docs = _recall_fixture(spark)
    full = dedup_recall(docs, threshold=0.5, size_hint=40).collect()
    assert len(full) == 1 and full[0].n_true_pairs > 0
    assert dedup_recall(docs, threshold=0.5, size_hint=40,
                        sample_mod=1).collect() == full


def test_dedup_recall_sampled_equals_direct_on_subcorpus(spark):
    """The 100 TB contract: recall with sample_mod=m must equal the
    full evaluation run directly on hash_sample(docs, m) — the knob
    only selects the sub-corpus, never changes the measurement."""
    from kafka_elasticsearch_injector_spark.operators.dedup import (
        dedup_recall, hash_sample,
    )

    docs = _recall_fixture(spark)
    sub = hash_sample(docs, 3)
    n_sub = sub.count()
    assert 0 < n_sub < 40            # the sample is real and proper
    direct = dedup_recall(sub, threshold=0.5, size_hint=n_sub).collect()
    sampled = dedup_recall(docs, threshold=0.5, size_hint=40,
                           sample_mod=3).collect()
    assert sampled == direct
    assert len(sampled) == 1 and sampled[0].n_true_pairs > 0


def test_hash_sample_matches_sql_twin(spark):
    """hash_sample's md5-prefix selection must be bit-identical to its
    documented DuckDB twin (the cross-engine sampling contract)."""
    import duckdb

    from kafka_elasticsearch_injector_spark.operators.dedup import (
        hash_sample,
    )

    docs = spark.createDataFrame([(i,) for i in range(200)],
                                 "doc_id long")
    got = sorted(r.doc_id for r in hash_sample(docs, 5).collect())
    want = [r[0] for r in duckdb.sql("""
        SELECT i FROM range(200) t(i)
        WHERE CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 8)
                   AS BIGINT) % 5 = 0
        ORDER BY i""").fetchall()]
    assert got == want and len(got) > 0
