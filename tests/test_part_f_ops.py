"""Unit + plan-shape tests for the Part F curation operators
(winnowing pair discovery, token familiarity, cross-lingual audit)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --------------------------------------------------- winnow pairs


def test_winnow_pairs_planted_overlap(spark):
    """Two docs sharing a long run must pair up; an unrelated doc must
    not appear in any pair."""
    from kafka_elasticsearch_injector_spark.operators.text import (
        winnow_pairs,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = _docs(spark, [
        (1, shared + " one two three four five six"),
        (2, "nine eight seven " + shared),
        (3, "completely different words nothing in common here at all "
            "more filler tokens pad pad2 pad3 pad4 pad5 pad6"),
    ])
    rows = winnow_pairs(df, k=3, w=4, df_ceiling=16, min_shared=1).collect()
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    by = {(r.doc_a, r.doc_b): r for r in rows}
    r12 = by[(1, 2)]
    assert r12.n_shared >= 1
    assert 0.0 < r12.overlap <= 1.0


def test_winnow_pairs_replays_fingerprint_sets(spark):
    """n_shared/overlap must equal the intersection of the docs'
    winnow_fingerprints sets computed independently (min_shared=1,
    huge ceiling → pure set semantics)."""
    from kafka_elasticsearch_injector_spark.operators.text import (
        winnow_pairs,
    )

    from .winnow_view import winnow_fingerprints

    words = ["w%d" % (i % 17) for i in range(60)]
    df = _docs(spark, [
        (i, " ".join(words[i:] + words[:i])) for i in range(6)
    ])
    fps = {}
    for r in winnow_fingerprints(df, k=3, w=4).collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    got = {(r.doc_a, r.doc_b): (r.n_shared, r.overlap)
           for r in winnow_pairs(df, k=3, w=4, df_ceiling=10**6,
                                 min_shared=1).collect()}
    for a in range(6):
        for b in range(a + 1, 6):
            shared = len(fps[a] & fps[b])
            if shared == 0:
                assert (a, b) not in got
            else:
                n, ov = got[(a, b)]
                assert n == shared
                assert ov == shared / min(len(fps[a]), len(fps[b]))


def test_winnow_pairs_df_ceiling_drops_boilerplate(spark):
    """Lowering df_ceiling must be monotone — it only removes pairs —
    and a permissive ceiling pairs every doc sharing the boilerplate
    run. (A strict "ceiling < 8 → zero pairs" does NOT hold: tail-
    window selection can pick a boilerplate gram in only a few docs,
    and a df ≤ ceiling fingerprint legitimately pairs those.)"""
    from kafka_elasticsearch_injector_spark.operators.text import (
        winnow_pairs,
    )

    boiler = "copyright notice all rights reserved contact us today"
    df = _docs(spark, [
        (i, boiler + f" unique{i}a unique{i}b unique{i}c unique{i}d")
        for i in range(8)
    ])
    def pairset(ceiling):
        return {(r.doc_a, r.doc_b) for r in winnow_pairs(
            df, k=3, w=4, df_ceiling=ceiling, min_shared=1).collect()}

    full, capped, strict = pairset(8), pairset(4), pairset(1)
    # permissive ceiling → every pair shares the boilerplate run
    assert len(full) == 8 * 7 // 2
    # monotone: each tighter ceiling keeps a subset, and the cap bites
    assert capped < full
    assert strict <= capped
    assert strict == set()  # df=1 fingerprints cannot pair anything


# ---------------------------------------------- token familiarity


def test_token_familiarity_hand_computed(spark):
    from kafka_elasticsearch_injector_spark.operators.text import (
        token_familiarity,
    )

    df = _docs(spark, [
        (1, "a b c"),        # a:3 docs, b:2, c:1  → sum 6 / 3 types
        (2, "a b a"),        # types {a,b} → 3+2=5 / 2
        (3, "a d"),          # 3+1=4 / 2
    ])
    got = {r.doc_id: (r.n_types, r.df_sum, r.familiarity)
           for r in token_familiarity(df).collect()}
    assert got == {1: (3, 6, 2.0), 2: (2, 5, 2.5), 3: (2, 4, 2.0)}


def test_token_familiarity_plan_is_zipf_safe(spark, sf_dir):
    """The df profile must be partial-aggregated (map-side combine —
    Zipf-immune) and, with a broadcastable vocabulary, the join back
    must BROADCAST it so the (doc, token) rows never shuffle for the
    join."""
    from kafka_elasticsearch_injector_spark.plans import queries

    df = queries()["q_token_familiarity"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_token_familiarity_past_broadcast_degrade(spark, sf_dir):
    """The docstring promises the join back 'degrades to a shuffle
    join where AQE's skew-join splits the hot tokens' once the
    vocabulary outgrows the broadcast threshold. Force that regime
    (autoBroadcastJoinThreshold=-1) and prove the fallback plan is
    sane: a shuffle join ON tok (SortMergeJoin/ShuffledHashJoin, no
    broadcast anywhere), the df profile still partial-aggregated
    (Zipf-immune map-side combine), and the RESULT identical to the
    broadcast regime's."""
    from kafka_elasticsearch_injector_spark.operators.text import (
        token_familiarity,
    )
    from kafka_elasticsearch_injector_spark.plans import queries

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    df_small = _docs(spark, [(1, "a b c"), (2, "a b a"), (3, "a d")])
    want = {r.doc_id: (r.n_types, r.df_sum, r.familiarity)
            for r in token_familiarity(df_small).collect()}
    try:
        spark.conf.set(key, "-1")
        q = queries()["q_token_familiarity"](spark, sf_dir)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        assert ("SortMergeJoin" in plan
                or "ShuffledHashJoin" in plan), plan
        assert "partial_count" in plan, plan
        got = {r.doc_id: (r.n_types, r.df_sum, r.familiarity)
               for r in token_familiarity(df_small).collect()}
        assert got == want == {1: (3, 6, 2.0), 2: (2, 5, 2.5),
                               3: (2, 4, 2.0)}
    finally:
        spark.conf.set(key, old)


# ------------------------------------------------- cross-lingual


def test_crosslingual_matrix_is_symmetric_free(spark):
    """lang_lo < lang_hi always: the rollup never emits a mirrored or
    same-language cell."""
    from kafka_elasticsearch_injector_spark.plans import queries

    rows = queries()["q_crosslingual_dups"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows, "expected non-empty cross-lingual pairs at sf0.001"
    for r in rows:
        assert r.lang_lo < r.lang_hi
        assert r.n_pairs >= 1
        assert 0.0 < r.max_jac <= 1.0
