"""Unit/property tests for the Part E curation operators
(operators/semdedup.py + the round-7 additions to dedup/text/
curation/maintenance/multimodal)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _emb_df(spark, n=60, dim=8, seed=7):
    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.uniform(-0.5, 0.5, dim)])
            for i in range(n)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")


# ------------------------------------------------------- k-means


def test_kmeans_assign_is_nearest_centroid(spark):
    """Every point's reported cluster must be the argmin (with lowest-
    cluster tie-break) over SOME common centroid list — verified by
    replaying the exact integer Lloyd iterations in numpy."""
    from kafka_elasticsearch_injector_spark.operators.semdedup import (
        QUANT_SCALE,
        kmeans_assign,
    )

    dim, k, iters = 8, 4, 2
    df = _emb_df(spark, n=60, dim=dim)
    got = {r.vec_id: (r.cluster, r.dist_sq)
           for r in kmeans_assign(df, k=k, iters=iters, dim=dim).collect()}

    pdf = df.toPandas().sort_values("vec_id")
    q = {int(r.vec_id):
         np.floor(np.array(r.embedding, dtype=np.float64) * QUANT_SCALE)
         .astype(np.int64) for r in pdf.itertuples()}
    cents = {j: q[j] for j in range(k)}  # k lowest ids are 0..k-1 here

    def assign(cents):
        out = {}
        for vid, vec in q.items():
            best = min((int(((vec - c) ** 2).sum()), j)
                       for j, c in cents.items())
            out[vid] = best  # (dist, cluster)
        return out

    for _ in range(iters):
        a = assign(cents)
        agg: dict[int, list] = {}
        for vid, (_, j) in a.items():
            agg.setdefault(j, []).append(q[vid])
        cents = {j: np.array([int(np.floor(float(s) / len(vs)))
                              for s in np.sum(vs, axis=0)], dtype=np.int64)
                 for j, vs in agg.items()}
    final = assign(cents)
    expect = {vid: (j, d) for vid, (d, j) in final.items()}
    assert got == expect


def test_kmeans_deterministic_rerun(spark):
    from kafka_elasticsearch_injector_spark.operators.semdedup import (
        kmeans_assign,
    )

    df = _emb_df(spark, n=40, dim=8, seed=3)
    a = sorted(map(tuple, kmeans_assign(df, k=3, iters=2, dim=8).collect()))
    b = sorted(map(tuple, kmeans_assign(df, k=3, iters=2, dim=8).collect()))
    assert a == b


def test_semdedup_stats_match_brute_force(spark):
    from kafka_elasticsearch_injector_spark.operators.semdedup import (
        kmeans_assign,
        semdedup_cluster_stats,
    )

    dim, k, thr = 8, 3, 0.2
    df = _emb_df(spark, n=50, dim=dim, seed=11)
    stats = {r.cluster: (r.n_docs, r.n_dup_pairs, r.n_pruned)
             for r in semdedup_cluster_stats(
                 df, threshold=thr, k=k, iters=2, dim=dim).collect()}

    assign = {r.vec_id: r.cluster
              for r in kmeans_assign(df, k=k, iters=2, dim=dim).collect()}
    vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64)
            for r in df.toPandas().itertuples()}
    expect: dict[int, list] = {}
    for a in vecs:
        expect.setdefault(assign[a], [0, set()])
    for a in vecs:
        for b in vecs:
            if a < b and assign[a] == assign[b]:
                va, vb = vecs[a], vecs[b]
                # dimension-sequential fold, same as the operator
                dot = 0.0
                na = 0.0
                nb = 0.0
                for i in range(dim):
                    dot += va[i] * vb[i]
                    na += va[i] * va[i]
                    nb += vb[i] * vb[i]
                cs = dot / (np.sqrt(na) * np.sqrt(nb))
                if cs >= thr:
                    e = expect[assign[a]]
                    e[0] += 1
                    e[1].add(b)
    sizes: dict[int, int] = {}
    for a, c in assign.items():
        sizes[c] = sizes.get(c, 0) + 1
    for c, n in sizes.items():
        pairs, pruned = expect.get(c, [0, set()])
        assert stats[c] == (n, pairs, len(pruned))


def test_semdedup_stats_chunked_kernel_identical(spark):
    """The r15 tile kernel chunks the within-cluster scoring matrix
    (chunk×|cluster|, never |cluster|²); a chunk smaller than every
    cluster must produce byte-identical stats to one big tile."""
    from kafka_elasticsearch_injector_spark.operators.semdedup import (
        semdedup_cluster_stats,
    )

    df = _emb_df(spark, n=50, dim=8, seed=11)
    big = sorted(map(tuple, semdedup_cluster_stats(
        df, threshold=0.2, k=3, iters=2, dim=8,
        chunk_rows=4096).collect()))
    small = sorted(map(tuple, semdedup_cluster_stats(
        df, threshold=0.2, k=3, iters=2, dim=8,
        chunk_rows=7).collect()))
    assert big == small


# ------------------------------------------------------- winnowing


def test_winnow_shared_run_guarantee(spark):
    """Winnowing's core guarantee: documents sharing a token run of
    length ≥ w+k-1 share at least one fingerprint VALUE."""
    from .winnow_view import winnow_fingerprints

    k, w = 3, 4
    shared = " ".join(f"s{i}" for i in range(w + k - 1))  # exactly w+k-1
    df = spark.createDataFrame(
        [(1, "aa bb cc " + shared + " dd ee"),
         (2, shared + " zz yy xx ww vv uu")],
        "doc_id long, text string")
    fp = winnow_fingerprints(df, k=k, w=w).collect()
    f1 = {r.fp for r in fp if r.doc_id == 1}
    f2 = {r.fp for r in fp if r.doc_id == 2}
    assert f1 & f2


def test_winnow_density_band(spark):
    """Selected fingerprints ≤ windows; every window contributes, so
    density sits in (0, 1] and n_fingerprints ≤ n_grams - w + 1."""
    from .winnow_view import winnow_fingerprints

    text = " ".join(f"t{i % 17}" for i in range(60))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = winnow_fingerprints(df, k=3, w=4).collect()
    n_grams = rows[0].n_grams
    assert 1 <= len(rows) <= n_grams - 3
    assert all(1 <= r.sel_pos <= n_grams for r in rows)


def test_winnow_position_overflow_fails_loudly(spark):
    """The fused min-key carries 16-bit positions; a document with
    more than 65535 k-grams must raise (not silently corrupt the
    rightmost-min tie-break and the sel_pos/fp decode)."""
    import pytest

    from .winnow_view import winnow_fingerprints

    big = " ".join(str(i) for i in range(65536 + 3 - 1 + 1))  # 65536 grams
    df = spark.createDataFrame([(1, big)], "doc_id long, text string")
    with pytest.raises(Exception, match="position encoding overflow"):
        winnow_fingerprints(df, k=3, w=4).collect()
    # exactly AT the bound still works
    ok = " ".join(str(i) for i in range(65535 + 3 - 1))  # 65535 grams
    df2 = spark.createDataFrame([(1, ok)], "doc_id long, text string")
    assert winnow_fingerprints(df2, k=3, w=4).count() >= 1


# ------------------------------------------------------- cross minhash


def test_minhash_cross_equals_selfjoin_cross_subset(spark):
    """The cross-corpus LSH screen must emit exactly the self-join
    screen's pairs restricted to (corpus, probe) sides — same bands,
    same verify."""
    from kafka_elasticsearch_injector_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_cross,
    )

    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(30):
        words = base.split()
        words[i % len(words)] = f"w{i}"
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.filter(F.col("doc_id") % 5 != 0)
    probe = df.filter(F.col("doc_id") % 5 == 0)

    cross = {(r.doc_id, r.probe_id, r.jac)
             for r in minhash_lsh_pairs_cross(
                 corpus, probe, threshold=0.5).collect()}
    self_pairs = minhash_lsh_pairs(df, threshold=0.5).collect()
    expect = set()
    for r in self_pairs:
        a, b = r.doc_a, r.doc_b
        if a % 5 != 0 and b % 5 == 0:
            expect.add((a, b, r.jac))
        elif b % 5 != 0 and a % 5 == 0:
            expect.add((b, a, r.jac))
    assert cross == expect


# ------------------------------------------------------- corpus diff


def test_corpus_diff_statuses(spark):
    from kafka_elasticsearch_injector_spark.operators.maintenance import (
        corpus_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "doc_id long, digest string, n_chars long")
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "CHANGED", 31), (4, "d", 40)],
        "doc_id long, digest string, n_chars long")
    got = {r.doc_id: (r.status, r.n_chars)
           for r in corpus_diff(old, new).collect()}
    assert got == {1: ("removed", 10), 2: ("unchanged", 20),
                   3: ("changed", 31), 4: ("added", 40)}


def test_corpus_diff_null_digest_is_changed(spark):
    """Null-safe digest compare: a null-vs-non-null digest pair is
    'changed' (a plain != evaluates NULL and used to fall through to
    'unchanged'); null-vs-null is 'unchanged'."""
    from kafka_elasticsearch_injector_spark.operators.maintenance import (
        corpus_diff,
    )

    old = spark.createDataFrame(
        [(1, None, 10), (2, "b", 20), (3, None, 30)],
        "doc_id long, digest string, n_chars long")
    new = spark.createDataFrame(
        [(1, "now-present", 11), (2, None, 21), (3, None, 30)],
        "doc_id long, digest string, n_chars long")
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "changed", 2: "changed", 3: "unchanged"}


# ------------------------------------------------------- capping


def test_cap_per_source(spark):
    from kafka_elasticsearch_injector_spark.operators.curation import (
        cap_per_source,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(30)],
        "doc_id long, source string")
    out = cap_per_source(df, cap=4).collect()
    kept = {}
    for r in out:
        kept.setdefault(r.source, []).append((r.doc_id, r.kept))
    for src, entries in kept.items():
        ids = sorted(i for i, _ in entries)
        expect_kept = set(ids[:4])
        assert {i for i, k in entries if k} == expect_kept


# ------------------------------------------------------- phash


def test_perceptual_hash_block_locality(spark):
    """Identical payloads hash identically; a payload edited inside
    ONE chunk flips at most one bit."""
    from kafka_elasticsearch_injector_spark.operators.multimodal import (
        attach_media,
        perceptual_hash,
    )

    base = "x" * 64
    edited = base[:10] + "Q" + base[11:]  # same length, chunk 5 only
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, edited)], "doc_id long, text string")
    ph = {r.doc_id: r.phash
          for r in perceptual_hash(attach_media(df), bits=32).collect()}
    assert ph[1] == ph[2]
    assert bin(ph[1] ^ ph[3]).count("1") <= 1


# ------------------------------------------------------- k-anonymity


def test_k_anonymity_audit_counts(spark):
    from kafka_elasticsearch_injector_spark.operators.curation import (
        k_anonymity_audit,
    )

    # group (g1, a): 3 rows (safe at k=3); (g1, b): 1 row (suppressed);
    # (g2, a): 2 rows (suppressed)
    df = spark.createDataFrame(
        [("g1", "a"), ("g1", "a"), ("g1", "a"), ("g1", "b"),
         ("g2", "a"), ("g2", "a")],
        "grp string, qi string")
    got = {r.report: (r.n_groups, r.n_suppressed_groups,
                      r.n_rows_suppressed, r.n_rows_kept)
           for r in k_anonymity_audit(
               df, ["qi"], k=3, report_col="grp").collect()}
    assert got == {"g1": (2, 1, 1, 3), "g2": (1, 1, 2, 0)}


# ------------------------------------------------------- diversity


def test_lexical_diversity_values(spark):
    from kafka_elasticsearch_injector_spark.operators.text import (
        lexical_diversity,
    )

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w")], "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_types, r.type_token_ratio,
                      r.repetition_index)
           for r in lexical_diversity(df).collect()}
    assert got[1] == (4, 2, 0.5, (9 + 1) / 16)
    assert got[2] == (4, 4, 1.0, 4 / 16)


# ------------------------------------------------------- DSIR


def test_dsir_weights_pandas_replica(spark):
    import hashlib

    from kafka_elasticsearch_injector_spark.operators.curation import (
        dsir_weights,
    )

    rows = [(1, "aa bb cc", "en"), (2, "aa bb dd", "fr"),
            (3, "cc dd ee", "en"), (4, "ee ff gg", "de")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: (r.score_num, r.score_den, r.weight)
           for r in dsir_weights(
               df, df.filter(F.col("lang") == "en"),
               n_buckets=16).collect()}

    def bucket(gram):
        return int(hashlib.md5(gram.encode()).hexdigest()[:8], 16) % 16

    raw: dict[int, int] = {}
    tgt: dict[int, int] = {}
    docs: dict[int, dict[int, int]] = {}
    for doc_id, text, lang in rows:
        t = text.split(" ")
        grams = [f"{t[i]} {t[i+1]}" for i in range(len(t) - 1)]
        for g in grams:
            f = bucket(g)
            raw[f] = raw.get(f, 0) + 1
            if lang == "en":
                tgt[f] = tgt.get(f, 0) + 1
            docs.setdefault(doc_id, {})
            docs[doc_id][f] = docs[doc_id].get(f, 0) + 1
    for doc_id, feats in docs.items():
        num = sum(c * (tgt.get(f, 0) + 1) for f, c in feats.items())
        den = sum(c * (raw[f] + 1) for f, c in feats.items())
        assert got[doc_id] == (num, den, num / den)


# ------------------------------------------------------- plan gates


def _executed(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_fuzzy_decon_probe_broadcasts(spark, sf_dir):
    """The cross-corpus screen's candidate join must BROADCAST the
    probe band side: corpus band rows never shuffle, and no Exchange
    sits above the join (same discipline as the self-join LSH gate)."""
    from kafka_elasticsearch_injector_spark.plans import queries

    plan = _executed(queries()["q_decontaminate_fuzzy"](spark, sf_dir))
    tree = plan.split("\n\n", 1)[0]
    assert "BroadcastHashJoin" in tree, tree
    above = tree.split("BroadcastHashJoin", 1)[0]
    assert "Exchange" not in above, tree


def test_dsir_profiles_broadcast(spark, sf_dir):
    """Both corpus-profile joins (raw + target, 256 rows each) must be
    broadcasts — per-doc feature counts never shuffle for the joins
    (the groupBys' own exchanges are the only ones)."""
    from kafka_elasticsearch_injector_spark.plans import queries

    plan = _executed(queries()["q_dsir_weights"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_kmeans_final_assignment_is_narrow(spark, sf_dir):
    """The returned assignment plan must be a pure projection over the
    checkpointed quantized rows — no Exchange, no join: the centroids
    are plan literals inside one fold expression."""
    from kafka_elasticsearch_injector_spark.plans import queries

    plan = _executed(queries()["q_semdedup_kmeans"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_winnow_rollup_shuffle_free(spark, sf_dir):
    """winnow_stats is row-local array algebra over the scan — the
    executed plan must contain zero window/agg operators and no
    KEYED exchange: a narrow projection that parallelizes by input
    split. The one allowed exchange is the r15 fill_cluster scan
    rebalance BELOW the sketch (round-robin, no partition key), which
    spreads the interpreted md5 transform on few-split inputs and is
    guard-disabled at real scale."""
    from kafka_elasticsearch_injector_spark.plans import queries

    plan = _executed(queries()["q_winnow_fingerprints"](spark, sf_dir))
    assert "hashpartitioning" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert plan.count("Exchange") <= 1, plan
    assert "Window" not in plan, plan


def test_winnow_sliding_min_not_inlined(spark, sf_dir):
    """The sliding-min lambda must slice a MATERIALIZED `_encs`
    attribute, never an inlined transform: CollapseProject inlines a
    non-cheap alias referenced exactly once, and an inlined `_encs`
    under the per-window lambda re-evaluates the whole md5 transform
    per window position — O(n_grams²) hashing per document (the round-7
    regression: 22 s for a 270k-token corpus, 0.6 s fixed). Guarded by
    the size(_encs) double-reference in text._winnow_doc_arrays."""
    import re

    from kafka_elasticsearch_injector_spark.plans import queries

    plan = _executed(queries()["q_winnow_fingerprints"](spark, sf_dir))
    assert re.search(r"slice\(_encs#\d+", plan), plan
    assert "slice(transform" not in plan, plan


def test_winnow_pairs_reads_materialized_sketch_only(spark, sf_dir):
    """The round-7 402 s regression class: winnow_pairs fanned out to
    four INDEPENDENT corpus scans of the md5 sketch pipeline. The fix
    localCheckpoints the posting rows once, so the executed join plan
    must contain ZERO parquet scans of documents — every branch reads
    the checkpointed RDD."""
    from kafka_elasticsearch_injector_spark.plans import queries

    plan = _executed(queries()["q_winnow_pairs"](spark, sf_dir))
    assert "documents" not in plan, plan
    assert plan.count("ExistingRDD") >= 1, plan


def test_winnow_null_text_dropped_not_crashed(spark):
    """A NULL text row rides the silent-drop path (like any doc with
    fewer than w windows); the overflow guard must not fire on the
    NULL branch of the when()."""
    from .winnow_view import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, None), (2, "a b c d e f g h")], "doc_id long, text string")
    rows = winnow_fingerprints(df, k=3, w=4).collect()
    assert rows and {r.doc_id for r in rows} == {2}


def test_winnow_matches_bruteforce_reference(spark):
    """Semantic pin for the twice-rewritten winnowing plan: the Spark
    selection set must equal a pure-Python brute force of the same
    definition (md5-based gram hash, fused h·2¹⁶+(2¹⁶−1−pos) key,
    per-window min = rightmost-min tie-break, distinct selections) on
    randomized token sequences with forced hash collisions (tiny
    vocabulary ⇒ repeated grams ⇒ real tie-breaks)."""
    import hashlib
    import random

    from .winnow_view import winnow_fingerprints

    k, w = 3, 4
    rng = random.Random(1234)
    docs = []
    for i in range(25):
        n = rng.randint(1, 40)
        docs.append((i, " ".join(
            rng.choice("a b c d e".split()) for _ in range(n))))

    def brute(text):
        toks = text.split(" ")
        n_grams = len(toks) - (k - 1)
        if n_grams < w:
            return set()
        encs = []
        for p in range(n_grams):            # 0-based; stored pos is p+1
            g = " ".join(toks[p:p + k])
            h = int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
            encs.append(h * 65536 + (65535 - (p + 1)))
        sels = {min(encs[p:p + w]) for p in range(n_grams - w + 1)}
        return {(n_grams, 65535 - s % 65536, s // 65536) for s in sels}

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, k=k, w=w).collect():
        got.setdefault(r.doc_id, set()).add((r.n_grams, r.sel_pos, r.fp))
    expect = {i: brute(t) for i, t in docs if brute(t)}
    assert got == expect


def test_bm25_two_scans_no_joins(spark, sf_dir):
    """r9 rewrite gate: BM25 is one stats pass + one scoring pass —
    exactly two text scans in the executed plan (the theoretical
    minimum), no equi-joins (per-term tf and dl are row-local array
    lanes; stats broadcast), top-10 via TakeOrdered."""
    import re

    from kafka_elasticsearch_injector_spark.plans import queries

    df = queries()["q_bm25"](spark, sf_dir)
    df.collect()
    plan = (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    text_scans = [m for m in re.findall(r"FileScan parquet \[([^\]]*)\]",
                                        plan) if "text" in m]
    assert len(text_scans) == 2, text_scans
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "TakeOrdered" in plan, plan
