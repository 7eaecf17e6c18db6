"""Property-based invariants for the core dedup/similarity operators:
randomized inputs, brute-force Python oracles. Few examples per test
(each example runs Spark jobs); the value is the randomized shapes —
degenerate sets, singleton components, adversarial fingerprints — not
example count.
"""

from __future__ import annotations

import itertools

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_elasticsearch_injector_spark.operators import dedup as D
from kafka_elasticsearch_injector_spark.operators.blocked import (
    containment_pairs_blocked,
    jaccard_pairs_blocked,
)

_SETTINGS = dict(max_examples=5, deadline=None)


@st.composite
def edge_lists(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    edges = draw(st.lists(
        st.tuples(st.integers(0, n - 1), st.integers(0, n - 1)),
        max_size=15))
    return n, [(a, b) for a, b in edges if a != b]


def _brute_components(n: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: min(j for j in range(n) if find(j) == find(i))
            for i in range(n)}


@settings(**_SETTINGS)
@given(edge_lists())
def test_connected_components_matches_union_find(spark, case):
    n, edges = case
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "doc_a long, doc_b long")
    if not edges:
        pairs = pairs.filter(F.col("doc_a") != F.col("doc_b"))
    got = {r.node: r.label
           for r in D.connected_components(nodes, pairs).collect()}
    assert got == _brute_components(n, edges)


@settings(**_SETTINGS)
@given(st.lists(st.integers(0, 2 ** 16 - 1), min_size=2, max_size=14,
                unique=True))
def test_hamming_segment_pairs_equal_brute_force(spark, fps):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(fps)], "doc_id long, simhash long")
    got = {(r.doc_a, r.doc_b): r.hamming
           for r in D.hamming_segment_pairs(df, bits=16,
                                            max_hamming=3).collect()}
    want = {}
    for (i, a), (j, b) in itertools.combinations(enumerate(fps), 2):
        h = bin(a ^ b).count("1")
        if h <= 3:
            want[(min(i, j), max(i, j))] = h
    assert got == want


@settings(**_SETTINGS)
@given(st.lists(
    st.sets(st.sampled_from(["a", "b", "c", "d", "e", "f"]), max_size=6),
    min_size=2, max_size=8))
def test_containment_kernel_equals_set_arithmetic(spark, sets):
    rows = [(i, sorted(s)) for i, s in enumerate(sets)]
    df = spark.createDataFrame(rows, "doc_id long, g array<string>")
    got = {(r.doc_a, r.doc_b): r.containment
           for r in containment_pairs_blocked(
               df, threshold=0.0, n_blocks=2).collect()}
    want = {}
    for (i, a), (j, b) in itertools.permutations(enumerate(sets), 2):
        if not a:
            continue
        # unrounded since the round-6 audit: the kernel's division on
        # exact integer counts is bit-identical to this one
        want[(i, j)] = len(a & b) / len(a)
    assert got == want
    got_j = {(r.doc_a, r.doc_b): r.jac
             for r in jaccard_pairs_blocked(
                 df, threshold=1e-9, n_blocks=2).collect()}
    assert got_j == {(i, j): len(a & b) / len(a | b)
                     for (i, a), (j, b) in itertools.combinations(
                         enumerate(sets), 2) if a & b}


# ------------------------------------------ distributed NTILE (r9)


def _brute_ntile(ids: list[int], b: int) -> dict[int, int]:
    """Pure-Python SQL NTILE: first (n mod b) tiles get one extra."""
    s = sorted(ids)
    n = len(s)
    base, rem = divmod(n, b)
    out, i = {}, 0
    for t in range(1, b + 1):
        size = base + (1 if t <= rem else 0)
        for _ in range(size):
            if i < n:
                out[s[i]] = t
                i += 1
    return out


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=-2**62, max_value=2**62),
                min_size=1, max_size=60, unique=True),
       st.integers(min_value=1, max_value=12),
       st.integers(min_value=2, max_value=9))
def test_ntile_by_id_matches_bruteforce(spark, ids, b, coarse):
    """ntile_by_id == the textbook NTILE on arbitrary unique int64
    ids, for any bucket count and any coarse-split width (the coarse
    parameter must never change the answer — it only repartitions the
    boundary search)."""
    from kafka_elasticsearch_injector_spark.operators.curation import (
        ntile_by_id,
    )

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r.bucket
           for r in ntile_by_id(df, b, coarse=coarse).collect()}
    assert got == _brute_ntile(ids, b)


@settings(**_SETTINGS)
@given(st.lists(
    st.tuples(st.sampled_from(["s1", "s2", "s3"]),
              st.integers(min_value=0, max_value=40)),
    min_size=1, max_size=50))
def test_group_median_grid_matches_bruteforce(spark, rows):
    """Value-grid median == the textbook lower median per group
    (duplicates and all)."""
    from kafka_elasticsearch_injector_spark.operators.curation import (
        group_median_grid,
    )

    df = spark.createDataFrame(rows, "source string, n_chars long")
    got = {r.source: (r.n_docs, r.median)
           for r in group_median_grid(df).collect()}
    want = {}
    for g in {g for g, _ in rows}:
        vs = sorted(v for gg, v in rows if gg == g)
        want[g] = (len(vs), vs[(len(vs) + 1) // 2 - 1])
    assert got == want


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=200),
                          st.sampled_from([1, 2])),
                min_size=4, max_size=60).filter(
                    lambda rs: len({g for _, g in rs}) == 2),
       st.integers(min_value=2, max_value=16))
def test_drift_ks_bucket_mode_bounds(spark, rows, buckets):
    """Bucket-first KS is a LOWER bound on exact D for any bucket
    count, and EQUALS it when the bucket width is 1 (every observed
    value gets its own bucket) — the two properties the 100 TB mode's
    contract rests on."""
    from kafka_elasticsearch_injector_spark.operators.curation import (
        drift_ks,
    )

    df = spark.createDataFrame([(v, g) for v, g in rows],
                               "v long, grp int")
    exact = drift_ks(df).collect()[0].ks_d
    coarse = drift_ks(df, buckets=buckets).collect()[0].ks_d
    assert coarse <= exact + 1e-15, (rows, buckets)
    span = max(v for v, _ in rows) - min(v for v, _ in rows)
    fine = drift_ks(df, buckets=span + 1 if span else 1).collect()[0].ks_d
    assert fine == exact, (rows,)


# --- dense vs sparse tile regimes (r12: SPARSE_TILE_VOCAB split) -----------

_WIDE_VOCAB = [f"w{i}" for i in range(64)]


@settings(**_SETTINGS)
@given(st.lists(
    st.lists(st.sampled_from(_WIDE_VOCAB), max_size=12),  # dups allowed:
    # the dense 0/1 assignment collapses duplicate elements, so the
    # sparse accumulation dedupes (row, code) pairs to stay identical
    # even on inputs violating the distinct-elements precondition
    min_size=2, max_size=10))
def test_tile_regimes_bit_identical(case):
    """_tile_intersections' two regimes (dense sgemm vs sparse
    code-aligned bincount) must produce the SAME exact-integer
    intersection matrix — the bit-identical-output contract that lets
    the kernels switch regimes per tile (r12 scale fix). Pure local
    check (no Spark): the kernels call this function verbatim."""
    import numpy as np
    import pandas as pd

    from kafka_elasticsearch_injector_spark.operators.blocked import (
        _tile_intersections,
    )

    sets = [np.array(s, dtype=object) for s in case]
    half = max(1, len(sets) // 2)
    lp = pd.DataFrame({"doc_id": np.arange(half, dtype=np.int64),
                       "g": sets[:half]})
    rp = pd.DataFrame(
        {"doc_id": np.arange(100, 100 + len(sets) - half, dtype=np.int64),
         "g": sets[half:]})
    for a, b, diag in ((lp, lp, True), (lp, rp, False)):
        if len(b) == 0:
            continue
        dense = _tile_intersections(a, b, diag, "doc_id", "g",
                                    sparse_cutoff=10 ** 9)
        sparse = _tile_intersections(a, b, diag, "doc_id", "g",
                                     sparse_cutoff=0)
        assert np.array_equal(dense[0], sparse[0])
        for d, s in zip(dense[1:], sparse[1:]):
            assert np.array_equal(d, s)


def test_sparse_regime_spark_outputs_match_dense(spark):
    """End-to-end through Spark: containment and jaccard kernels forced
    onto the sparse regime (sparse_cutoff=0) return exactly the default
    dense-regime rows — values compared exactly, not approximately."""
    import random

    rng = random.Random(12)
    vocab = [f"t{i}" for i in range(300)]
    rows = [(i, sorted(rng.sample(vocab, rng.randint(0, 12))))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, g array<string>")
    for fn, val in ((containment_pairs_blocked, "containment"),
                    (jaccard_pairs_blocked, "jac")):
        dense = {(r.doc_a, r.doc_b): r[val]
                 for r in fn(df, threshold=0.0, n_blocks=3).collect()}
        sparse = {(r.doc_a, r.doc_b): r[val]
                  for r in fn(df, threshold=0.0, n_blocks=3,
                              sparse_cutoff=0).collect()}
        assert dense == sparse and len(dense) > 0
