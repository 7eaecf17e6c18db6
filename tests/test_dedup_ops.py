"""Dedup operator family unit tests (operators/dedup.py).

Covers the pieces the oracle queries can't isolate: hint-driven physical
strategy (no plan-time Spark jobs), the masked verify's vocabulary
overflow guard, connected-component convergence, and simhash/minhash
agreement on planted near-duplicates.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_elasticsearch_injector_spark.operators import dedup as D


def _planted_corpus(spark):
    """60 distinct docs + 3 planted near-dup pairs (one word changed in a
    24-word doc — high Jaccard AND low simhash hamming)."""
    rows = []
    for i in range(60):
        rows.append((i, " ".join(f"base{i}w{j}" for j in range(24))))
    for p, src in enumerate((3, 17, 42)):
        text = " ".join(
            f"base{src}w{j}" if j != 11 else "CHANGED" for j in range(24))
        rows.append((100 + p, text))
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_simhash_pairs_finds_minhash_planted_dups(spark):
    df = _planted_corpus(spark)
    planted = {(3, 100), (17, 101), (42, 102)}
    mh = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(
            df, threshold=0.5, size_hint=63).collect()
    }
    sh = {
        (r.doc_a, r.doc_b)
        for r in D.simhash_pairs(df, max_hamming=3).collect()
    }
    assert planted <= mh, mh
    # The planted near-dups the minhash path finds, simhash finds too.
    assert planted <= sh, sh


def test_simhash_pairs_verifies_hamming(spark):
    df = _planted_corpus(spark)
    for r in D.simhash_pairs(df, max_hamming=2).collect():
        assert r.hamming <= 2


def test_simhash_pairs_no_duplicate_candidates(spark):
    # First-matching-segment emission: each qualifying pair appears once.
    df = _planted_corpus(spark)
    pairs = D.simhash_pairs(df, max_hamming=15).collect()  # everything pairs
    keys = [(r.doc_a, r.doc_b) for r in pairs]
    assert len(keys) == len(set(keys))
    n = df.count()
    assert len(keys) == n * (n - 1) // 2  # all pairs, exactly once


def test_minhash_plan_build_launches_no_jobs(spark):
    df = _planted_corpus(spark)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup() or [])
    D.minhash_lsh_pairs(df, size_hint=63, vocab_hint=None)
    D.simhash_pairs(df)
    after = set(tracker.getJobIdsForGroup() or [])
    assert after == before  # physical strategy from hints, not count() jobs


def test_minhash_bitmask_path_matches_array_path(spark):
    rows = [(i, "a b c d" if i % 2 else "a b c e") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    arr = D.minhash_lsh_pairs(df, threshold=0.5, size_hint=20)
    bit = D.minhash_lsh_pairs(df, threshold=0.5, size_hint=20, vocab_hint=5)
    a = {(r.doc_a, r.doc_b, r.jac) for r in arr.collect()}
    b = {(r.doc_a, r.doc_b, r.jac) for r in bit.collect()}
    assert a == b and len(a) > 0


def test_minhash_threshold_zero_taut_filter_skip_identical(spark):
    # The masked branch skips the per-pair jac filter at threshold ≤ 0
    # (r15: provably tautological — both sides pass size(shingles) > 0,
    # so union ≥ 1 and jac ∈ [0, 1]). The pair set must equal the
    # explicitly-filtered array path's at the same threshold.
    rows = [(i, " ".join("abcde"[j] for j in range(1 + i % 5)))
            for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    bit = D.minhash_lsh_pairs(df, threshold=0.0, size_hint=24, vocab_hint=5)
    arr = D.minhash_lsh_pairs(df, threshold=0.0, size_hint=24)
    got_b = {(r.doc_a, r.doc_b, r.jac) for r in bit.collect()}
    got_a = {(r.doc_a, r.doc_b, r.jac) for r in arr.collect()}
    assert got_b == got_a and got_b
    assert all(0.0 <= j <= 1.0 for _, _, j in got_b)


def test_minhash_carry_sigs_matches_per_doc_signatures(spark):
    # carry_sigs must (a) not change the pair set, and (b) emit each
    # endpoint's true minhash signature as 16-byte binaries, on both
    # the masked and the array verify paths.
    df = _planted_corpus(spark)
    sigs = {
        r["doc_id"]: [bytes.fromhex(r[f"sig_{i}"]) for i in range(8)]
        for r in df.select(
            "doc_id", *D.minhash_signature(
                F.array_distinct(D.tokens("text")), 8)).collect()
    }
    for vocab_hint in (None, 64):
        if vocab_hint is not None:
            small = spark.createDataFrame(
                [(i, "a b c d" if i % 2 else "a b c e") for i in range(20)],
                "doc_id int, text string")
            plain = D.minhash_lsh_pairs(
                small, threshold=0.5, size_hint=20, vocab_hint=5)
            carried = D.minhash_lsh_pairs(
                small, threshold=0.5, size_hint=20, vocab_hint=5,
                carry_sigs=True)
            ref = {
                r["doc_id"]: [bytes.fromhex(r[f"sig_{i}"]) for i in range(8)]
                for r in small.select(
                    "doc_id", *D.minhash_signature(
                        F.array_distinct(D.tokens("text")), 8)).collect()
            }
        else:
            plain = D.minhash_lsh_pairs(df, threshold=0.5, size_hint=63)
            carried = D.minhash_lsh_pairs(
                df, threshold=0.5, size_hint=63, carry_sigs=True)
            ref = sigs
        got_plain = {(r.doc_a, r.doc_b, r.jac) for r in plain.collect()}
        rows_c = carried.collect()
        got_carried = {(r.doc_a, r.doc_b, r.jac) for r in rows_c}
        assert got_plain == got_carried and got_plain
        for r in rows_c:
            assert [r[f"a_sig_{i}"] for i in range(8)] == ref[r.doc_a]
            assert [r[f"b_sig_{i}"] for i in range(8)] == ref[r.doc_b]


def test_blocked_kernels_reject_string_ids(spark):
    # pmod on a string id yields NULL blocks and a silently-empty result;
    # the kernels must reject non-integral ids at plan time instead.
    from kafka_elasticsearch_injector_spark.operators.blocked import (
        jaccard_pairs_blocked,
    )

    df = spark.createDataFrame(
        [("a", ["x", "y"]), ("b", ["x", "z"])], "doc_id string, g array<string>")
    with pytest.raises(TypeError, match="integral id column"):
        jaccard_pairs_blocked(df, id_col="doc_id", size_hint=2)


def test_blocked_size_hint_skips_count_job(spark):
    from kafka_elasticsearch_injector_spark.operators.blocked import (
        jaccard_pairs_blocked,
    )

    df = spark.createDataFrame(
        [(1, ["x", "y"]), (2, ["x", "z"])], "doc_id int, g array<string>")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup() or [])
    out = jaccard_pairs_blocked(df, size_hint=2)
    after = set(tracker.getJobIdsForGroup() or [])
    assert after == before
    assert dict(out.dtypes)["doc_a"] == "bigint"   # int ids widen


@pytest.mark.parametrize("op", ["jaccard_pairs_blocked",
                                "containment_pairs_blocked",
                                "nearest_neighbor_blocked"])
def test_blocked_kernels_without_size_raise(spark, op):
    # Block choice never counts rows: with neither n_blocks nor
    # size_hint the call raises at plan time and starts no Spark job.
    from kafka_elasticsearch_injector_spark.operators import blocked

    df = spark.createDataFrame(
        [(1, ["x", "y"]), (2, ["x", "z"])], "doc_id bigint, g array<string>")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup() or [])
    with pytest.raises(ValueError, match="n_blocks or size_hint"):
        getattr(blocked, op)(df, "doc_id", "g")
    assert set(tracker.getJobIdsForGroup() or []) == before


@pytest.mark.parametrize("max_hamming", [0, 1, 3, 5])
def test_simhash_pairs_complete_vs_bruteforce(spark, max_hamming):
    """The multi-index topology must find EXACTLY the brute-force pair
    set — pigeonhole (some segment matches whenever hamming ≤ r) is the
    part that's easy to get subtly wrong at segment boundaries."""
    rows = [(i, " ".join(f"w{(i * 7 + j * 13) % 40}" for j in range(10)))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fps = {r.doc_id: r.simhash for r in D.simhash16(df).collect()}
    brute = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a in fps for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= max_hamming
    }
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in D.simhash_pairs(df, max_hamming=max_hamming).collect()}
    assert got == brute


def test_small_vocab_probe_bounds(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_elasticsearch_injector_spark.io import small_vocab_probe

    small = tmp_path / "small.parquet"
    pq.write_table(pa.table({"text": ["a b c", "b c d", "a d"]}), small)
    assert small_vocab_probe(str(tmp_path), "small") == 4

    big = tmp_path / "big.parquet"
    pq.write_table(
        pa.table({"text": [" ".join(f"w{i}_{j}" for j in range(40))
                           for i in range(10)]}), big)
    assert small_vocab_probe(str(tmp_path), "big") is None  # early exit


def test_bitmask64_overflow_raises(spark):
    # A vocab_hint ≤ 64 selects minhash_lsh_pairs' masked verify; a
    # real vocabulary of 80 distinct shingles must fail loudly in the
    # mask fold instead of wrapping shiftleft past bit 63.
    rows = [(i, " ".join(f"w{j}" for j in range(80))) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    with pytest.raises(Exception, match="vocabulary exceeds 64"):
        D.minhash_lsh_pairs(df, threshold=0.0, vocab_hint=8).collect()


def test_connected_components_converges_on_path_graph(spark):
    # A 12-node path is the anti-clique worst case: min-label needs
    # O(log diameter) doubling-free iterations to reach the far end.
    nodes = spark.range(12).select(F.col("id").cast("int").alias("doc_id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a int, doc_b int")
    labels = {r.node: r.label
              for r in D.connected_components(nodes, edges).collect()}
    assert labels == {i: 0 for i in range(12)}


def test_connected_components_max_iter_bounds_the_loop(spark):
    # With the iteration cap forced to 1 a 7-node chain cannot
    # converge: the loop must TERMINATE and raise, naming the round
    # count, instead of returning split components.
    nodes = spark.range(8).select(F.col("id").cast("int").alias("doc_id"))
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a int, doc_b int")
    with pytest.raises(RuntimeError, match="max_iter=1 rounds"):
        D.connected_components(nodes, edges, max_iter=1)


def _union_find_labels(n: int, edges) -> dict[int, int]:
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


def test_connected_components_matches_union_find_below_max_iter(spark):
    # Paths of diameter 18 and 3, a triangle, and isolated nodes: every
    # component fits inside the default 20 rounds, so the labels must
    # equal a Python union-find's (min node id per component).
    edges = ([(i, i + 1) for i in range(18)]            # 0..18 path
             + [(30, 25), (25, 27), (27, 22)]           # shuffled path
             + [(40, 41), (41, 42), (42, 40)])          # triangle
    n = 45
    nodes = spark.range(n).select(F.col("id").cast("int").alias("doc_id"))
    edf = spark.createDataFrame(edges, "doc_a int, doc_b int")
    got = {r.node: r.label
           for r in D.connected_components(nodes, edf).collect()}
    assert got == _union_find_labels(n, edges)


def test_word_ngrams_guard_on_short_docs(spark):
    # sequence(1, 0) DESCENDS in Spark: without the guard a 1-token doc
    # crashes bigram construction (INVALID_ARRAY_INDEX) or fabricates
    # grams an oracle never produces. Short docs must yield [].
    from kafka_elasticsearch_injector_spark.operators.dedup import (
        tokens,
        word_ngrams,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, "a b c")], "id long, text string")
    out = {r.id: r.g for r in df.select(
        "id", word_ngrams(tokens("text"), 2).alias("g")).collect()}
    assert out[1] == []
    assert out[3] == ["a b", "b c"]


def test_containment_kernel_is_directional(spark):
    # A short doc fully inside a long one: containment(A in B) = 1.0
    # while containment(B in A) reflects only the shared fraction —
    # the asymmetry is the operator's whole point.
    from pyspark.sql import functions as F

    from kafka_elasticsearch_injector_spark.operators.blocked import (
        containment_pairs_blocked,
    )

    df = spark.createDataFrame(
        [(1, ["a b", "b c"]),                     # A: 2 grams, all in B
         (2, ["a b", "b c", "c d", "d e"]),       # B: 4 grams
         (3, ["x y"])],                           # unrelated
        "doc_id long, g array<string>")
    rows = {(r.doc_a, r.doc_b): r.containment
            for r in containment_pairs_blocked(
                df, threshold=0.3, n_blocks=2).collect()}
    assert rows[(1, 2)] == 1.0
    assert rows[(2, 1)] == 0.5
    assert (3, 1) not in rows and (1, 3) not in rows


def test_minhash_probe_side_guard_follows_fill_cluster(spark):
    """r15/r16: the broadcastable candidate join re-repartitions its
    streamed side ONLY when fill_cluster left the input untouched
    (already >= defaultParallelism partitions — whose upstream exchange
    AQE may coalesce to 1-2 tasks); when fill_cluster inserted its own
    exempt repartition — or the input already sits on one — a
    second exchange would just reship the shingle payloads (measured
    1.01 -> 0.73 s on the bigram leg).

    Plan-count convention: sparkPlan() is PRE-ReuseExchange, so one
    shared exchange below the self-join is listed once per side. The
    fill_cluster exchange therefore counts 2; a probe-side guard counts
    1 (streamed side only). The r15 form of this test fed a
    createDataFrame input (already par partitions): fill_cluster
    no-op'd in BOTH arms and the 'fast' assertion exercised only the
    guard branch (ADVICE r15)."""
    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip("fill_cluster cannot fire below 2 cores — the "
                    "narrow/memoed arms would exercise the guard branch")

    def n_roundrobin(frame):
        plan = frame._jdf.queryExecution().sparkPlan().toString()
        return plan.count("RoundRobinPartitioning")

    # Genuinely few-partition input: fill_cluster FIRES. Its exchange
    # (CollapseRepartition merges the input's repartition(1) into it)
    # appears once per join side = 2; a guard would make it 3.
    narrow = _planted_corpus(spark).repartition(1)
    fast = D.minhash_lsh_pairs(narrow, threshold=0.5, size_hint=63)
    assert n_roundrobin(fast) == 2, \
        fast._jdf.queryExecution().sparkPlan().toString()

    # Pre-spread input (>= par partitions, hash — not RR): fill_cluster
    # no-ops, so the ONE round-robin present is the probe-side guard.
    wide = _planted_corpus(spark).repartition(par, "doc_id")
    guarded = D.minhash_lsh_pairs(wide, threshold=0.5, size_hint=63)
    assert n_roundrobin(guarded) == 1, \
        guarded._jdf.queryExecution().sparkPlan().toString()

    # A prior fill_cluster OUTPUT routed back in is returned as-is: it
    # already sits on its explicit repartition, so NO guard — the
    # branch reads the plan root (scale.on_round_robin), not object
    # identity (ADVICE r15; identity said `filled is df` here and
    # mis-guarded).
    from kafka_elasticsearch_injector_spark.operators.scale import fill_cluster
    pre = fill_cluster(_planted_corpus(spark).repartition(1))
    memoed = D.minhash_lsh_pairs(pre, threshold=0.5, size_hint=63)
    assert n_roundrobin(memoed) == 2, \
        memoed._jdf.queryExecution().sparkPlan().toString()

    # all three branches produce the identical pair set
    a = {(r.doc_a, r.doc_b) for r in fast.collect()}
    b = {(r.doc_a, r.doc_b) for r in guarded.collect()}
    c = {(r.doc_a, r.doc_b) for r in memoed.collect()}
    assert a == b == c
