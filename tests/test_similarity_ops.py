"""Similarity-search operator unit tests (operators/similarity.py).

The oracle queries pin ivf/lsh at fixed parameters; these tests cover
the parts the oracles can't: the nprobe recall dial and exactness at
full cell coverage.
"""

from __future__ import annotations

import math

import pytest

from kafka_elasticsearch_injector_spark.operators import similarity as S

DIM = 4
N_CELLS = 4


def _corpus(spark):
    rows = []
    for i in range(60):
        vec = [math.sin(i * 1.7 + d) for d in range(DIM)]
        rows.append((i, vec, i % N_CELLS))
    return rows, spark.createDataFrame(
        rows, f"vec_id int, embedding array<float>, label int")


def _brute_topk(rows, probe_ids, k):
    import numpy as np

    vecs = {i: np.array(v, dtype=np.float32).astype(np.float64)
            for i, v, _ in rows}

    def cos(a, b):
        return float(vecs[a] @ vecs[b]
                     / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b])))

    out = {}
    for p in probe_ids:
        scored = sorted(
            ((cos(p, o), o) for o in vecs if o != p),
            key=lambda t: (-t[0], t[1]))
        out[p] = [o for _, o in scored[:k]]
    return out


def test_ivf_nprobe_full_coverage_is_exact(spark):
    rows, df = _corpus(spark)
    got = S.ivf_topk(df, probe_ids=[0, 1, 2], k=3, nprobe=N_CELLS, dim=DIM)
    by_probe: dict[int, list[int]] = {}
    for r in sorted(got.collect(), key=lambda r: (r.probe_id, r.rn)):
        by_probe.setdefault(r.probe_id, []).append(r.vec_id)
    assert by_probe == _brute_topk(rows, [0, 1, 2], 3)



def test_ivf_plan_keeps_three_round_robin_exchanges(spark):
    """ivf_topk rebalances a narrow corpus once; label_centroids' own
    fill_cluster call on that output is a no-op. sparkPlan() is
    pre-ReuseExchange, so the one exchange is listed once per consumer:
    the centroid aggregate, the probe filter and the cell scan."""
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("fill_cluster cannot fire below 2 cores")
    _, df = _corpus(spark)
    out = S.ivf_topk(df.coalesce(1), probe_ids=[0, 1, 2], k=3, dim=DIM)
    plan = out._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 3, plan


def test_ivf_nprobe_recall_monotone(spark):
    _, df = _corpus(spark)

    def best(nprobe):
        return {
            r.probe_id: r.cos_sim
            for r in S.ivf_topk(df, probe_ids=[0, 1, 2], k=1,
                                nprobe=nprobe, dim=DIM).collect()
            if r.rn == 1
        }

    b1, b2, b4 = best(1), best(2), best(N_CELLS)
    for p in b1:
        assert b1[p] <= b2[p] <= b4[p]  # wider scan never worsens recall


def test_lsh_multi_table_recall_monotone_and_distinct(spark):
    _, df = _corpus(spark)

    def run(n_tables):
        rows = S.lsh_topk(df, probe_ids=[0, 1, 2], k=1, n_planes=4,
                          dim=DIM, n_tables=n_tables).collect()
        best = {r.probe_id: r.cos_sim for r in rows if r.rn == 1}
        return best, rows

    b1, _ = run(1)
    b3, rows3 = run(3)
    for p in b1:
        assert b1[p] <= b3[p]  # extra tables never worsen recall
    # first-matching-table emission: no duplicate candidates per probe
    keys = [(r.probe_id, r.vec_id) for r in rows3]
    assert len(keys) == len(set(keys))


def test_lsh_single_table_matches_legacy_buckets(spark):
    # n_tables=1 must keep the original md5("{p}:{d}") hyperplanes — the
    # declared oracle embeds them as literals.
    _, df = _corpus(spark)
    legacy = S.lsh_sign_buckets(df, n_planes=4, dim=DIM)
    multi = S.lsh_sign_buckets(df, n_planes=4, dim=DIM, table=0)
    a = {(r.vec_id, r.bucket) for r in legacy.collect()}
    b = {(r.vec_id, r.bucket) for r in multi.collect()}
    assert a == b


def test_quantize_int8_roundtrip_preserves_cosine(spark):
    import numpy as np

    rows, emb = _corpus(spark)
    out = {r.vec_id: r for r in S.quantize_int8(emb).collect()}
    for i, vec, _ in rows[:10]:
        r = out[i]
        assert r.scale > 0
        assert all(-127 <= q <= 127 for q in r.qvec)
        deq = np.array(r.qvec, dtype=np.float64) / r.scale
        orig = np.array(vec, dtype=np.float32).astype(np.float64)
        cos = float(deq @ orig / (np.linalg.norm(deq) * np.linalg.norm(orig)))
        assert cos > 0.999, (i, cos)  # int8 keeps cosine to ~3 decimals


def test_quantize_int8_zero_vector(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, -2.0])],
        "vec_id int, embedding array<float>")
    out = {r.vec_id: r for r in S.quantize_int8(df).collect()}
    assert out[0].scale == 0.0 and list(out[0].qvec) == [0, 0]
    assert list(out[1].qvec) == [64, -127]  # 127/2 scale: 63.5+0.5 -> 64


def test_quantize_int8_plan_is_projection(spark):
    df = spark.createDataFrame([(0, [0.5, 0.5])],
                               "vec_id int, embedding array<float>")
    plan = S.quantize_int8(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quantize_int8_null_and_nan_elements(spark):
    """r12 review: Spark's null-skipping greatest/least turned a null
    element into +127 (max positive magnitude) and a NaN element
    poisoned the whole vector's scale. Nulls/NaNs now pass through as
    null qvec entries and are excluded from max|x|."""
    df = spark.createDataFrame(
        [(0, [1.0, None, -2.0]), (1, [float("nan"), 4.0])],
        "vec_id int, embedding array<double>")
    out = {r.vec_id: r for r in S.quantize_int8(df).collect()}
    assert list(out[0].qvec) == [64, None, -127]   # scale 127/2
    assert out[0].scale == 127.0 / 2.0
    assert list(out[1].qvec) == [None, 127]        # NaN out of the max
    assert out[1].scale == 127.0 / 4.0
