"""Adversarial certification of ROUNDING.md's decision rule: every
expression SHAPE the unrounded-emission queries rely on is evaluated in
Spark AND DuckDB on crafted edge values — near-boundary quotients,
subnormals, float32 extremes, 2^53-scale integers — and compared at
full bit precision (repr). The declared-query replica proves
bit-identity on the driver's data; this module proves it on data the
driver hasn't generated yet, so a testdata regeneration between rounds
cannot surprise the converted queries.

Shapes certified (see ROUNDING.md "decision rule"):
- integer-count ratio:            CAST(a AS DOUBLE) / b
- complement ratio:               1.0 - a/b
- exact-decimal-sum ratio:        CAST(SUM(DECIMAL(18,2)) AS DOUBLE)/n
- least/scale/add chain:          quality_score's exact op sequence
- sequential vector folds:        dot, sqrt-norm, cosine (float32 lanes)
"""

from __future__ import annotations

import math
import random

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from kafka_elasticsearch_injector_spark.functions import vectors as V


def _reprs(vals):
    return [repr(float(v)) if v is not None else None for v in vals]


def _spark_col(spark, rows, schema, col):
    df = spark.createDataFrame(rows, schema)
    return [r[0] for r in
            df.select(col.alias("v")).orderBy(F.col("_i")).collect()]


ADVERSARIAL_INTS = [
    1, 2, 3, 7, 47, 127, 128, 10**6, 2 * 10**6, 10**9,
    2**31 - 1, 2**52 - 1, 2**53 - 1, 10**15,
]


def _int_pairs(n=400, seed=7):
    rng = random.Random(seed)
    pairs = []
    for a in ADVERSARIAL_INTS:
        for b in ADVERSARIAL_INTS:
            pairs.append((a, b))
    while len(pairs) < n + len(ADVERSARIAL_INTS) ** 2:
        pairs.append((rng.randrange(0, 2**53), rng.randrange(1, 2**53)))
    return [(i, a, b) for i, (a, b) in enumerate(pairs)]


def test_integer_ratio_bitwise(spark):
    rows = _int_pairs()
    got = _spark_col(
        spark, rows, "_i long, a long, b long",
        F.col("a").cast("double") / F.col("b"))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (_i BIGINT, a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = [r[0] for r in con.execute(
        "SELECT CAST(a AS DOUBLE) / b FROM t ORDER BY _i").fetchall()]
    assert _reprs(got) == _reprs(want)


def test_complement_ratio_bitwise(spark):
    rows = [(i, a, b) for i, a, b in _int_pairs(seed=11) if a <= b]
    got = _spark_col(
        spark, rows, "_i long, a long, b long",
        F.lit(1.0) - F.col("a").cast("double") / F.col("b"))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (_i BIGINT, a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = [r[0] for r in con.execute(
        "SELECT 1.0 - CAST(a AS DOUBLE) / b FROM t ORDER BY _i").fetchall()]
    assert _reprs(got) == _reprs(want)


def test_decimal_sum_ratio_bitwise(spark):
    # 2-decimal money values, groups large enough that sums carry well
    # past the per-value precision; ratio = decimal-sum-double / count.
    rng = random.Random(13)
    rows = [(i, i % 17, round(rng.uniform(-9e9, 9e9), 2))
            for i in range(3000)]
    sdf = spark.createDataFrame(rows, "_i long, g int, x double")
    got = {r["g"]: (r["s"], r["avg"]) for r in (
        sdf.groupBy("g")
        .agg(F.sum(F.col("x").cast("decimal(18,2)")).cast("double").alias("s"),
             (F.sum(F.col("x").cast("decimal(18,2)")).cast("double")
              / F.count(F.lit(1))).alias("avg"))
    ).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (_i BIGINT, g INT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = {g: (s, a) for g, s, a in con.execute(
        "SELECT g, CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE),"
        " CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)"
        " FROM t GROUP BY g").fetchall()}
    assert set(got) == set(want)
    for g in got:
        assert _reprs(got[g]) == _reprs(want[g]), g


def test_quality_score_chain_bitwise(spark):
    # least(1, w/50)*0.5 + least(1, (sh/w)*5)*0.5 — the exact op
    # sequence of quality_score_col, on adversarial (w, sh) pairs.
    rng = random.Random(17)
    rows = [(i, w, rng.randrange(0, w + 1))
            for i, w in enumerate(
                list(range(1, 130)) + [rng.randrange(1, 10**6)
                                       for _ in range(300)])]
    got = _spark_col(
        spark, rows, "_i long, w long, sh long",
        F.least(F.lit(1.0), F.col("w").cast("double") / 50) * 0.5
        + F.least(F.lit(1.0),
                  F.col("sh").cast("double") / F.col("w") * 5) * 0.5)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (_i BIGINT, w BIGINT, sh BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = [r[0] for r in con.execute(
        "SELECT LEAST(1.0, CAST(w AS DOUBLE) / 50) * 0.5"
        " + LEAST(1.0, CAST(sh AS DOUBLE) / w * 5) * 0.5"
        " FROM t ORDER BY _i").fetchall()]
    assert _reprs(got) == _reprs(want)


def _adversarial_vectors(n=60, dim=16, seed=23):
    """float32 lanes including subnormals, extremes, cancellation bait."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs[0] = np.float32(1e-40)                      # float32 subnormal
    vecs[1] = np.float32(3e38)                       # near float32 max
    vecs[2] = np.float32(1e-38)
    vecs[3, ::2], vecs[3, 1::2] = 1.0, -1.0          # cancellation
    vecs[4] = np.float32(0.1)                        # repr-vs-exact bait
    return [(i, [float(x) for x in row]) for i, row in enumerate(vecs)]


def test_vector_fold_dot_norm_cosine_bitwise(spark):
    rows = _adversarial_vectors()
    pair_rows = [(i, a, b) for (i, a), (_, b)
                 in zip(rows, rows[1:] + rows[:1])]
    sdf = spark.createDataFrame(
        pair_rows, "_i long, a array<float>, b array<float>")
    da, db = V.to_double(F.col("a")), V.to_double(F.col("b"))
    got = (sdf.select("_i", V.dot(da, db).alias("dot"),
                      V.l2_norm(da).alias("nrm"),
                      V.cosine(da, db).alias("cos"))
           .orderBy("_i").collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE t (_i BIGINT, a FLOAT[], b FLOAT[])")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", pair_rows)
    fold = ("list_reduce(list_prepend(0.0, list_transform(range(1, {n}), "
            "i -> CAST({u}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE))), "
            "(acc, x) -> acc + x)")
    dim = len(pair_rows[0][1]) + 1
    dot = fold.format(n=dim, u="a", v="b")
    nrm = "sqrt(" + fold.format(n=dim, u="a", v="a") + ")"
    nrb = "sqrt(" + fold.format(n=dim, u="b", v="b") + ")"
    want = con.execute(
        f"SELECT _i, {dot}, {nrm}, {dot} / ({nrm} * {nrb})"
        " FROM t ORDER BY _i").fetchall()
    for g, w in zip(got, want):
        assert g["_i"] == w[0]
        assert _reprs([g["dot"], g["nrm"], g["cos"]]) == _reprs(list(w[1:])), g["_i"]


def test_divergent_class_is_real(spark):
    """Negative control: the class ROUNDING.md REFUSES to convert
    (double→DECIMAL casts of arbitrary doubles) genuinely diverges —
    Spark rounds the SHORTEST repr, DuckDB the exact binary expansion.
    A value whose shortest repr sits on a scale-10 boundary while its
    exact expansion falls below it must split the engines; if this test
    ever fails, the engines changed behavior and the class can be
    re-audited."""
    # DuckDB converts double→decimal via round(fl(x·10^s)) — one
    # double MULTIPLY whose rounding error decides ties — while the
    # JVM rounds the shortest repr in exact decimal. Candidates that
    # sit within an ulp of (k+0.5)/10^s make the two disagree.
    import decimal
    rng = random.Random(29)
    split = None
    con = duckdb.connect()
    for _ in range(300):
        k = rng.randrange(10**8, 10**9)
        x0 = (k + 0.5) / 1e9
        v = x0
        cands = [x0]
        for _ in range(8):
            v = math.nextafter(v, 0.0)
            cands.append(v)
        v = x0
        for _ in range(8):
            v = math.nextafter(v, math.inf)
            cands.append(v)
        for c in cands:
            duck = con.execute(
                f"SELECT CAST(CAST({c!r} AS DOUBLE) AS DECIMAL(12,9))"
            ).fetchone()[0]
            jvm_style = decimal.Decimal(repr(c)).quantize(
                decimal.Decimal("1e-9"), rounding=decimal.ROUND_HALF_UP)
            if decimal.Decimal(duck) != jvm_style:
                split = (c, str(duck), str(jvm_style))
                break
        if split:
            break
    if split is None:
        pytest.skip("no boundary value found in the scan window — "
                    "class divergence not demonstrable on this build")
    c, duck, jvm = split
    # confirm Spark actually behaves like the JVM-style shortest-repr
    # rounding on the found value
    got = spark.createDataFrame([(c,)], "x double").select(
        F.col("x").cast("decimal(12,9)").alias("d")).first()["d"]
    assert str(got) == jvm, (got, jvm, duck)
