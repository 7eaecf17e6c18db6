"""Scale-technique operators: the salted distinct count must be
result-identical to its plain counterpart (salting is a physical
rewrite, not a semantic one), fill_cluster must rebalance only narrow
inputs, and no_pushdown must keep its filter above the exchange."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_elasticsearch_injector_spark.io import table
from kafka_elasticsearch_injector_spark.operators import scale as S

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, *order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def test_salted_distinct_count_exact(spark):
    li = table(spark, SF_DIR, "lineitem")
    plain = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_distinct"))
    salted = S.salted_distinct_count(li, "l_returnflag", "l_partkey",
                                     n_salts=8)
    assert _rows(plain, "l_returnflag") == _rows(salted, "l_returnflag")


def test_fill_cluster_rebalances_narrow_input(spark):
    par = spark.sparkContext.defaultParallelism
    narrow = spark.range(1000).coalesce(1)
    assert S.fill_cluster(narrow).rdd.getNumPartitions() == par


def test_fill_cluster_is_noop_at_or_above_parallelism(spark):
    par = spark.sparkContext.defaultParallelism
    wide = spark.range(1000).repartition(par)
    out = S.fill_cluster(wide)
    assert out is wide  # literally unchanged, no extra exchange


def test_no_pushdown_keeps_filter_above_exchange(spark):
    # An expensive derived signal filtered below would be conjunct-
    # split and pushed into the scan; no_pushdown must pin it above
    # the fill_cluster exchange.
    df = spark.range(1000).coalesce(1).select(
        "id", (F.col("id") * 2).alias("plain"))
    sig = S.fill_cluster(df).select(
        "id", S.no_pushdown(F.col("id") * 2).alias("guarded"))
    plan = sig.filter(F.col("guarded") > 10)._jdf.queryExecution() \
        .executedPlan().toString()
    scan_part, seen_exchange = [], False
    for line in plan.splitlines():
        if "Exchange" in line:
            seen_exchange = True
        if "Scan" in line and seen_exchange:
            scan_part.append(line)
    # The filter's multiplication must NOT appear as a scan DataFilter.
    assert not any("* 2" in line for line in scan_part)
    assert "Filter" in plan

    # And the guarded value is still the plain value.
    rows = sig.filter(F.col("guarded") > 10).select("id", "guarded").collect()
    assert all(r.guarded == r.id * 2 for r in rows)


def test_fill_cluster_is_idempotent(spark):
    # Operators nest (ivf_topk -> label_centroids both rebalance): a
    # DataFrame that already went through fill_cluster reports
    # defaultParallelism partitions, so a second call returns it as-is.
    narrow = spark.range(1000).coalesce(1)
    once = S.fill_cluster(narrow)
    assert S.fill_cluster(once) is once
    wide = spark.range(1000).repartition(
        spark.sparkContext.defaultParallelism)
    assert S.fill_cluster(S.fill_cluster(wide)) is wide


def test_on_round_robin_reads_the_plan_root(spark):
    par = spark.sparkContext.defaultParallelism
    df = spark.range(1000)
    assert S.on_round_robin(df.repartition(par))
    assert S.on_round_robin(S.fill_cluster(df.coalesce(1))) == (par > 1)
    # no promise of a user-sized exchange: a hash repartition (which AQE
    # may coalesce), a coalesce, a bare scan, anything on top of a
    # round-robin root
    assert not S.on_round_robin(df.repartition(par, "id"))
    assert not S.on_round_robin(df.coalesce(1))
    assert not S.on_round_robin(df)
    assert not S.on_round_robin(df.repartition(par).select("id"))
