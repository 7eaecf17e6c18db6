"""MERGE/SCD2 maintenance operators: hand-computed expectations on tiny
frames (the oracle covers q_merge_upsert at scale)."""

from __future__ import annotations

import datetime as dt

from kafka_elasticsearch_injector_spark.operators.etl import (
    merge_upsert,
    scd2_apply,
)

T0 = dt.datetime(2024, 1, 1)
T1 = dt.datetime(2024, 6, 1)


def test_merge_upsert_updates_and_inserts(spark):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k INT, v STRING")
    updates = spark.createDataFrame(
        [(2, "B"), (3, "c")], "k INT, v STRING")
    got = {(r.k, r.v) for r in merge_upsert(target, updates, ["k"]).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_scd2_closes_and_appends(spark):
    dim = spark.createDataFrame(
        [(1, "old", T0, None, True),
         (2, "keep", T0, None, True),
         (1, "ancient", dt.datetime(2023, 1, 1), T0, False)],
        "k INT, v STRING, valid_from TIMESTAMP, valid_to TIMESTAMP, "
        "is_current BOOLEAN")
    changes = spark.createDataFrame(
        [(1, "new", T1)], "k INT, v STRING, ts TIMESTAMP")
    out = scd2_apply(dim, changes, ["k"], "ts")
    rows = {(r.k, r.v, r.valid_from, r.valid_to, r.is_current)
            for r in out.collect()}
    assert (1, "old", T0, T1, False) in rows        # closed by the change
    assert (1, "new", T1, None, True) in rows       # new current row
    assert (2, "keep", T0, None, True) in rows      # untouched key
    assert (1, "ancient", dt.datetime(2023, 1, 1), T0, False) in rows
    assert len(rows) == 4


def test_profile_metrics_hand_computed(spark):
    from kafka_elasticsearch_injector_spark.operators.etl import profile

    df = spark.createDataFrame(
        [(1, None, 2.5), (2, "a", 1.5), (3, "a", None), (3, "b", 0.5)],
        "k int, s string, v double")
    out = {r.column: r for r in profile(df, ["k", "s", "v"]).collect()}
    assert (out["k"].n_rows, out["k"].n_nulls, out["k"].n_distinct) == (4, 0, 3)
    assert (out["k"].min_value, out["k"].max_value) == ("1", "3")
    assert (out["s"].n_nulls, out["s"].n_distinct) == (1, 2)
    assert (out["s"].min_value, out["s"].max_value) == ("a", "b")
    # numeric (not lexicographic) ordering: min is 0.5, not "0.5" < "1.5" luck
    assert (out["v"].n_nulls, out["v"].min_value, out["v"].max_value) == \
        (1, "0.5", "2.5")


def test_profile_is_single_aggregation_pass(spark):
    from kafka_elasticsearch_injector_spark.operators.etl import profile

    df = spark.createDataFrame([(1, "a")], "k int, s string")
    plan = profile(df, ["k", "s"])._jdf.queryExecution().executedPlan() \
        .toString()
    # One expand-based multi-distinct aggregate, not one scan per column.
    assert plan.count("Expand") >= 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_profile_handles_duplicate_and_dotted_columns(spark):
    from kafka_elasticsearch_injector_spark.operators.etl import profile

    df = spark.createDataFrame([(1, "x"), (2, None)], "k int, s string") \
        .withColumnRenamed("s", "s.dotted")
    out = profile(df, ["k", "k", "`s.dotted`"]).collect()
    by_col = {r.column: r for r in out}
    assert len(out) == 2  # duplicates collapsed, aliases can't collide
    assert by_col["k"].n_distinct == 2
    assert by_col["`s.dotted`"].n_nulls == 1
