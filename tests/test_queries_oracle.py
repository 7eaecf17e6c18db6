"""t2 rehearsal: every declared query with an oracle must hash-match DuckDB
on the local test scale factor. This is the same gate the driver runs at
sf0.01 (CORRECTNESS_r{N}.json)."""

from __future__ import annotations

import re

import pytest

from kafka_elasticsearch_injector_spark.plans import QUERIES, queries

from .oracle import compare, duck_connection

ALL = list(queries().keys())


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(name, spark, sf_dir, duck):
    qd = QUERIES[name]
    df = qd.spark(spark, sf_dir)
    if qd.oracle is None:
        assert df.count() >= 0  # rows-only check, mirroring the driver
        return
    problems = compare(df, duck, qd.oracle, name)
    assert not problems, "\n".join(problems)


def test_ts_similarity_absent_probe_user_yields_no_rows(spark, sf_dir, tmp_path):
    # Oracle parity at the edge: when user_id 0 has no events, the
    # oracle's probe CTE is empty and it returns ZERO rows — the Spark
    # plan must not synthesize a 30-day zero-vector probe instead.
    import duckdb

    from kafka_elasticsearch_injector_spark.io import table

    no_u0 = str(tmp_path)
    (table(spark, sf_dir, "events").filter("user_id <> 0")
     .coalesce(1).write.parquet(str(tmp_path / "events.parquet")))

    assert QUERIES["q_ts_similarity"].spark(spark, no_u0).count() == 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{no_u0}/events.parquet/*.parquet')")
    assert len(con.execute(QUERIES["q_ts_similarity"].oracle).fetchall()) == 0
    con.close()


def test_ts_similarity_out_of_window_probe_user_matches_oracle(
        spark, sf_dir, tmp_path):
    # Oracle parity at the other edge: user 0 EXISTS but every one of
    # its events falls outside days 0..29 (shifted +60 days). The
    # oracle's users CTE has no day-range filter, so it still builds a
    # 30-row zero-filled probe and returns the top-5; an existence
    # guard that only sees in-window user-0 days would wrongly return
    # zero rows here.
    import duckdb

    from kafka_elasticsearch_injector_spark.io import table
    from pyspark.sql import functions as F

    ev = table(spark, sf_dir, "events")
    shifted = ev.withColumn(
        "ts", F.when(F.col("user_id") == 0,
                     F.col("ts") + F.expr("INTERVAL 60 DAYS"))
        .otherwise(F.col("ts")))
    root = str(tmp_path)
    shifted.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))

    sdf = QUERIES["q_ts_similarity"].spark(spark, root)
    s_rows = sorted(tuple(r) for r in sdf.collect())

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{root}/events.parquet/*.parquet')")
    d_rows = sorted(tuple(r) for r in
                    con.execute(QUERIES["q_ts_similarity"].oracle).fetchall())
    con.close()
    assert len(s_rows) == 5
    assert s_rows == d_rows



#: Declared queries that run a fill_cluster-bearing operator on the
#: documents or embeddings scan.
FILL_CLUSTER_QUERIES = ["q_dedup_minhash", "q_ann_ivf", "q_embed_outliers",
                        "q_dedup_simhash_pairs"]


@pytest.fixture(scope="module")
def multi_file_dir(spark, sf_dir, tmp_path_factory):
    """documents and embeddings re-laid as defaultParallelism files each,
    so their scans split at least as wide as the cluster and fill_cluster
    takes its at-scale side (no exchange)."""
    import os

    import pyarrow.parquet as pq

    par = spark.sparkContext.defaultParallelism
    root = tmp_path_factory.mktemp("multi_file")
    for name in ("documents", "embeddings"):
        t = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        assert t.num_rows >= par, (name, t.num_rows)
        out = root / f"{name}.parquet"
        out.mkdir()
        step = -(-t.num_rows // par)
        for i in range(par):
            pq.write_table(t.slice(i * step, step), out / f"part-{i}.parquet")
    return str(root)


def test_multi_file_scan_keeps_fill_cluster_a_no_op(spark, multi_file_dir):
    from kafka_elasticsearch_injector_spark.io import table
    from kafka_elasticsearch_injector_spark.operators.scale import fill_cluster

    par = spark.sparkContext.defaultParallelism
    for name in ("documents", "embeddings"):
        df = table(spark, multi_file_dir, name)
        assert df.rdd.getNumPartitions() >= par
        assert fill_cluster(df) is df
    # so minhash's broadcast candidate join keeps its probe-side guard:
    # that one round-robin exchange is the only one in the plan
    plan = QUERIES["q_dedup_minhash"].spark(spark, multi_file_dir) \
        ._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("RoundRobinPartitioning") == 1, plan


@pytest.mark.parametrize("name", FILL_CLUSTER_QUERIES)
def test_fill_cluster_queries_match_oracle_on_multi_file_layout(
        name, spark, multi_file_dir, duck):
    # the oracle reads the original single-file tables
    qd = QUERIES[name]
    problems = compare(qd.spark(spark, multi_file_dir), duck, qd.oracle, name)
    assert not problems, "\n".join(problems)


@pytest.fixture(scope="module")
def sf001_dir(sf_dir):
    """The sf0.01 sibling of the configured testdata root."""
    import os

    path = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    if not os.path.isdir(path):
        pytest.skip(f"sf0.01 testdata not found at {path}")
    return path


@pytest.mark.parametrize("arm", ["broadcast", "shuffle"])
@pytest.mark.parametrize("name", ["q_dedup_minhash", "q_dedup_simhash_pairs"])
def test_banded_join_arms_match_oracle(name, arm, spark, sf001_dir,
                                       monkeypatch):
    """Both arms of scale.banded_pairs' broadcast rule are oracle-equal:
    the declared query's footer row count gives the broadcast arm, and
    no row count (size_hint=None) the shuffle arm. Spark's own
    size-based broadcast is off in the shuffle arm, so that arm runs
    the corpus-scale shuffle join, not a broadcast Spark picked."""
    from kafka_elasticsearch_injector_spark import io

    threshold = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(threshold)
    if arm == "shuffle":
        monkeypatch.setattr(io, "parquet_row_count", lambda *a: None)
        spark.conf.set(threshold, "-1")
    con = duck_connection(sf001_dir)
    try:
        df = QUERIES[name].spark(spark, sf001_dir)
        plan = df._jdf.queryExecution().sparkPlan().toString()
        join = "BroadcastHashJoin" if arm == "broadcast" else "SortMergeJoin"
        # the candidate join itself, keyed on (bidx, bh)
        assert re.search(join + r" \[bidx#\d+, bh#\d+L?\]", plan), plan
        problems = compare(df, con, QUERIES[name].oracle, name)
    finally:
        spark.conf.set(threshold, prev)
        con.close()
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", ["q_dedup_ngram", "q_containment_pairs"])
def test_sparse_tile_regime_matches_oracle(name, spark, sf001_dir,
                                           monkeypatch):
    """The sparse side of the set kernels' per-tile regime switch
    (blocked.SPARSE_TILE_VOCAB) is oracle-equal. Every sf0.01 tile
    vocabulary is under the cutoff, so the declared query runs with the
    kernels' cutoff at 0, which sends every non-empty tile through the
    sparse accumulation."""
    from kafka_elasticsearch_injector_spark.operators import blocked

    forced = []
    for op in ("jaccard_pairs_blocked", "containment_pairs_blocked"):
        def sparse(*args, _op=getattr(blocked, op), **kwargs):
            forced.append(_op)
            return _op(*args, sparse_cutoff=0, **kwargs)
        monkeypatch.setattr(blocked, op, sparse)
    con = duck_connection(sf001_dir)
    try:
        problems = compare(QUERIES[name].spark(spark, sf001_dir), con,
                           QUERIES[name].oracle, name)
    finally:
        con.close()
    assert forced, "the declared query did not reach a patched kernel"
    assert not problems, "\n".join(problems)


@pytest.fixture(scope="module")
def edge_events(spark, sf_dir, tmp_path_factory):
    """A copy of `events` whose `props` also holds what the payload ops
    exist for (the shipped tables are all valid JSON objects): NULL,
    malformed JSON, a JSON array and a JSON scalar."""
    import duckdb
    from pyspark.sql import functions as F

    from kafka_elasticsearch_injector_spark.io import table

    root = tmp_path_factory.mktemp("edge_events")
    slot = F.col("event_id") % 6
    props = (F.when(slot == 1, F.lit(None).cast("string"))
             .when(slot == 2, F.lit('{"k": 1'))
             .when(slot == 3, F.lit("[1, 2]"))
             .when(slot == 4, F.lit("7"))
             .otherwise(F.col("props")))
    (table(spark, sf_dir, "events").withColumn("props", props)
     .coalesce(1).write.parquet(str(root / "events.parquet")))
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{root}/events.parquet/*.parquet')")
    yield str(root), con
    con.close()


@pytest.mark.parametrize(
    "name", ["q_null_filter", "q_corrupt_drop", "q_json_decode"])
def test_payload_edge_rows_match_oracle(name, spark, edge_events):
    # Ops 6-8 are only exercised by NULL / malformed / non-object
    # payloads; on the shipped tables these checks see none.
    root, con = edge_events
    problems = compare(QUERIES[name].spark(spark, root), con,
                       QUERIES[name].oracle, name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", ["q_tpch_q2", "q_tpch_q21"])
def test_limited_topk_is_partition_invariant(name, spark, sf_dir):
    # The two new LIMIT-carrying TPC-H completions claim total-order
    # tie-break chains; prove the limited SET does not depend on the
    # physical partitioning (a dropped tie-break key would pass the
    # oracle compare by luck on one layout and fail on another).
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        a = sorted(tuple(r) for r in
                   QUERIES[name].spark(spark, sf_dir).collect())
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        b = sorted(tuple(r) for r in
                   QUERIES[name].spark(spark, sf_dir).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


def test_compare_detects_each_mismatch_class(spark, duck):
    """Meta-test of the replica itself: compare() must FLAG each
    mismatch class it exists to catch — a silently-lenient comparator
    would green-light the whole inventory. Classes mirror the driver's
    recorded escapes: value, row-count, column-name, and IEEE signed
    zero (the round-3 q_stats_agg escape)."""
    df = spark.createDataFrame([(1, "a")], "id LONG, s STRING")
    assert compare(df, duck, "SELECT CAST(1 AS BIGINT) AS id, 'a' AS s") == []
    assert compare(df, duck, "SELECT CAST(2 AS BIGINT) AS id, 'a' AS s")
    assert compare(df, duck,
                   "SELECT CAST(1 AS BIGINT) AS id, 'a' AS s UNION ALL "
                   "SELECT CAST(1 AS BIGINT), 'b'")
    assert compare(df, duck, "SELECT CAST(1 AS BIGINT) AS id, 'a' AS other")
    zdf = spark.createDataFrame([(0.0,)], "x DOUBLE")
    assert compare(zdf, duck, "SELECT 0.0::DOUBLE AS x") == []
    assert compare(zdf, duck, "SELECT -0.0::DOUBLE AS x"), \
        "signed zero must mismatch (+0.0 vs -0.0)"
