"""io.table must normalize every testdata timestamp generation to the
session TIMESTAMP type under UTC.

The driver regenerated the testdata between rounds with a different
physical type (r1: INT64 TIMESTAMP(NANOS) -> read as bigint under
nanosAsLong; r2: TIMESTAMP(MICROS, isAdjustedToUTC=false) -> read as
timestamp_ntz), and every events-reading query silently depends on the
normalization. These tests pin both paths (and the pass-through for a
plain UTC-adjusted column) against synthetic parquet files so a third
flavor shows up as a named failure, not 18 red driver rows.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from kafka_elasticsearch_injector_spark.io import table

# One known instant, expressed for each writer flavor.
_INSTANT = datetime.datetime(2024, 3, 1, 12, 34, 56, 789000)


def _write_events(tmp_path, arrow_type):
    arr = pa.array([_INSTANT], type=arrow_type)
    t = pa.table({"event_id": pa.array([1], pa.int64()), "ts": arr})
    pq.write_table(t, tmp_path / "events.parquet")
    return str(tmp_path)


def _read_ts(spark, sf_dir):
    df = table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp", df.dtypes
    return df.select("ts").first()[0]


def test_nanos_generation_normalizes(spark, tmp_path):
    # r1 flavor: TIMESTAMP(NANOS) — Spark reads bigint under
    # nanosAsLong; io.table must convert ns → µs timestamps.
    sf = _write_events(tmp_path, pa.timestamp("ns"))
    assert _read_ts(spark, sf) == _INSTANT


def test_micros_ntz_generation_normalizes(spark, tmp_path):
    # r2 flavor: TIMESTAMP(MICROS, isAdjustedToUTC=false) — reads as
    # timestamp_ntz; io.table reinterprets the wall time in the UTC
    # session zone.
    sf = _write_events(tmp_path, pa.timestamp("us"))
    assert _read_ts(spark, sf) == _INSTANT


def test_micros_utc_generation_passes_through(spark, tmp_path):
    # UTC-adjusted TIMESTAMP(MICROS) reads as session timestamp
    # directly; the normalization must not double-convert it.
    sf = _write_events(tmp_path, pa.timestamp("us", tz="UTC"))
    assert _read_ts(spark, sf) == _INSTANT


#: The confs every table() read needs.
_READER_CONFS = {"spark.sql.legacy.parquet.nanosAsLong": "true",
                 "spark.sql.session.timeZone": "UTC"}


def test_get_spark_sets_the_reader_confs(spark):
    conf = spark.sparkContext.getConf()
    for k, v in _READER_CONFS.items():
        assert conf.get(k) == v, k
        assert spark.conf.get(k) == v, k


def test_table_sets_the_reader_confs_on_a_plain_session(spark, tmp_path):
    # a session without the builder's confs (as a plain
    # SparkSession.builder one has) still reads the nanos flavor
    plain = spark.newSession()
    for k in _READER_CONFS:
        plain.conf.unset(k)
    sf = _write_events(tmp_path, pa.timestamp("ns"))
    assert _read_ts(plain, sf) == _INSTANT
    for k, v in _READER_CONFS.items():
        assert plain.conf.get(k) == v, k
