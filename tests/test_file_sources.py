"""File-format source contract: CSV / JSON-lines readers share the
malformed-record side-drop semantic (reference consumer.go:154-159 —
decode error skips the record, never fails the batch), and the ingest
converters land clean parquet."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kafka_elasticsearch_injector_spark.sources import files as FS

SCHEMA = "id INT, name STRING, score DOUBLE"


def _write(path: str, lines: list[str]) -> str:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


def test_csv_permissive_side_drop(spark, tmp_path):
    p = _write(os.path.join(tmp_path, "in.csv"), [
        "id,name,score",
        "1,alice,0.5",
        "2,bob,0.75",
        "oops,this row is,malformed,extra",
        "3,carol,1.0",
    ])
    df = FS.read_csv(spark, p, SCHEMA)
    clean, dead = FS.split_malformed(df)
    assert clean.count() == 3
    assert set(clean.columns) == {"id", "name", "score"}
    assert dead.count() == 1
    # the zero-cost path works whenever a data column is referenced
    lazy = FS.drop_malformed(df)
    assert lazy.filter(F.col("id") == 2).collect()[0].name == "bob"
    assert len(lazy.select("id").collect()) == 3


def test_json_permissive_side_drop(spark, tmp_path):
    p = _write(os.path.join(tmp_path, "in.jsonl"), [
        '{"id": 1, "name": "alice", "score": 0.5}',
        '{"id": 2, "name": "bob"',  # truncated → malformed
        '{"id": 3, "name": "carol", "score": 1.0}',
    ])
    df = FS.read_json(spark, p, SCHEMA)
    clean, dead = FS.split_malformed(df)
    assert clean.count() == 2
    assert [r.id for r in clean.orderBy("id").collect()] == [1, 3]
    assert dead.count() == 1


def test_csv_to_parquet_roundtrip(spark, tmp_path):
    src = _write(os.path.join(tmp_path, "in.csv"), [
        "id,name,score",
        "1,alice,0.5",
        "bad,row,here,extra",
        "2,bob,0.75",
    ])
    dest = os.path.join(tmp_path, "out.parquet")
    FS.csv_to_parquet(spark, src, dest, SCHEMA)
    back = FS.read_parquet(spark, dest)
    assert back.count() == 2
    assert set(back.columns) == {"id", "name", "score"}


def test_json_to_parquet_partitioned(spark, tmp_path):
    src = _write(os.path.join(tmp_path, "in.jsonl"), [
        '{"id": 1, "name": "alice", "score": 0.5}',
        '{"id": 2, "name": "bob", "score": 0.75}',
    ])
    dest = os.path.join(tmp_path, "out.parquet")
    FS.json_to_parquet(spark, src, dest, SCHEMA, partition_by=["name"])
    back = FS.read_parquet(spark, dest)
    assert back.count() == 2
    # partition column materialized from directory layout
    assert sorted(os.listdir(dest))[0].startswith("name=") or any(
        d.startswith("name=") for d in os.listdir(dest))


def test_explicit_schema_prevents_inference_scan(spark, tmp_path):
    # The reader API requires a schema — no inference pass. Verify the
    # schema is applied verbatim (types, not strings).
    p = _write(os.path.join(tmp_path, "in.csv"),
               ["id,name,score", "1,a,0.5"])
    df = FS.drop_malformed(FS.read_csv(spark, p, SCHEMA))
    assert dict(df.dtypes) == {"id": "int", "name": "string",
                               "score": "double"}


def test_read_json_schemaless(spark, tmp_path):
    """No schema, no inference pass: each line lands as
    map<string,variant> with types intact; non-object lines take the
    PERMISSIVE corrupt side channel like the typed readers."""
    import json as _json

    from pyspark.sql import functions as F

    from kafka_elasticsearch_injector_spark.sources.files import (
        read_json_schemaless,
    )

    p = tmp_path / "in.jsonl"
    p.write_text("\n".join([
        _json.dumps({"id": 1, "nest": {"ok": True}, "tags": ["a", "b"]}),
        _json.dumps({"other": 2.5, "id": "two"}),   # drifted shape: fine
        '{"broken',                                  # malformed
        "[1,2]",                                     # non-object
    ]))
    df = read_json_schemaless(spark, str(p))
    assert dict(df.dtypes) == {"doc": "map<string,variant>",
                               "_corrupt_record": "string"}
    good = df.filter(F.col("doc").isNotNull())
    docs = sorted((_json.loads(r) for r in
                   good.select(F.to_json("doc")).toPandas().iloc[:, 0]),
                  key=lambda d: str(d.get("id")))
    assert docs == [{"id": 1, "nest": {"ok": True}, "tags": ["a", "b"]},
                    {"id": "two", "other": 2.5}] or docs == [
        {"id": 1, "nest": {"ok": True}, "tags": ["a", "b"]},
        {"other": 2.5, "id": "two"}]
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert sorted(r._corrupt_record for r in bad.collect()) == \
        ["[1,2]", '{"broken']
