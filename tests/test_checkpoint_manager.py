"""The service stream's checkpoint metadata goes through Spark's
`FileSystemBasedCheckpointFileManager`, which `start_pipeline` names by
its class path. Spark resolves that name only through
`CheckpointFileManager.create`, so a Spark release that moves or
renames the class must fail here, not in a deployed service."""

from __future__ import annotations

import datetime as dt
import json

from kafka_elasticsearch_injector_spark.config import InjectorConfig
from kafka_elasticsearch_injector_spark.streaming.es_sink import NullTransport
from kafka_elasticsearch_injector_spark.streaming.pipeline import start_pipeline

KEY = "spark.sql.streaming.checkpointFileManagerClass"
PACKAGE = "org.apache.spark.sql.execution.streaming.checkpointing"


def manager_class(spark, path: str) -> str:
    """Class of the manager Spark builds for `path` under the session's
    current Hadoop configuration (the call every metadata log makes)."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(path),
            spark._jsparkSession.sessionState().newHadoopConf())
    return manager.getClass().getName()


def test_service_checkpoint_uses_filesystem_manager(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("k1", json.dumps({"id": "a", "value": 1}), "my-topic", 0, 7,
          dt.datetime(2018, 3, 10))],
        "key STRING, value STRING, topic STRING, partition INT, "
        "offset LONG, timestamp TIMESTAMP",
    ).write.parquet(src)
    spark.conf.unset(KEY)
    # Unset, Spark picks the FileContext manager on a local filesystem.
    assert manager_class(spark, ckpt) == \
        f"{PACKAGE}.FileContextBasedCheckpointFileManager"

    q = start_pipeline(
        spark, InjectorConfig(record_type="json", topics=("my-topic",)),
        "id STRING, value INT", transport_factory=NullTransport,
        checkpoint_dir=ckpt, available_now=True,
        source_df=spark.readStream.schema(
            "key STRING, value STRING, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP").parquet(src))
    try:
        assert q.awaitTermination(120), "stream pass timed out"
    finally:
        q.stop()
    assert sum(p["numInputRows"] for p in q.recentProgress) == 1
    assert manager_class(spark, ckpt) == \
        f"{PACKAGE}.FileSystemBasedCheckpointFileManager"
