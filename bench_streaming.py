#!/usr/bin/env python
"""Throughput benchmark for the streaming injector hot path.

Measures end-to-end records/sec of the full injector pipeline —
micro-batch source → null-filter → JSON decode → enrich (@timestamp,
key) → blacklist → day index routing → doc-id synthesis → bulk-body
assembly through the create-only sink protocol — over a synthetic
Kafka-shaped corpus, with real Structured Streaming execution
(availableNow trigger + checkpointing), the NullTransport standing in
for the Elasticsearch endpoint so the number measures the ENGINE, not
a co-located ES process.

Reference comparison (BASELINE.md): the reference's per-pod ceiling is
`concurrency x batch / (decode + bulk RTT)` records/sec — its demo
config holds 1,000 records in flight (10 workers x 100-record bulks,
docker-compose.yml:70-71). This pipeline's per-node throughput is the
number printed here; partition-parallel executors scale it linearly
until the real ES cluster saturates.

Prints ONE JSON line:
  {"metric": "injector_throughput", "value": N, "unit": "records/sec",
   "rows": R, "wall_s": S}

Environment: SPARK_GRAFT_STREAM_ROWS (default 1,000,000).

Regression gate: the per-round number is committed to
BENCH_STREAMING.json (history + documented floor); tests/
test_bench_contract.py gates the file's shape, that every recorded
round clears the floor, and — via run() at reduced rows — that the
LIVE pipeline still clears a conservative smoke floor, so a per-row
hot-path regression fails CI instead of waiting for the manual
per-round measurement (the batch bench learned this in r7:
test_no_unbenched_registered_query).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_ROWS = int(os.environ.get("SPARK_GRAFT_STREAM_ROWS", 1_000_000))


def run(n_rows: int = N_ROWS) -> dict:
    """Measure the injector hot path end-to-end; returns the result
    record main() prints. Callable from tests (reduced rows) as the
    live smoke-floor gate."""
    from pyspark.sql import functions as F

    from kafka_elasticsearch_injector_spark.config import InjectorConfig
    from kafka_elasticsearch_injector_spark.session import get_spark
    from kafka_elasticsearch_injector_spark.streaming.es_sink import (
        NullTransport,
    )
    from kafka_elasticsearch_injector_spark.streaming.pipeline import (
        start_pipeline,
    )

    # mode="streaming": no ParallelGC pin — micro-batch latency wants
    # the JVM-default G1's pause-time goals, not throughput GC. The
    # mode only shapes BUILDER inputs: under an already-live JVM
    # (the test suite's smoke-floor call) getOrCreate() reuses the
    # existing batch-pinned session — fine there, because the smoke
    # floor is ~10x below either GC regime's throughput. Log level is
    # main()'s business: mutating it here would leak ERROR-only
    # logging into every test that runs after the smoke floor.
    spark = get_spark("bench-streaming", mode="streaming")
    cpus = spark.sparkContext.defaultParallelism

    work = tempfile.mkdtemp(prefix="bench_streaming_")
    src_dir = os.path.join(work, "source")
    ckpt_dir = os.path.join(work, "ckpt")
    try:
        # Kafka-shaped corpus: (key, value, topic, partition, offset,
        # timestamp) with a JSON payload of mixed field types. One file
        # per core so the single availableNow micro-batch fans out.
        payload = F.to_json(F.struct(
            (F.col("id") % 100000).alias("user_id"),
            F.concat(F.lit("type_"), (F.col("id") % 7)).alias("event_type"),
            (F.col("id") % 997 / F.lit(10.0)).alias("amount"),
            F.concat(F.lit("session_"), (F.col("id") % 5003)).alias("session"),
            F.lit("internal").alias("debug_tag"),
        ))
        (
            spark.range(n_rows)
            .select(
                # Keys are JSON OBJECTS: the pipeline decodes keys the
                # way the reference does (json.Unmarshal into a map) and
                # fails records whose non-null key isn't an object.
                F.to_json(F.struct(F.col("id").alias("kid")))
                .cast("binary").alias("key"),
                payload.cast("binary").alias("value"),
                F.lit("events").alias("topic"),
                (F.col("id") % cpus).cast("int").alias("partition"),
                F.col("id").alias("offset"),
                F.timestamp_seconds(
                    F.lit(1700000000) + F.col("id") % 86400).alias("timestamp"),
            )
            .repartition(cpus)
            .write.mode("overwrite").parquet(src_dir)
        )

        schema = ("key binary, value binary, topic string, partition int, "
                  "offset bigint, timestamp timestamp")
        source = spark.readStream.schema(schema).parquet(src_dir)

        cfg = InjectorConfig(
            record_type="json",
            include_key=True,
            blacklisted_columns=("debug_tag",),
            es_index_prefix="bench-",
            batch_size=500,
        )
        # SPARK_GRAFT_STREAM_MODE=schemaless measures the reference's
        # default no-schema deployment (map<string,variant> decode)
        # through the same corpus + sink; default stays typed so the
        # recorded per-round history compares like with like.
        if os.environ.get("SPARK_GRAFT_STREAM_MODE") == "schemaless":
            payload_schema = None
        else:
            payload_schema = ("user_id bigint, event_type string, "
                              "amount double, session string, "
                              "debug_tag string")

        from kafka_elasticsearch_injector_spark.streaming.metrics import (
            InjectorMetrics,
        )

        metrics = InjectorMetrics()
        t0 = time.perf_counter()
        q = start_pipeline(
            spark, cfg, payload_schema,
            transport_factory=NullTransport,
            checkpoint_dir=ckpt_dir,
            source_df=source,
            available_now=True,
            metrics=metrics,
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        delivered = metrics.sink.created
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # Guard against measuring the drop path: every synthetic record must
    # actually reach the sink protocol. RuntimeError, not SystemExit:
    # run() is a library entry point (the CI smoke floor calls it) and
    # must not terminate a caller's process; main() converts.
    if delivered != n_rows:
        raise RuntimeError(
            f"throughput bench delivered {delivered}/{n_rows} records — "
            "the corpus is being dropped, the number would be a lie")

    return {
        "metric": "injector_throughput",
        "value": round(n_rows / wall, 1),
        "unit": "records/sec",
        "rows": n_rows,
        "delivered": delivered,
        "wall_s": round(wall, 3),
    }


def main() -> None:
    from kafka_elasticsearch_injector_spark.session import get_spark

    get_spark("bench-streaming",
              mode="streaming").sparkContext.setLogLevel("ERROR")
    try:
        result = run()
    except RuntimeError as e:
        raise SystemExit(str(e)) from e
    print(json.dumps(result))


if __name__ == "__main__":
    main()
