"""The service's /metrics state is O(1): folding any number of progress
events and sink rows keeps the same state and the same scrape shape.
No Spark: the listener is fed synthetic progress events directly."""

from __future__ import annotations

import json
import tracemalloc
from types import SimpleNamespace

from kafka_elasticsearch_injector_spark.streaming.metrics import InjectorMetrics


def _event(behind: int) -> SimpleNamespace:
    return SimpleNamespace(progress=SimpleNamespace(json=json.dumps({
        "batchId": 0, "numInputRows": 4,
        "durationMs": {"addBatch": 7, "triggerExecution": 9},
        "sources": [{"description": "KafkaV2[Subscribe[t]]",
                     "metrics": {"maxOffsetsBehindLatest": str(behind)}}],
    })))


def _names(text: str) -> list[str]:
    return [line.split(" ")[0] for line in text.splitlines()]


def test_metrics_state_and_scrape_stay_constant_over_100k_batches():
    m = InjectorMetrics()
    events = [_event(b) for b in range(5)]
    stats = [SimpleNamespace(created=3, already_exists=1, bad_request=0,
                             retried=2)]

    def feed(lo: int, hi: int) -> None:
        for i in range(lo, hi):
            m.listener.onQueryProgress(events[i % 5])
            m.add_sink_rows(stats)

    feed(0, 1_000)
    early = m.prometheus_text()
    tracemalloc.start()
    try:
        before = tracemalloc.get_traced_memory()[0]
        feed(1_000, 100_000)
        kept = tracemalloc.get_traced_memory()[0] - before
    finally:
        tracemalloc.stop()
    assert kept < 4096, f"metrics state grew by {kept} B over 99k batches"
    assert set(vars(m.listener)) == {
        "total_rows", "batches", "add_batch_ms", "last_sources"}

    text = m.prometheus_text()
    assert _names(text) == _names(early)
    values = dict(line.split(" ") for line in text.splitlines()
                  if not line.startswith("#"))
    assert values == {
        "kafka_consumer_records_consumed_successfully": "400000",
        'kafka_consumer_partition_delay{source="0"}': "4",
        "kafka_consumer_endpoint_latency_histogram_seconds_sum": "700.0",
        "kafka_consumer_endpoint_latency_histogram_seconds_count": "100000",
        "kafka_consumer_buffer_full": "0.0",
        "elasticsearch_events_retryed": "200000",
        "elasticsearch_document_already_exists": "100000",
        "elasticsearch_bad_request": "0",
        "elasticsearch_documents_created": "300000",
    }
