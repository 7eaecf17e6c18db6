"""Prometheus metrics parity for the injector pipeline.

The reference registers a promhttp handler at /metrics on METRICS_PORT
(src/metrics/metrics_instrumenter.go:10-14) serving the gauges/counters
defined in src/metrics/metrics.go:95-127. Here the same metric names are
rendered in Prometheus text exposition format from two sources:

- engine progress (InjectorMetricsListener): rows consumed, per-source
  lag (maxOffsetsBehindLatest ≙ partition_delay), batch durations
  (≙ endpoint latency summary);
- sink triage totals (created/409/400/retry): the per-task BulkStats
  rows of the bulk writer in the streaming plan, which
  `start_pipeline`'s foreachBatch collects (the batch's one action) and
  sums on the driver.

All state is O(1) running totals, so a scrape costs the same after a
week of batches as after the first.

Serve with ProbeServer(metrics_fn=metrics.prometheus_text) — the same
daemon-thread HTTP server as the health probes, matching the reference
where probes and /metrics share the process.
"""

from __future__ import annotations

from .es_sink import BulkStats
from .listener import InjectorMetricsListener


class InjectorMetrics:
    """Aggregates listener progress + sink triage totals and renders the
    reference's metric names (metrics.go:101-125) in Prometheus text
    format."""

    def __init__(self):
        self.listener = InjectorMetricsListener()
        self.sink = BulkStats()

    def add_sink_rows(self, rows) -> None:
        """Fold one batch's collected STATS_SCHEMA rows into the totals."""
        for r in rows:
            self.sink.created += r.created
            self.sink.already_exists += r.already_exists
            self.sink.bad_request += r.bad_request
            self.sink.retried += r.retried

    def prometheus_text(self) -> str:
        lines: list[str] = []

        def metric(name: str, mtype: str, value, labels: str = "") -> None:
            lines.append(f"# TYPE {name} {mtype}")
            lines.append(f"{name}{labels} {value}")

        listener = self.listener
        metric("kafka_consumer_records_consumed_successfully", "counter",
               listener.total_rows)

        # Per-source lag: Structured Streaming's Kafka source reports
        # maxOffsetsBehindLatest per micro-batch — the engine-level
        # equivalent of the reference's HighWaterMarks - offset gauge.
        for i, src in enumerate(listener.last_sources):
            behind = (src.get("metrics") or {}).get("maxOffsetsBehindLatest")
            if behind is not None:
                metric("kafka_consumer_partition_delay", "gauge",
                       behind, f'{{source="{i}"}}')

        # Batch-duration summary ≙ endpoint latency histogram: the sink
        # call is inside addBatch, so addBatch duration is the bulk
        # round-trip plus engine overhead.
        lines.append("# TYPE kafka_consumer_endpoint_latency_histogram_seconds summary")
        lines.append(
            "kafka_consumer_endpoint_latency_histogram_seconds_sum "
            f"{listener.add_batch_ms / 1000.0}")
        lines.append(
            "kafka_consumer_endpoint_latency_histogram_seconds_count "
            f"{listener.batches}")

        # Backpressure is engine-level (maxOffsetsPerTrigger), so the
        # buffer can't fill; the gauge exists for dashboard parity.
        metric("kafka_consumer_buffer_full", "gauge", 0.0)

        metric("elasticsearch_events_retryed", "counter",
               self.sink.retried)
        metric("elasticsearch_document_already_exists", "counter",
               self.sink.already_exists)
        metric("elasticsearch_bad_request", "counter",
               self.sink.bad_request)
        # Extension (no reference analog): successful creates.
        metric("elasticsearch_documents_created", "counter",
               self.sink.created)
        return "\n".join(lines) + "\n"
