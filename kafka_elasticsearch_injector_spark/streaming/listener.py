"""Observability: the reference's Prometheus lag/throughput metrics
(src/metrics/metrics.go:36-65, ticker consumer.go:86-97) map onto
Structured Streaming's progress events — no polling goroutine needed,
the engine emits progress after every micro-batch.
"""

from __future__ import annotations

import json

from pyspark.sql.streaming import StreamingQueryListener


class InjectorMetricsListener(StreamingQueryListener):
    """Folds per-batch progress into running totals of fixed size: the
    state after a million batches is as large as after one.

    numInputRows ≙ recordsConsumed counter; sources[].metrics
    (maxOffsetsBehindLatest for Kafka) ≙ the per-partition delay gauge the
    reference computes from HighWaterMarks() - consumed offset; only the
    last batch's sources are kept, because a gauge reads the latest.
    """

    def __init__(self):
        self.total_rows = 0
        self.batches = 0
        self.add_batch_ms = 0
        self.last_sources: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        self.total_rows += p.get("numInputRows") or 0
        self.add_batch_ms += (p.get("durationMs") or {}).get("addBatch", 0) or 0
        self.last_sources = [
            {"description": s.get("description"),
             "metrics": s.get("metrics", {})}
            for s in p.get("sources", [])
        ]
        self.batches += 1

    def onQueryTerminated(self, event) -> None:
        pass

    def onQueryIdle(self, event) -> None:
        pass
