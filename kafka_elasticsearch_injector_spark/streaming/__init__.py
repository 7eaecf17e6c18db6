"""The injector service: Kafka source → records (pipeline.py) →
Elasticsearch bulk sink (es_sink.py), with probes, metrics and the
progress listener."""
