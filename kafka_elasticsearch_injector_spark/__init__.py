"""PySpark-native analytics engine with the capabilities of
inloco/kafka-elasticsearch-injector, rebuilt Spark-first.

The reference (Go, /root/reference) is a Kafka→Elasticsearch streaming ETL
service: consume → decode → enrich → filter → route → bulk-write
(reference README.md:4-8). This package re-expresses that dataflow as
Structured Streaming + DataFrame plans, and extends it with the relational
surface and LLM-data-pipeline operators declared in SURVEY.md §2.

Layout:
  session.py   — SparkSession builder tuned for local[*] and cluster scale
  config.py    — dataclass mirroring the reference env-var surface
  io.py        — table readers (parquet substrate)
  operators/   — injector ops (Part A), dedup, similarity, text, multimodal
  functions/   — reusable column expression helpers (vector math)
  plans/       — declared query inventory (queries() + oracle_sql() pairs)
  sources/     — Confluent-framed Avro decode and the schema registry client
  streaming/   — the actual injector pipeline: Kafka source
                 (pipeline.py) → ES sink
"""

__version__ = "0.1.0"
