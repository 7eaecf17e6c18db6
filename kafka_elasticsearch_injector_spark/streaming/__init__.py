from .es_sink import (
    STATS_SCHEMA,
    ElasticBulkWriter,
    HttpTransport,
    NullTransport,
    write_arrow_factory,
)
from .pipeline import (
    build_elastic_records,
    read_kafka_stream,
    start_pipeline,
)

__all__ = [
    "STATS_SCHEMA", "ElasticBulkWriter", "HttpTransport", "NullTransport",
    "write_arrow_factory", "build_elastic_records", "read_kafka_stream",
    "start_pipeline",
]
