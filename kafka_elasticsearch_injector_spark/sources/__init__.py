"""Source-side machinery: Confluent wire-format Avro decode, schema
registry client, and the pure-Python Avro binary decoder backing them."""

from .avro_codec import AvroError, parse_schema  # noqa: F401
from .confluent import (  # noqa: F401
    avro_to_spark_type,
    decode_confluent,
    wire_decode,
)
from .schema_registry import (  # noqa: F401
    SchemaRegistryClient,
    SchemaRegistryError,
)
