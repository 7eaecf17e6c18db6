"""Schema-registry HTTP path against a LIVE stdlib server: the real
`GET {url}/schemas/ids/{id}` fetch (schema_registry.go:16-38 parity),
fetch-once caching over the wire, error surfacing, and the full Spark
decode operator re-fetching a writer schema FROM AN EXECUTOR over HTTP
— the sandbox analog of the reference's compose-provisioned registry
(docker-compose.yml:28-38).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler

import pytest

from kafka_elasticsearch_injector_spark.sources import (
    SchemaRegistryError,
    decode_confluent,
)
from kafka_elasticsearch_injector_spark.sources.schema_registry import (
    SchemaRegistryClient,
)

from .avro_writer import Codec

from .confluent_fixtures import wire_encode

from .fake_es import start_http_server

FIXTURE_SCHEMA = json.dumps({
    "type": "record", "name": "fixture_record",
    "fields": [{"name": "id", "type": "int"}],
})
WIDE_SCHEMA = json.dumps({
    "type": "record", "name": "fixture_record",
    "fields": [{"name": "id", "type": "int"},
               {"name": "name", "type": "string"}],
})


class FakeRegistry:
    """Live Confluent-registry fake: GET /schemas/ids/{id} → {"schema"}."""

    def __init__(self, schemas: dict[int, str]):
        self.schemas = schemas
        self.hits: list[int] = []
        self._lock = threading.Lock()
        self._server = None

    def start(self) -> str:
        fake = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                sid = int(self.path.rsplit("/", 1)[1])
                with fake._lock:
                    fake.hits.append(sid)
                    schema = fake.schemas.get(sid)
                if schema is None:
                    body, code = b'{"error_code":40403}', 404
                else:
                    body = json.dumps({"schema": schema}).encode()
                    code = 200
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        self._server, url = start_http_server(Handler)
        return url

    def stop(self):
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None


@pytest.fixture()
def registry_server():
    fake = FakeRegistry({1: FIXTURE_SCHEMA, 2: WIDE_SCHEMA})
    url = fake.start()
    try:
        yield fake, url
    finally:
        fake.stop()


def test_http_fetch_cache_and_errors(registry_server):
    fake, url = registry_server
    client = SchemaRegistryClient(base_url=url)
    assert client.get_schema(1) == FIXTURE_SCHEMA
    assert client.get_schema(1) == FIXTURE_SCHEMA
    assert fake.hits == [1]                    # fetched once, cached
    with pytest.raises(SchemaRegistryError, match="schemas/ids/9"):
        client.get_schema(9)                   # 404 surfaces id + url


def test_decode_confluent_over_http_registry(spark, registry_server):
    """Multi-writer-schema decode where the registry is reached over a
    real socket: the plan-time reader-schema fetch runs on the driver,
    and the UNSEEN writer id (2) is fetched lazily from inside the
    executor's Arrow decode batch — the per-pod cold-fetch path the
    module docstring promises."""
    fake, url = registry_server
    client = SchemaRegistryClient(base_url=url)
    c1, c2 = Codec(FIXTURE_SCHEMA), Codec(WIDE_SCHEMA)
    rows = [
        (wire_encode(1, c1.encode({"id": 10})),),
        (wire_encode(2, c2.encode({"id": 20, "name": "n"})),),
    ]
    df = spark.createDataFrame(rows, "value binary")
    decoded = decode_confluent(df, client, reader_schema_id=1)
    out = sorted(r.id for r in decoded.select("decoded.id").collect())
    assert out == [10, 20]
    assert 1 in fake.hits and 2 in fake.hits   # id 2 fetched over HTTP
