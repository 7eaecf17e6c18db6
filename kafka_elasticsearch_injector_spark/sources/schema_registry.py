"""Confluent Schema Registry client: fetch writer schemas by id, cache
forever.

Reference parity: src/schema_registry/schema_registry.go:16-38 — a
sync.Map cache in front of `GET {url}/schemas/ids/{id}`; entries are
never invalidated (registry ids are immutable). Same contract here, plus
a pluggable `fetcher` so tests (and offline runs) can back the registry
with a dict instead of HTTP — mirroring how the reference's tests run
against a compose-provisioned registry (docker-compose.yml:28-38).

Executor-side use: the client is pickled into the closure of the Arrow
decode kernel (mapInArrow in sources/confluent.py); the cache re-warms
per worker on first miss (the reference pays the same cold fetch per
pod). Plan-time lookups in sources/confluent.py resolve the reader
schema once per query — the Catalyst-constant analog of the codec
cache.
"""

from __future__ import annotations

import json
from typing import Callable


class SchemaRegistryError(RuntimeError):
    pass


class SchemaRegistryClient:
    """Caching schema-by-id client with a pluggable transport."""

    def __init__(self, base_url: str | None = None,
                 fetcher: Callable[[int], str] | None = None):
        if fetcher is None and base_url is None:
            raise ValueError("need base_url or fetcher")
        self._base_url = base_url.rstrip("/") if base_url else None
        self._fetcher = fetcher or self._http_fetch
        self._cache: dict[int, str] = {}

    def get_schema(self, schema_id: int) -> str:
        """Writer schema JSON for `schema_id` (cached forever)."""
        schema = self._cache.get(schema_id)
        if schema is None:
            schema = self._fetcher(schema_id)
            self._cache[schema_id] = schema
        return schema

    def _http_fetch(self, schema_id: int) -> str:
        from urllib.request import urlopen

        url = f"{self._base_url}/schemas/ids/{schema_id}"
        try:
            with urlopen(url, timeout=10) as resp:
                return json.loads(resp.read())["schema"]
        except Exception as ex:  # noqa: BLE001 — surface the id + url
            raise SchemaRegistryError(f"fetch {url}: {ex}") from ex

    def __getstate__(self):
        # Drop the warm cache when shipping to executors only if the
        # fetcher can re-fetch; a dict-backed fetcher keeps its mapping.
        return {"_base_url": self._base_url, "_fetcher": self._fetcher,
                "_cache": dict(self._cache)}

    def __setstate__(self, state):
        self.__dict__.update(state)
