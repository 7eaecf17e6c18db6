"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed, so one seed always gives
the same inputs. Two products:

- ``write_tables``: the ten substrate tables the declared queries read
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``),
  one single-row-group parquet file each, with the column types and
  value distributions of the project's sf0.1 test tables.
- ``AvroCorpus``: a Kafka-shaped stream of Confluent-framed Avro
  records (magic byte, big-endian schema id, Avro body). The Avro
  encoder is written here rather than borrowed from the program, so the
  decode the service performs is checked against an independent
  encoding.
"""

from __future__ import annotations

import datetime as dt
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:            # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:           # near duplicate: a few edits
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, size=k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, ["en", "zh", "es", "fr", "de"], n,
                      [0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(seed: int, sf: float = SF) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    nations = np.arange(25)
    day_us = 86_400 * 1_000_000
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nations, pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in nations]),
            "n_regionkey": pa.array(nations % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([
                f"{a} {b}" for a, b in zip(
                    rng.choice(["red", "blue", "small", "large", "hot",
                                "cold", "new", "old"], n_part),
                    rng.choice(["bolt", "anvil", "ring", "rod", "plate",
                                "gear", "widget", "gizmo"], n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                  "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts_us(dt.datetime(1995, 1, 1),
                                  rng.integers(0, 2404, n_ord) * day_us),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts_us(dt.datetime(1995, 1, 2),
                                 rng.integers(0, 2499, n_line) * day_us),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts_us(dt.datetime(2024, 1, 1),
                         np.sort(rng.integers(0, 30 * day_us, n_ev))),
            "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                      "view"], n_ev),
            "value": np.round(rng.gamma(2.0, 20.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }


def write_tables(seed: int, out_dir: str, sf: float = SF) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tb in make_tables(seed, sf).items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(tb.num_rows, 1))
        counts[name] = tb.num_rows
    return counts


# --- Kafka-shaped Avro corpus ------------------------------------------

SCHEMA_ID = 7
AVRO_SCHEMA = {
    "type": "record", "name": "PageEvent", "namespace": "bench",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "user_id", "type": "int"},
        {"name": "session", "type": "string"},
        {"name": "event_type", "type": "string"},
        {"name": "amount", "type": "double"},
        {"name": "mobile", "type": "boolean"},
        {"name": "referrer", "type": ["null", "string"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
    ],
}


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while n & ~0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _string(s: str) -> bytes:
    b = s.encode()
    return _zigzag(len(b)) + b


def avro_encode(rec: dict) -> bytes:
    """Avro binary body of one ``AVRO_SCHEMA`` record."""
    out = [_zigzag(rec["event_id"]), _zigzag(rec["user_id"]),
           _string(rec["session"]), _string(rec["event_type"]),
           struct.pack("<d", rec["amount"]),
           b"\x01" if rec["mobile"] else b"\x00"]
    out.append(b"\x00" if rec["referrer"] is None
               else b"\x02" + _string(rec["referrer"]))
    if rec["tags"]:
        out.append(_zigzag(len(rec["tags"])))
        out.extend(_string(t) for t in rec["tags"])
    out.append(b"\x00")
    return b"".join(out)


class AvroCorpus:
    """An endless, seeded Kafka topic of framed Avro records.

    Record number ``seq`` lives in partition ``seq % partitions`` at
    offset ``seq // partitions``; its payload is one of ``pool``
    distinct records (chosen by a seeded index), so a corpus of any
    length costs only ``pool`` encodings. Kafka timestamps step
    ``STEP_MS`` per record from a seeded day, so the routed index names
    span several days.
    """

    TOPIC = "page-events"
    STEP_MS = 300

    def __init__(self, seed: int, partitions: int, pool: int = 4096):
        rng = np.random.default_rng([seed, 2])
        self.partitions = partitions
        self.records = []
        for _ in range(pool):
            n_tags = int(rng.integers(0, 4))
            self.records.append({
                "event_id": int(rng.integers(0, 1 << 40)),
                "user_id": int(rng.integers(0, 100_000)),
                "session": f"s-{int(rng.integers(0, 1 << 30)):08x}",
                "event_type": str(rng.choice(
                    ["view", "click", "scroll", "purchase", "signup"])),
                "amount": float(np.round(rng.uniform(0, 5000), 2)),
                "mobile": bool(rng.random() < 0.6),
                "referrer": (None if rng.random() < 0.3 else
                             f"https://ref{int(rng.integers(0, 50))}.example/p"),
                "tags": [f"t{int(t)}" for t in rng.integers(0, 30, n_tags)],
            })
        header = bytes([0]) + struct.pack(">i", SCHEMA_ID)
        self.framed = pa.array([header + avro_encode(r) for r in self.records],
                               pa.binary())
        self.choice = rng.integers(0, pool, 1 << 20)
        self.base_ms = int((dt.datetime(2025, 3, 1) - dt.datetime(1970, 1, 1))
                           .total_seconds() * 1000) + int(
                               rng.integers(0, 200)) * 86_400_000

    def seq(self, doc_id: str) -> int:
        """Record number of a ``"<partition>:<offset>"`` document id."""
        partition, offset = doc_id.split(":")
        return int(offset) * self.partitions + int(partition)

    def batch(self, start: int, count: int) -> pa.Table:
        """Records ``[start, start + count)`` as a Kafka-shaped table."""
        seq = np.arange(start, start + count, dtype=np.int64)
        return pa.table({
            "key": pa.nulls(count, pa.binary()),
            "value": self.framed.take(pa.array(self.choice[seq % len(self.choice)])),
            "topic": pa.array([self.TOPIC] * count, pa.string()),
            "partition": pa.array(seq % self.partitions, pa.int32()),
            "offset": pa.array(seq // self.partitions, pa.int64()),
            "timestamp": pa.array((self.base_ms + seq * self.STEP_MS) * 1000,
                                  pa.timestamp("us", tz="UTC")),
        })

    def expected_index(self, prefix: str, seq: int) -> str:
        day = dt.datetime.fromtimestamp(
            (self.base_ms + seq * self.STEP_MS) / 1000,
            dt.timezone.utc).strftime("%Y-%m-%d")
        return f"{prefix}{self.TOPIC}-{day}"

    def expected_doc(self, seq: int) -> dict:
        """The document the service should index: the record's fields
        (``to_json`` leaves out null ones) plus ``@timestamp``."""
        rec = self.records[int(self.choice[seq % len(self.choice)])]
        return {**{k: v for k, v in rec.items() if v is not None},
                "@timestamp": self.base_ms + seq * self.STEP_MS}
