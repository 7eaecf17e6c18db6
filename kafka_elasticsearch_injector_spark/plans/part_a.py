"""Part A — reference-semantics queries (SURVEY.md §2.3) on `events`.

The `events` table stands in for the Kafka stream (FIXTURES.md B1):
`event_id`/`user_id` play offset/partition, `ts` the message timestamp,
`props` the raw JSON payload, `event_type` a payload routing field.
The queries run the service's own code, so the oracle checks what
ships (the Structured Streaming model: one query over static and
streaming input):

- routing queries (ops 12-17) call `injector.routing` on `events`
  renamed to the Kafka envelope names;
- payload queries (ops 7, 9-11) run `build_elastic_records` on a
  Kafka-shaped view (`value` = props, `key` = JSON `{"user_id": ..}`)
  and read their op's value from `payload`, `_drop_reason` or the
  envelope;
- decode (ops 6, 8) uses the compiler's `decode_json`.

All per-row (map/filter/project) — at 100 TB these are embarrassingly
parallel scan-side ops with zero shuffle; the only shuffles in this file
are the scan rebalances and the two aggregating queries (dedup,
offset-lag).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import InjectorConfig
from ..io import table
from ..operators import injector as ops
from ..operators.scale import fill_cluster, no_pushdown
from ..streaming.pipeline import build_elastic_records
from .registry import register

_TOPIC = "events"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "events")


def _cfg(**kw) -> InjectorConfig:
    return InjectorConfig(record_type="json", topics=(_TOPIC,), **kw)


def _route(spark: SparkSession, sf_dir: str, **kw):
    """`events` under the envelope names routing reads, and the
    (index_name, doc_id) columns `injector.routing` compiles for
    `_cfg(**kw)`; payload fields are the events columns, string-cast."""
    df = _events(spark, sf_dir).select(
        "*",
        F.lit(_TOPIC).alias("topic"),
        F.col("ts").alias("timestamp"),
        F.col("user_id").alias("partition"),
        F.col("event_id").alias("offset"))
    return df, ops.routing(_cfg(**kw), lambda n: F.col(n).cast("string"))


def _records(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """The service compiler over a Kafka-shaped view of `events`, drops
    kept (`_drop_reason` + envelope)."""
    ev = fill_cluster(_events(spark, sf_dir).select(
        F.to_json(F.struct("user_id")).alias("key"),
        F.col("props").alias("value"),
        F.lit(_TOPIC).alias("topic"),
        F.col("user_id").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp")))
    return build_elastic_records(ev, _cfg(**kw), "k INT", return_drops=True)


@register(
    "q_scan_events",
    "SELECT event_id, ts, user_id, event_type, value, props FROM events",
    doc="Full source scan (op 1 batch analog).",
)
def q_scan_events(spark, sf_dir):
    return _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value", "props")


@register(
    "q_null_filter",
    "SELECT event_id, props FROM events WHERE props IS NOT NULL",
    doc="Nil-payload drop (op 7, ErrNilMessage): every row the compiler "
        "does not drop as null_payload.",
)
def q_null_filter(spark, sf_dir):
    df = _records(spark, sf_dir)
    return df.filter(~F.col("_drop_reason").eqNullSafe("null_payload")).select(
        F.col("offset").alias("event_id"), F.col("value").alias("props"))


@register(
    "q_json_decode",
    """
    SELECT event_id,
           json_extract_string(try_cast(props AS JSON), '$.k') AS k,
           CAST(json_extract_string(try_cast(props AS JSON), '$.k')
                AS INTEGER) AS k_int
    FROM events
    """,
    doc="JSON payload decode (op 6).",
)
def q_json_decode(spark, sf_dir):
    df = ops.decode_json(_events(spark, sf_dir), "k INT", payload_col="props")
    return df.select(
        "event_id",
        F.col("decoded.k").cast("string").alias("k"),
        F.col("decoded.k").alias("k_int"),
    )


@register(
    "q_corrupt_drop",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    WHERE json_type(try_cast(props AS JSON)) = 'OBJECT'
    """,
    doc="Malformed-record side-drop (op 8): PERMISSIVE decode + corrupt "
        "column filter; batch continues. Like Go's unmarshal into a map, "
        "only a JSON object decodes.",
)
def q_corrupt_drop(spark, sf_dir):
    # from_json runs TWICE per row (corrupt filter + projection — the
    # pinned double-parse, see the r15 q_corrupt_drop note) over a
    # single-row-group scan, i.e. serially at bench scale. Rebalance
    # the two needed columns first (no-op at real scale — fill_cluster
    # guard), AND pin the corrupt filter above the exchange: split and
    # pushed, its from_json copy re-serializes onto the one-task scan
    # (r16 review finding — the same Filter-under-Exchange shape as
    # q_bm25's any_tf pin). The filter spells the compiler's
    # corrupt_payload condition (`CORRUPT_COL` set) through
    # no_pushdown; semantics identical (rows verified equal by full
    # collect). Measured 0.54 → 0.40 (rebalance
    # alone) → 0.21-0.31 s (plus the pin) at sf0.1.
    events = fill_cluster(_events(spark, sf_dir).select("event_id", "props"))
    df = ops.decode_json(events.filter(F.col("props").isNotNull()), "k INT",
                         payload_col="props")
    df = df.filter(no_pushdown(
        F.col(f"decoded.{ops.CORRUPT_COL}").isNull().cast("int")) == 1)
    return df.select("event_id", F.col("decoded.k").alias("k"))


@register(
    "q_timestamp_millis",
    "SELECT event_id, epoch_ms(ts) AS ts_ms FROM events",
    doc="`@timestamp` = epoch millis injection (op 9), read back from "
        "the compiled payload.",
)
def q_timestamp_millis(spark, sf_dir):
    return _records(spark, sf_dir).select(
        F.col("offset").alias("event_id"),
        F.get_json_object("payload", "$['@timestamp']").cast("long")
        .alias("ts_ms"))


@register(
    "q_key_embed",
    """
    SELECT event_id, CAST(user_id AS VARCHAR) AS key,
           json_extract_string(props, '$.k') AS k
    FROM events
    """,
    doc="Key embedding into payload (op 10, include-key on): the decoded "
        "JSON key lands next to the payload's own fields.",
)
def q_key_embed(spark, sf_dir):
    return _records(spark, sf_dir, include_key=True).select(
        F.col("offset").alias("event_id"),
        F.get_json_object("payload", "$.key.user_id").alias("key"),
        F.get_json_object("payload", "$.k").alias("k"))


@register(
    "q_blacklist_project",
    """
    SELECT event_id, '{"@timestamp":' || epoch_ms(ts) || '}' AS payload
    FROM events
    """,
    doc="Field blacklist / anti-projection (op 11): `k` leaves the "
        "payload, an unknown name is ignored.",
)
def q_blacklist_project(spark, sf_dir):
    return _records(
        spark, sf_dir, blacklisted_columns=("k", "not_a_column")).select(
        F.col("offset").alias("event_id"), "payload")


@register(
    "q_field_cast",
    "SELECT event_id, CAST(user_id AS VARCHAR) AS user_id_str FROM events",
    doc="Field extraction + string cast (op 12), widened past string/int32.",
)
def q_field_cast(spark, sf_dir):
    df, (_, doc_id) = _route(spark, sf_dir, es_doc_id_column="user_id")
    return df.select("event_id", doc_id.alias("user_id_str"))


@register(
    "q_doc_id",
    "SELECT event_id, CONCAT(user_id, ':', event_id) AS doc_id FROM events",
    doc="Default doc id `{partition}:{offset}` (op 13) — the idempotence key.",
)
def q_doc_id(spark, sf_dir):
    df, (_, doc_id) = _route(spark, sf_dir)
    return df.select("event_id", doc_id.alias("doc_id"))


@register(
    "q_doc_id_column",
    "SELECT event_id, CAST(event_id AS VARCHAR) AS doc_id FROM events",
    doc="Doc id from payload column (op 14).",
)
def q_doc_id_column(spark, sf_dir):
    df, (_, doc_id) = _route(spark, sf_dir, es_doc_id_column="event_id")
    return df.select("event_id", doc_id.alias("doc_id"))


@register(
    "q_index_day",
    """
    SELECT event_id,
           'pfx-' || 'events' || '-' || strftime(ts, '%Y-%m-%d') AS index_name,
           '_doc' AS doc_type
    FROM events
    """,
    doc="Day-bucketed index routing (ops 15+17).",
)
def q_index_day(spark, sf_dir):
    df, (index_name, _) = _route(spark, sf_dir, es_index_prefix="pfx-")
    return df.select("event_id", index_name.alias("index_name"),
                     F.lit(ops.DOC_TYPE).alias("doc_type"))


@register(
    "q_index_hour",
    """
    SELECT event_id,
           'pfx-' || 'events' || '-' || strftime(ts, '%Y-%m-%d-%H') AS index_name
    FROM events
    """,
    doc="Hour-bucketed index routing (op 15, ES_TIME_SUFFIX=hour).",
)
def q_index_hour(spark, sf_dir):
    df, (index_name, _) = _route(spark, sf_dir, es_index_prefix="pfx-",
                                 es_time_suffix="hour")
    return df.select("event_id", index_name.alias("index_name"))


@register(
    "q_index_column",
    """
    SELECT event_id, 'pfx-' || 'events' || '-' || event_type AS index_name
    FROM events
    """,
    doc="Column-value index routing (op 16, ES_INDEX_COLUMN): the value "
        "replaces the time bucket after `prefix + (ES_INDEX or topic) + '-'`.",
)
def q_index_column(spark, sf_dir):
    df, (index_name, _) = _route(spark, sf_dir, es_index_prefix="pfx-",
                                 es_index_column="event_type")
    return df.select("event_id", index_name.alias("index_name"))


@register(
    "q_dedup_docid",
    """
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events) t
    WHERE rn = 1
    """,
    doc="Create-only conflict dedup (op 20): first writer per doc id wins.",
)
def q_dedup_docid(spark, sf_dir):
    return ops.dedup_by_doc_id(
        _events(spark, sf_dir).select("user_id", "event_id", "event_type"),
        id_cols=["user_id"], order_col="event_id",
    )


@register(
    "q_offset_lag",
    """
    SELECT event_type, MAX(event_id) AS max_offset, COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Consumer-lag aggregation analog (op 24): max offset per partition.",
)
def q_offset_lag(spark, sf_dir):
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.max("event_id").alias("max_offset"),
             F.count(F.lit(1)).alias("n_events"))
    )
