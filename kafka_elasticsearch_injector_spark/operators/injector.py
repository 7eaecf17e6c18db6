"""Injector operator layer — the per-record pieces of the reference's
dataflow (SURVEY.md §2.1 ops 5-20) that the service compiler,
`streaming/pipeline.build_elastic_records`, assembles into its one
decode → enrich → filter → route projection.

There is one implementation of each op: the service calls these, and
the Part A queries (plans/part_a.py) run the service's own compiler or
its `routing` on the static `events` table, so the oracle checks the
code that ships. All are pure Column expressions (whole-stage codegen,
no Python in the hot path).

Reference parity citations are per-function; behavior quirks preserved
or deliberately widened are noted (e.g. the string/int32-only narrowing
of `Record.GetValueForField`, reference src/models/record.go:30-42, is
widened to any-atomic-type via cast).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import InjectorConfig

DOC_TYPE = "_doc"  # reference src/elasticsearch/codec.go:11
#: The PERMISSIVE decode's corrupt-record field inside ``decoded``.
CORRUPT_COL = "_corrupt_record"


def decode_json(df: DataFrame, schema: T.StructType | str,
                payload_col: str = "value") -> DataFrame:
    """Decode a JSON payload column; malformed rows are marked, not fatal.

    Reference: json.Unmarshal per record (src/kafka/encode_decode.go:87-113);
    decode errors skip the record and the batch continues
    (src/kafka/consumer.go:154-159). PERMISSIVE from_json + the
    `CORRUPT_COL` field gives the same semantics declaratively.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    schema_with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )
    decoded = F.from_json(
        F.col(payload_col).cast("string"),
        schema_with_corrupt,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
    )
    return df.withColumn("decoded", decoded)


def decode_json_schemaless(df: DataFrame, payload_col: str = "value",
                           decoded_col: str = "_decoded_map") -> DataFrame:
    """Decode arbitrary JSON objects with NO declared schema.

    Reference parity: JsonMessageToRecord unmarshals into
    ``map[string]interface{}`` (src/kafka/encode_decode.go:87-113) — any
    top-level JSON object is accepted, field types are whatever the
    payload carries. The Spark-native equivalent is
    ``map<string,variant>``: keys are the top-level field names, each
    value a VARIANT that round-trips numbers/bools/strings/nulls/nested
    objects/arrays faithfully through ``to_json`` (verified: no
    string-coercion, unlike ``map<string,string>``).

    Malformed JSON, a top-level array, or a top-level scalar decode to
    NULL — exactly the inputs Go's unmarshal-into-map rejects
    (encode_decode_test.go:51-63). Callers distinguish nil payload
    (``payload_col`` IS NULL) from corrupt (decoded NULL, payload not).

    Entirely JVM-side: from_json + variant ops stay in whole-stage
    codegen; no Python touches the hot path.
    """
    return df.withColumn(
        decoded_col,
        F.from_json(F.col(payload_col).cast("string"), "map<string,variant>"))


def doc_id_default(partition_col: str = "partition",
                   offset_col: str = "offset") -> Column:
    """Default ES doc id `"{partition}:{offset}"` — stable per Kafka
    coordinate, the idempotence key (src/models/record.go:26-28,
    codec.go:77-90).
    """
    return F.concat_ws(":", F.col(partition_col), F.col(offset_col))


def required(col: Column, what: str) -> Column:
    """A NULL routing value fails the batch explicitly — the reference's
    GetValueForField errors on missing/unparseable values
    (record.go:30-42) and the codec propagates it (codec.go:62-68,
    82-88); silently shipping ``"_index": null`` or a "None" doc id is
    worse than failing loudly."""
    return F.coalesce(col, F.raise_error(F.lit(
        f"missing or null {what} routing value (reference "
        "record.go:30-42 fails the record)")))


def routing(cfg: InjectorConfig, field_str) -> tuple[Column, Column]:
    """Index-name + doc-id expressions (ops 12-17) over the Kafka
    envelope columns ``topic``/``timestamp``/``partition``/``offset``;
    ``field_str(name)`` resolves a payload field as a string column
    (struct access typed, variant lookup schemaless).

    Index name = ES_INDEX_PREFIX + (ES_INDEX or topic) + '-' + (the
    ES_INDEX_COLUMN value, else the day|hour bucket of the message
    time): codec.go:50-75, formats record.go:18-24 ("2006-01-02" /
    "2006-01-02-15"), suffix select config.go:51-57. Doc id = the
    ES_DOC_ID_COLUMN value (codec.go:80-88) or `doc_id_default`."""
    index_base = F.coalesce(
        F.lit(cfg.es_index) if cfg.es_index else F.lit(None).cast("string"),
        F.col("topic"))
    if cfg.es_index_column:
        suffix = required(field_str(cfg.es_index_column),
                          f"es_index_column={cfg.es_index_column}")
    else:
        fmt = "yyyy-MM-dd-HH" if cfg.es_time_suffix == "hour" else "yyyy-MM-dd"
        suffix = F.date_format(F.col("timestamp"), fmt)
    index_name = F.concat(F.lit(cfg.es_index_prefix), index_base,
                          F.lit("-"), suffix)
    if cfg.es_doc_id_column:
        doc_id = required(field_str(cfg.es_doc_id_column),
                          f"es_doc_id_column={cfg.es_doc_id_column}")
    else:
        doc_id = doc_id_default("partition", "offset")
    return index_name, doc_id


def dedup_by_doc_id(df: DataFrame, id_cols: list[str],
                    order_col: str) -> DataFrame:
    """Create-only conflict dedup: first record per doc id wins, later
    duplicates are AlreadyExists no-ops (elasticsearch.go:95-104,120-124 —
    HTTP 409 swallowed, not retried). Batch analog: keep the first row per
    id in `order_col` order.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*id_cols).orderBy(order_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
