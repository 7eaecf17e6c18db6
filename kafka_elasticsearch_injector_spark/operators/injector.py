"""Injector operator layer — the reference's dataflow ops as composable
DataFrame transforms (SURVEY.md §2.1 ops 5-18).

Each function takes/returns a DataFrame so they chain like the reference's
decode → enrich → filter → route pipeline. All are pure Column expressions
(whole-stage codegen, no Python in the hot path).

Reference parity citations are per-function; behavior quirks preserved or
deliberately widened are noted (e.g. the string/int32-only narrowing of
`Record.GetValueForField`, reference src/models/record.go:30-42, is widened
to any-atomic-type via cast, with missing columns still failing fast at
plan time).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOC_TYPE = "_doc"  # reference src/elasticsearch/codec.go:11


def _require_columns(df: DataFrame, *cols: str) -> None:
    """Fail at plan time if a routing column is missing.

    The reference fails per-batch at runtime (src/elasticsearch/codec.go:61-68,
    80-88 via src/models/record.go:30-42); with a static schema we can fail
    at analysis time instead, which is strictly earlier and cheaper.
    """
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"missing required column(s) {missing}; have {df.columns}")


def filter_null_payload(df: DataFrame, payload_col: str = "value") -> DataFrame:
    """Drop records with nil payload (ErrNilMessage path).

    Reference: src/kafka/encode_decode.go:43-45, skip at consumer.go:150-152.
    """
    return df.filter(F.col(payload_col).isNotNull())


def decode_json(df: DataFrame, schema: T.StructType | str,
                payload_col: str = "value",
                corrupt_col: str = "_corrupt_record") -> DataFrame:
    """Decode a JSON payload column; malformed rows are marked, not fatal.

    Reference: json.Unmarshal per record (src/kafka/encode_decode.go:87-113);
    decode errors skip the record and the batch continues
    (src/kafka/consumer.go:154-159). PERMISSIVE from_json + corrupt-record
    column gives the same semantics declaratively.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    schema_with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    decoded = F.from_json(
        F.col(payload_col).cast("string"),
        schema_with_corrupt,
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col},
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


def profile_schemaless(df: DataFrame, doc_col: str = "doc") -> DataFrame:
    """Field-shape profile of a schemaless corpus: for a
    ``map<string,variant>`` column, the observed (field, variant_type)
    histogram — ``(field, vtype, n_rows, fraction)``, fraction over the
    non-null documents.

    The operational bridge OUT of schemaless mode: run a topic
    schemaless first (the reference's deployment), profile what
    actually arrives, then author the PAYLOAD_SCHEMA_DDL for the typed
    path from the dominant shapes — instead of guessing a schema
    upfront or paying spark.read.json's full inference scan.

    Shape: one explode + schema_of_variant (JVM-side) + one
    partial-aggregable groupBy of (field, vtype) — tiny result
    cardinality regardless of corpus size; the one-row total count
    broadcast-joins back.
    """
    docs = df.filter(F.col(doc_col).isNotNull())
    fields = docs.select(F.explode(doc_col).alias("field", "v")).select(
        "field", F.schema_of_variant("v").alias("vtype"))
    counts = fields.groupBy("field", "vtype").agg(
        F.count(F.lit(1)).alias("n_rows"))
    total = docs.select(F.count(F.lit(1)).alias("_total"))
    return (counts.join(F.broadcast(total))
            .select("field", "vtype", "n_rows",
                    (F.col("n_rows") / F.col("_total")).alias("fraction")))


def drop_corrupt(df: DataFrame, corrupt_col: str = "_corrupt_record") -> DataFrame:
    """Side-drop malformed records (consumer.go:154-159)."""
    return df.filter(F.col(f"decoded.{corrupt_col}").isNull())


def inject_timestamp(df: DataFrame, ts_col: str = "timestamp",
                     out_col: str = "@timestamp") -> DataFrame:
    """Inject `@timestamp` = Kafka message time in epoch MILLIseconds.

    Reference: src/kafka/encode_decode.go:26,64,83-85,96.
    """
    return df.withColumn(out_col, F.unix_millis(F.col(ts_col)))


def embed_key(df: DataFrame, key_col: str = "key",
              out_col: str = "key") -> DataFrame:
    """Embed the (decoded) message key into the payload when configured.

    Reference: src/kafka/encode_decode.go:66-72,98-104; only when
    KAFKA_CONSUMER_INCLUDE_KEY=true and key non-nil.
    """
    return df.withColumn(out_col, F.col(key_col).cast("string"))


def blacklist(df: DataFrame, fields: list[str]) -> DataFrame:
    """Anti-projection: drop configured payload fields; non-existent names
    are ignored (FilterBlacklistedFields drops only matches).

    Reference: src/models/record.go:44-56, applied at codec.go:43.
    """
    return df.drop(*[f for f in fields if f in df.columns])


def field_as_string(df: DataFrame, field: str, out_col: str) -> Column:
    """Extract a field and cast to string — widened from the reference's
    string/int32-only accessor (src/models/record.go:30-42); missing
    column fails at plan time (see _require_columns).
    """
    _require_columns(df, field)
    return F.col(field).cast("string").alias(out_col)


def doc_id_default(partition_col: str = "partition",
                   offset_col: str = "offset") -> Column:
    """Default ES doc id `"{partition}:{offset}"` — stable per Kafka
    coordinate, the idempotence key (src/models/record.go:26-28,
    codec.go:77-90).
    """
    return F.concat_ws(":", F.col(partition_col), F.col(offset_col))


def doc_id_from_column(df: DataFrame, column: str) -> Column:
    """Doc id from a payload column (codec.go:80-88, README.md:34)."""
    return field_as_string(df, column, "doc_id")


def index_time_bucketed(topic_or_index: Column, ts_col: str = "timestamp",
                        prefix: str = "", hourly: bool = False) -> Column:
    """Index name = prefix + (ES_INDEX or topic) + '-' + day|hour bucket.

    Reference: codec.go:50-75; time formats src/models/record.go:18-24
    ("2006-01-02" / "2006-01-02-15"); suffix select config.go:51-57.
    """
    fmt = "yyyy-MM-dd-HH" if hourly else "yyyy-MM-dd"
    return F.concat(
        F.lit(prefix), topic_or_index, F.lit("-"), F.date_format(F.col(ts_col), fmt)
    )


def index_from_column(df: DataFrame, column: str, prefix: str = "") -> Column:
    """Index name routed by a payload column's value (codec.go:61-68)."""
    _require_columns(df, column)
    return F.concat(F.lit(prefix), F.col(column).cast("string"))


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
