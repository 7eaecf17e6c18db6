"""The injector pipeline: Kafka source → decode/enrich/route → ES sink.

This is the Spark-first re-expression of the reference's whole hot path
(SURVEY.md §3.2): what the reference does with goroutines + channels
(consumer.go:100-178) is here ONE declarative plan — the source's
partition-parallelism replaces the worker pool, micro-batch triggers
replace count-based batching, and checkpointing replaces manual offset
marking (consumer.go:163-173 ⇒ at-least-once; the sink's create-only
writes make it effectively-once end to end).

100 TB/day design: a Kafka topic with P partitions yields P parallel
source tasks (minPartitions can oversplit hot partitions); the op chain
is narrow (zero shuffle), so throughput scales linearly with executors
until the ES cluster saturates — exactly the reference's model, minus
its single-pod ceiling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import InjectorConfig
from ..operators import injector as ops


def read_kafka_stream(spark: SparkSession, cfg: InjectorConfig) -> DataFrame:
    """Kafka source (reference consumer.go:73-135). Emits the standard
    (key, value, topic, partition, offset, timestamp) columns.

    Rate control: maxOffsetsPerTrigger caps a micro-batch the way the
    bounded exchange buffer caps in-flight records (consumer.go:68,
    100-113); backpressure is built in. KAFKA_CONSUMER_BUFFER_SIZE maps
    directly when set; the default scales the reference's
    batch×concurrency formula (injector.go:31-34) by 100 because a
    Spark micro-batch amortizes scheduling over far more rows than a
    goroutine flush.
    """
    buffer = (cfg.buffer_size if cfg.buffer_size
              else cfg.batch_size * max(cfg.concurrency, 1) * 100)
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", cfg.kafka_address)
        .option("subscribe", ",".join(cfg.topics))
        .option("kafka.group.id", cfg.consumer_group)
        # Fresh-checkpoint start position (config.starting_offsets);
        # an existing checkpoint owns the offsets and ignores this.
        .option("startingOffsets", cfg.starting_offsets)
        .option("maxOffsetsPerTrigger", buffer)
        .option("minPartitions", max(cfg.concurrency, 1))
        .load()
    )


#: Columns preserved for quarantined records (the raw Kafka envelope).
SOURCE_COLS = ("key", "value", "topic", "partition", "offset", "timestamp")


def _parse_json_key(df: DataFrame, reason: Column
                    ) -> tuple[DataFrame, Column]:
    """Shared json-key validation: parse ONCE into ``_key_var``
    (variant) — both the validity check and the payload embed read it.
    A non-null key must be a JSON OBJECT (Go unmarshals it into a map,
    encode_decode.go:98-104); anything else drops the record as
    bad_key."""
    df = df.withColumn(
        "_key_var", F.try_parse_json(F.col("key").cast("string")))
    key_str = F.col("key").cast("string")
    bad_key = key_str.isNotNull() & (
        F.col("_key_var").isNull()
        | ~F.ltrim(key_str).startswith("{"))
    return df, reason.when(bad_key, F.lit("bad_key"))


def _contains_time(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.TimeType):
        return True
    if isinstance(dtype, T.StructType):
        return any(_contains_time(f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return _contains_time(dtype.elementType)
    if isinstance(dtype, T.MapType):
        return (_contains_time(dtype.keyType)
                or _contains_time(dtype.valueType))
    return False


def _json_safe(col: Column, dtype: T.DataType) -> Column:
    """Make a payload column `to_json`-serializable: Spark 4.1's
    JacksonGenerator has no TIME writer, so a TimeType field (the Avro
    ``time-millis``/``time-micros`` surface, sources/avro_codec.py)
    would crash the whole batch at serialize time. Cast TIME — at any
    nesting depth — to its ISO HH:MM:SS[.ffffff] string; ES has no
    time-of-day type either, so the string IS the faithful JSON form.
    Payloads without TIME fields return the column untouched (identical
    plan to before this guard existed)."""
    if isinstance(dtype, T.TimeType):
        return col.cast("string")
    if not _contains_time(dtype):
        return col
    if isinstance(dtype, T.StructType):
        rebuilt = F.struct(*[
            _json_safe(col[f.name], f.dataType).alias(f.name)
            for f in dtype.fields])
        return F.when(col.isNotNull(), rebuilt)  # keep null structs null
    if isinstance(dtype, T.ArrayType):
        return F.transform(
            col, lambda x: _json_safe(x, dtype.elementType))
    if isinstance(dtype, T.MapType):
        out = col
        if _contains_time(dtype.keyType):
            # a TIME map key would serialize as raw internal nanos;
            # JSON object keys are strings anyway, so ISO-cast it
            out = F.transform_keys(
                out, lambda k, v: _json_safe(k, dtype.keyType))
        if _contains_time(dtype.valueType):
            out = F.transform_values(
                out, lambda k, v: _json_safe(v, dtype.valueType))
        return out
    return col


def _assemble(df: DataFrame, reason: Column, index_name: Column,
              doc_id: Column, payload_json: Column,
              return_drops: bool) -> DataFrame:
    """Shared output contract: (index_name, doc_id, doc_type, payload)
    — routing/payload expressions when()-guarded so raise_error never
    fires on dropped rows; return_drops adds _drop_reason + the raw
    envelope."""
    clean = reason.isNull()
    out_cols = [
        F.when(clean, index_name).alias("index_name"),
        F.when(clean, doc_id).alias("doc_id"),
        F.lit(ops.DOC_TYPE).alias("doc_type"),
        F.when(clean, payload_json).alias("payload"),
    ]
    if return_drops:
        return df.select(
            *out_cols, reason.alias("_drop_reason"),
            *[F.col(c) for c in SOURCE_COLS])
    return df.filter(clean).select(*out_cols)


def build_elastic_records(df: DataFrame, cfg: InjectorConfig,
                          payload_schema: T.StructType | str | None = None,
                          registry=None, reader_schema_id: int | None = None,
                          key_reader_schema_id: int | None = None,
                          return_drops: bool = False,
                          ) -> DataFrame:
    """Compile the config into the decode→enrich→filter→route projection.

    Input: Kafka-shaped DataFrame (key/value binary, topic, partition,
    offset, timestamp). Output: (index_name, doc_id, doc_type, payload) —
    the models.ElasticRecord analog (reference
    src/models/elastic_record.go:3-8) with payload as a JSON string ready
    for the bulk body.

    With `return_drops=True` the undeliverable rows are NOT filtered:
    the output additionally carries `_drop_reason` (null for clean rows)
    plus the raw source columns, so a sink can quarantine drops to a
    dead-letter store in the same pass (the reference only logs-and-
    skips, consumer.go:154-159 — at pipeline scale the drops must be
    auditable). Routing/payload expressions are when()-guarded so they
    never evaluate (and raise_error never fires) on dropped rows.

    Entirely Column expressions — the whole per-record path is one
    whole-stage-codegen stage, the Catalyst analog of the reference's
    per-batch encode loop (codec.go:26-48).
    """
    if isinstance(payload_schema, str):
        payload_schema = T.StructType.fromDDL(payload_schema)

    # Schemaless mode: json records with NO declared payload schema —
    # the reference's default deployment (JsonMessageToRecord decodes
    # into map[string]interface{}, encode_decode.go:87-113, no schema
    # anywhere in its config surface). Decoded as map<string,variant>;
    # the enrich/blacklist/route stages below run on map ops instead of
    # struct fields, with identical semantics.
    if cfg.record_type == "json" and payload_schema is None:
        return _build_elastic_records_schemaless(df, cfg, return_drops)

    # Decode (ops 5-8): nil payload, PERMISSIVE decode, corrupt marking.
    # Instead of filtering stage by stage, each stage contributes to one
    # _drop_reason when-chain; clean rows have reason NULL.
    if cfg.record_type == "json":
        df = ops.decode_json(df, payload_schema, payload_col="value")
        reason = (
            F.when(F.col("value").isNull(), F.lit("null_payload"))
            .when(F.col(f"decoded.{ops.CORRUPT_COL}").isNotNull(),
                  F.lit("corrupt_payload"))
        )
    else:
        # Confluent wire-format Avro: registry-resolved reader schema,
        # per-id codec dispatch, malformed side-drop (sources/confluent.py).
        if registry is None or reader_schema_id is None:
            raise ValueError(
                "avro record_type needs registry + reader_schema_id")
        from ..sources import avro_to_spark_type, decode_confluent

        df = decode_confluent(df, registry, reader_schema_id)
        reason = (
            F.when(F.col("value").isNull(), F.lit("null_payload"))
            .when(F.col("_decode_error").isNotNull(),
                  F.concat(F.lit("decode_error: "), F.col("_decode_error")))
        )
        payload_schema = avro_to_spark_type(
            registry.get_schema(reader_schema_id))

    payload_fields = [f.name for f in payload_schema.fields]

    # Enrich + blacklist (ops 9-11): payload = decoded fields minus
    # blacklist, plus @timestamp (epoch millis) and optionally the key.
    # "@timestamp" is excluded from the passthrough unconditionally, and
    # "key" whenever include_key claims the name: the reference's map
    # ASSIGNMENT overwrites those fields (encode_decode.go:96-104) —
    # keeping them in the struct would emit duplicate JSON keys, which
    # ES rejects with 400.
    dropped = set(cfg.blacklisted_columns) | {"@timestamp"}
    if cfg.include_key:
        dropped.add("key")
    kept = [f for f in payload_fields if f not in dropped]
    field_types = {f.name: f.dataType for f in payload_schema.fields}
    payload_cols: list[Column] = [
        _json_safe(F.col(f"decoded.{f}"), field_types[f]).alias(f)
        for f in kept]
    payload_cols.append(F.unix_millis(F.col("timestamp")).alias("@timestamp"))
    if cfg.include_key:
        # The reference DECODES the key before embedding it, it never
        # ships raw bytes: Avro keys via nativeFromBinary
        # (encode_decode.go:66-72), JSON keys via json.Unmarshal into a
        # map (encode_decode.go:98-104); an undecodable non-null key
        # fails the record. A nil key is fine — the field is omitted.
        if cfg.record_type == "json":
            df, reason = _parse_json_key(df, reason)
            key_field = F.col("_key_var")
            if "key" in payload_fields:
                # Go assigns Json["key"] only for a NON-NIL Kafka key:
                # nil-key records keep the payload's own "key" field.
                # Both sides ride the VARIANT lane so the struct field
                # has one type regardless of the declared payload type.
                key_field = (
                    F.when(F.col("key").isNotNull(), key_field)
                    .otherwise(F.col("decoded.key").cast("variant")))
            payload_cols.append(key_field.alias("key"))
        else:
            if key_reader_schema_id is None:
                raise ValueError(
                    "avro record_type with include_key needs "
                    "key_reader_schema_id (the reference resolves key "
                    "codecs from the registry, encode_decode.go:66-72)")
            from ..sources import decode_confluent as _dc

            df = _dc(df, registry, key_reader_schema_id,
                     payload_col="key", decoded_col="decoded_key",
                     error_col="_key_decode_error")
            reason = reason.when(
                F.col("key").isNotNull()
                & F.col("_key_decode_error").isNotNull(),
                F.concat(F.lit("bad_key: "), F.col("_key_decode_error")))
            # Avro + a payload field literally named "key": the embedded
            # key OWNS the name (to_json omits it on nil-key records).
            # Documented divergence: the reference would keep the
            # payload's field for nil-key records, but mixing the two
            # requires one struct type and the payload field's type is
            # arbitrary — a duplicate JSON key would be strictly worse.
            # The key struct needs the same TIME→string JSON guard as
            # the payload fields (a time-millis field in the KEY schema
            # would otherwise crash to_json for the whole batch).
            key_type = avro_to_spark_type(
                registry.get_schema(key_reader_schema_id))
            payload_cols.append(
                _json_safe(F.col("decoded_key"), key_type).alias("key"))

    # Routing (ops 12-17). Missing routing columns fail HERE, at plan
    # time (the reference failed per-batch at runtime, record.go:30-42).
    for routing_col in (cfg.es_index_column, cfg.es_doc_id_column):
        if routing_col and routing_col not in payload_fields:
            raise ValueError(
                f"routing column {routing_col!r} not in payload schema "
                f"{payload_fields}")

    index_name, doc_id = ops.routing(
        cfg, lambda name: F.col(f"decoded.{name}").cast("string"))
    return _assemble(df, reason, index_name, doc_id,
                     F.to_json(F.struct(*payload_cols)), return_drops)


def _build_elastic_records_schemaless(df: DataFrame, cfg: InjectorConfig,
                                      return_drops: bool = False) -> DataFrame:
    """Schemaless json variant of build_elastic_records (same output
    contract): decode to map<string,variant>, inject @timestamp/key,
    drop blacklisted fields, route, serialize.

    Reference parity (encode_decode.go:87-113 + codec.go):

    - any top-level JSON OBJECT is accepted; arrays/scalars/garbage are
      corrupt (Go unmarshal-into-map fails on them);
    - ``@timestamp`` is an unconditional map ASSIGNMENT (overwrites a
      payload field of that name) — here: filter-then-concat, because
      Spark's map_concat rejects duplicate keys under the default
      EXCEPTION dedup policy;
    - with include_key, ``key`` is assigned ONLY when the Kafka key is
      non-nil (encode_decode.go:98-104) — a payload field named "key"
      survives a nil-key record, so its removal is per-row conditional;
    - routing columns are looked up AT RUNTIME (no schema to check at
      plan time); a missing-or-null routing value fails the batch, the
      analog of record.go:30-42 erroring per record. try_element_at
      (not element_at) because ANSI mode raises on absent map keys and
      we want the curated raise_error message, not MAP_KEY_DOES_NOT_EXIST.

    All map/variant expressions are JVM-side Catalyst ops — the
    schemaless path costs one from_json per record, same as the typed
    path, and stays in whole-stage codegen.
    """
    df = ops.decode_json_schemaless(df, payload_col="value",
                                    decoded_col="_decoded_map")
    reason = (
        F.when(F.col("value").isNull(), F.lit("null_payload"))
        .when(F.col("_decoded_map").isNull(), F.lit("corrupt_payload"))
    )

    # Blacklist + reserved-field removal. "@timestamp" is always
    # re-injected; "key" is removed only when our key will overwrite it
    # (include_key and a non-nil Kafka key) — hence the row-dependent
    # lambda condition.
    drop_keys = [*cfg.blacklisted_columns, "@timestamp"]
    if cfg.include_key:
        def _keep(k, v):
            return ~k.isin(*drop_keys) & ~(
                (k == "key") & F.col("key").isNotNull())
    else:
        def _keep(k, v):
            return ~k.isin(*drop_keys)
    payload_map = F.map_concat(
        F.map_filter(F.col("_decoded_map"), _keep),
        F.create_map(
            F.lit("@timestamp"),
            F.parse_json(F.unix_millis(F.col("timestamp")).cast("string"))),
    )
    if cfg.include_key:
        df, reason = _parse_json_key(df, reason)
        payload_map = F.map_concat(
            payload_map,
            F.when(F.col("key").isNotNull(),
                   F.create_map(F.lit("key"), F.col("_key_var")))
            .otherwise(F.create_map().cast("map<string,variant>")))

    def _field_str(name: str) -> Column:
        # Runtime field lookup, string-cast like record.go:30-42's
        # GetValueForField (absent key and JSON null both → NULL).
        return F.try_variant_get(
            F.try_element_at(F.col("_decoded_map"), F.lit(name)),
            "$", "string")

    index_name, doc_id = ops.routing(cfg, _field_str)
    return _assemble(df, reason, index_name, doc_id,
                     F.to_json(payload_map), return_drops)


def start_pipeline(spark: SparkSession, cfg: InjectorConfig,
                   payload_schema: T.StructType | str | None,
                   transport_factory, checkpoint_dir: str,
                   source_df: DataFrame | None = None,
                   trigger_seconds: float = 1.0,
                   available_now: bool = False,
                   registry=None, reader_schema_id: int | None = None,
                   key_reader_schema_id: int | None = None,
                   metrics=None, dead_letter_dir: str | None = None):
    """Wire source → transform → ES sink and start.

    `transport_factory` is a picklable zero-arg callable building the
    bulk transport on each EXECUTOR (HttpTransport for ES, including
    the tests' in-process fake ES; NullTransport for engine-only
    throughput runs). `source_df` overrides the Kafka source for
    offline runs (memory/rate/file sources in tests). With
    `dead_letter_dir` set, records that fail decode are appended there
    as parquet (raw Kafka envelope + `_drop_reason`) instead of being
    dropped.

    The sink is part of the streaming plan: the bulk writer
    (`mapInArrow` over index_name/doc_id/payload, one counters row per
    task) is planned once per micro-batch with the rest of the query,
    and `foreachBatch` only collects the counters rows and folds them
    into `metrics`. That collect is the batch's ONE action: the writer
    node has a side effect, so a second action over the same batch
    would send every bulk again. Dead-letter mode cannot split one
    planned batch into two outputs, so there `foreachBatch` persists
    the batch, writes the quarantine, and runs the same bulk writer
    over the clean rows.

    Checkpointing commits offsets only after the batch's sink call
    returns — the reference's mark-after-write loop (consumer.go:163-173)
    for free. The offset and commit logs are written through Spark's
    `FileSystemBasedCheckpointFileManager` (set on the session just
    before `start()`): the default FileContext manager goes through
    Hadoop's RawLocalFileSystem, which, without the native Hadoop
    library pip PySpark lacks, forks `chmod` on every file create and
    `readlink` on every rename — several processes per micro-batch on
    the driver's critical path. The FileSystem manager keeps the same
    guarantees for this query: the metadata logs still write each entry
    to a temp file and rename it with `overwriteIfPossible=false`, the
    service keeps no state store, and the checkpoint files are the same,
    so a checkpoint written under either manager resumes under the
    other.
    """
    from .es_sink import STATS_SCHEMA, write_arrow_factory

    src = source_df if source_df is not None else read_kafka_stream(spark, cfg)
    records = build_elastic_records(
        src, cfg, payload_schema,
        registry=registry, reader_schema_id=reader_schema_id,
        key_reader_schema_id=key_reader_schema_id,
        return_drops=dead_letter_dir is not None)
    if metrics is not None:
        # metrics is an InjectorMetrics: the progress listener feeds
        # rows/lag/latency, fold() adds the sink triage counts.
        spark.streams.addListener(metrics.listener)
    writer = write_arrow_factory(cfg, transport_factory)

    def bulk(df: DataFrame) -> DataFrame:
        # Executor-side bulk writes over Arrow batches (no per-row
        # pickle, no Row objects); ONE counters row per task comes
        # out — never record data.
        return (df.select("index_name", "doc_id", "payload")
                .mapInArrow(writer, STATS_SCHEMA))

    def fold(rows) -> None:
        # Metrics fold in HERE, on the driver, from collected rows:
        # collect() deduplicates task retries, where an executor-side
        # update inside a transformation would double-count.
        if metrics is not None:
            metrics.add_sink_rows(rows)

    if dead_letter_dir is None:
        planned = bulk(records)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            fold(batch_df.collect())
    else:
        planned = records

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # One shared batch feeds both outputs. The quarantine keeps
            # the raw Kafka envelope + reason as parquet (auditable);
            # clean rows go to the bulk writer.
            batch_df.persist()
            try:
                (batch_df.filter(F.col("_drop_reason").isNotNull())
                 .select(*SOURCE_COLS, "_drop_reason")
                 .write.mode("append").parquet(dead_letter_dir))
                fold(bulk(batch_df.filter(F.col("_drop_reason").isNull()))
                     .collect())
            finally:
                batch_df.unpersist()

    stream = (
        planned.writeStream
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        # Drain-everything-then-stop: bounded runs (backfills, benchmarks)
        # still go through real micro-batch execution + checkpointing.
        stream = stream.trigger(availableNow=True)
    else:
        stream = stream.trigger(processingTime=f"{trigger_seconds} seconds")
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
                   "org.apache.spark.sql.execution.streaming.checkpointing."
                   "FileSystemBasedCheckpointFileManager")
    return stream.start()
