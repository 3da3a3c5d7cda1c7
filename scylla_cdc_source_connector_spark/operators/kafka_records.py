"""Kafka wire-record serialization of envelope rows.

The engine's envelopes are Kafka-record-SHAPED (topic, key struct, value
struct, headers — north_rule); the reference hands the equivalent
SourceRecords to Kafka Connect, whose converter serializes key/value to
JSON or Avro(+Schema Registry) bytes before the producer writes them
(README.md:613-750 shows both outputs).  This module is that converter:
it turns envelope rows into the exact column contract of Spark's Kafka
sink — `topic: string, key: binary, value: binary, headers:
array<struct<key:string, value:binary>>` — so the production emit is
literally

    kafka_records(env, fmt=...).write.format("kafka")
        .option("kafka.bootstrap.servers", ...).option("topic", ...)

(or writeStream; the Kafka sink reads those column names).  No Kafka
broker or kafka-sql jar ships in this container, so tests pin the column
contract + byte round-trips instead of a broker integration.

fmt="json": pure-JVM `to_json` (whole-stage codegen, zero Python).
fmt="avro": the pure-Python spec encoder (functions/avro.py) with
optional Confluent Schema-Registry wire framing — the analog of the
reference's Avro converter ITs (ScyllaTypesAllAvroConnectorIT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the Spark Kafka sink's expected columns (spark-kafka-sql contract)
KAFKA_SINK_COLUMNS = ("topic", "key", "value", "headers")


def scrub_value_text_fields(
    env: DataFrame,
    fields: tuple[str, ...] = ("after.transcript", "before.transcript"),
) -> DataFrame:
    """Pre-serialization SMT: PII-redact text fields inside the envelope
    value struct (functions/text.PII_PATTERNS, same cascade order), e.g.
    transcripts, before they reach any wire format.  Connect does this
    with a masking SMT between the SourceRecord and the converter; here
    it is a pure-codegen column rewrite (`withField` in place — NULL
    images/fields pass through untouched).  Paths are `image.field`
    within `value`; missing images/fields are skipped, so the same
    scrubber works under any include_before/include_after mode."""
    from scylla_cdc_source_connector_spark.functions.text import PII_PATTERNS

    value_fields = {f.name: f.dataType for f in env.schema["value"].dataType}
    value = F.col("value")
    for path in fields:
        img, fld = path.split(".", 1)
        dt = value_fields.get(img)
        if dt is None or not hasattr(dt, "fieldNames") or fld not in dt.fieldNames():
            continue
        red = F.col(f"value.{img}.{fld}")
        for _, pat, placeholder in PII_PATTERNS:
            red = F.regexp_replace(red, pat, placeholder)
        value = value.withField(img, value[img].withField(fld, red))
    return env.withColumn("value", value)




# ---------------------------------------------------------------------------
# Connect JsonConverter schemas.enable envelope
# ---------------------------------------------------------------------------


def connect_schema_json(dt, *, optional: bool = False, name: str | None = None):
    """Kafka Connect JSON schema (the `schema` half of JsonConverter's
    schemas.enable=true envelope) for a Spark type — the exact structure
    `org.apache.kafka.connect.json.JsonConverter.asJsonSchema` emits:
    primitive `type` strings (int8..int64/float/double/boolean/string/
    bytes), `array`(items)/`map`(keys,values)/`struct`(fields[{field,
    ...}]), per-field `optional` from Spark nullability, and the Connect
    logical names for temporals (Timestamp as int64 epoch-millis, Date
    as int32 epoch-days).  Returned as a plain dict; kafka_records embeds
    it as ONE driver-side json literal per DataFrame."""
    from pyspark.sql import types as T

    prim = {
        T.ByteType: "int8",
        T.ShortType: "int16",
        T.IntegerType: "int32",
        T.LongType: "int64",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.BooleanType: "boolean",
        T.StringType: "string",
        T.BinaryType: "bytes",
    }
    out: dict = {}
    if isinstance(dt, T.StructType):
        out = {
            "type": "struct",
            "fields": [
                {
                    "field": f.name,
                    **connect_schema_json(f.dataType, optional=f.nullable),
                }
                for f in dt.fields
            ],
        }
        if name:
            out["name"] = name
    elif isinstance(dt, T.ArrayType):
        out = {
            "type": "array",
            "items": connect_schema_json(
                dt.elementType, optional=dt.containsNull
            ),
        }
    elif isinstance(dt, T.MapType):
        out = {
            "type": "map",
            "keys": connect_schema_json(dt.keyType),
            "values": connect_schema_json(
                dt.valueType, optional=dt.valueContainsNull
            ),
        }
    elif isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        out = {
            "type": "int64",
            "name": "org.apache.kafka.connect.data.Timestamp",
            "version": 1,
        }
    elif isinstance(dt, T.DateType):
        out = {
            "type": "int32",
            "name": "org.apache.kafka.connect.data.Date",
            "version": 1,
        }
    elif type(dt) in prim:
        out = {"type": prim[type(dt)]}
    elif isinstance(dt, T.DecimalType):
        out = {
            "type": "bytes",
            "name": "org.apache.kafka.connect.data.Decimal",
            "version": 1,
            "parameters": {"scale": str(dt.scale)},
        }
    else:
        raise ValueError(f"no Connect JSON schema mapping for {dt!r}")
    out["optional"] = bool(optional)
    return out


def _connectify(col, dt):
    """Rewrite temporal leaves to Connect's wire representation BEFORE
    to_json: Timestamp -> int64 epoch millis, Date -> int32 epoch days
    (JsonConverter payload values for the logical types above).  Pure
    column expressions, recursing through struct/array/map."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        if not any(_has_temporal(f.dataType) for f in dt.fields):
            return col
        rebuilt = F.struct(
            *[
                _connectify(col[f.name], f.dataType).alias(f.name)
                for f in dt.fields
            ]
        )
        return F.when(col.isNotNull(), rebuilt)
    if isinstance(dt, T.ArrayType):
        if not _has_temporal(dt.elementType):
            return col
        return F.transform(col, lambda e: _connectify(e, dt.elementType))
    if isinstance(dt, T.MapType):
        if not _has_temporal(dt.valueType):
            return col
        return F.map_from_arrays(
            F.map_keys(col),
            F.transform(
                F.map_values(col), lambda v: _connectify(v, dt.valueType)
            ),
        )
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_millis(col)
    if isinstance(dt, T.DateType):
        return F.datediff(col, F.lit("1970-01-01").cast("date"))
    return col


def _has_temporal(dt) -> bool:
    from pyspark.sql import types as T

    if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        return True
    if isinstance(dt, T.StructType):
        return any(_has_temporal(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _has_temporal(dt.elementType)
    if isinstance(dt, T.MapType):
        return _has_temporal(dt.keyType) or _has_temporal(dt.valueType)
    return False


def _schemas_enable_json(col, dt, *, schema_name: str | None):
    """`{"schema": <constant>, "payload": <to_json(value)>}` — the
    JsonConverter schemas.enable=true wire format.  The schema half is
    ONE driver-side literal (it is a function of the DataFrame schema,
    not of any row); the payload rides the same whole-stage-codegen
    to_json as the plain format, so enabling schemas costs one concat."""
    import json as _json

    schema_lit = F.lit(
        _json.dumps(
            connect_schema_json(dt, name=schema_name), separators=(",", ":")
        )
    )
    payload = F.to_json(_connectify(col, dt))
    return F.concat(
        F.lit('{"schema":'),
        schema_lit,
        F.lit(',"payload":'),
        payload,
        F.lit("}"),
    )


def kafka_records(
    env: DataFrame,
    *,
    fmt: str = "json",
    schemas_enable: bool = False,
    schema_name: str | None = None,
    key_schema_id: int | None = None,
    value_schema_id: int | None = None,
    extra_cols: tuple[str, ...] = (),
    pre_serialize=None,
) -> DataFrame:
    """Envelope rows → Kafka-sink-ready rows (KAFKA_SINK_COLUMNS plus the
    cdc$stream_id passthrough, kept so a custom partitioner / sorted
    write can preserve per-shard ordering like the sink's ordered emit).

    Null key structs (kafka-key placement off) serialize to null key
    bytes — a valid Kafka record (log-compaction semantics simply don't
    apply), matching the Connect converter.

    schemas_enable=True (fmt="json") wraps key and value in Connect
    JsonConverter's DEFAULT wire format — {"schema": <connect schema>,
    "payload": <row json>} with Connect type names, per-field optional
    flags from Spark nullability, and epoch-number temporals — the shape
    the reference's plain-JSON ITs assert (README.md:613-750 output
    samples, ScyllaTypesAllPlainConnectorIT).  The schema half is one
    driver-side literal; `schema_name` stamps Debezium-style
    `<prefix>.Key` / `<prefix>.Envelope` names."""
    if fmt not in ("json", "avro"):
        raise ValueError(f"unknown kafka record format: {fmt!r}")
    if pre_serialize is not None:
        env = pre_serialize(env)
    key_dt = env.schema["key"].dataType
    value_dt = env.schema["value"].dataType
    if fmt == "json":
        if schemas_enable:
            # Connect JsonConverter's DEFAULT wire format (the shape the
            # reference's plain-JSON ITs assert, ScyllaTypesAllPlain
            # ConnectorIT): {"schema": <connect schema>, "payload": ...}
            key_bytes = F.when(
                F.col("key").isNotNull(),
                F.encode(
                    _schemas_enable_json(
                        F.col("key"),
                        key_dt,
                        schema_name=(
                            f"{schema_name}.Key" if schema_name else None
                        ),
                    ),
                    "utf-8",
                ),
            )
            value_bytes = F.encode(
                _schemas_enable_json(
                    F.col("value"),
                    value_dt,
                    schema_name=(
                        f"{schema_name}.Envelope" if schema_name else None
                    ),
                ),
                "utf-8",
            )
        else:
            key_bytes = F.when(
                F.col("key").isNotNull(), F.encode(F.to_json("key"), "utf-8")
            )
            value_bytes = F.encode(F.to_json("value"), "utf-8")
    else:
        from scylla_cdc_source_connector_spark.functions.avro import (
            to_avro_udf,
        )

        key_enc = to_avro_udf(key_dt, schema_id=key_schema_id)
        value_enc = to_avro_udf(value_dt, schema_id=value_schema_id)
        key_bytes = F.when(F.col("key").isNotNull(), key_enc(F.col("key")))
        value_bytes = value_enc(F.col("value"))
    headers = F.when(
        F.col("headers").isNotNull(),
        F.transform(
            F.col("headers"),
            lambda h: F.struct(
                h["k"].alias("key"), F.encode(h["v"], "utf-8").alias("value")
            ),
        ),
    )
    return env.select(
        "topic",
        key_bytes.alias("key"),
        value_bytes.alias("value"),
        headers.alias("headers"),
        F.col("`cdc$stream_id`"),
        F.col("`cdc$time_us`"),
        F.col("`cdc$batch_seq_no`"),
        *[F.col(f"`{c}`") for c in extra_cols],
    )


def records_path(cfg, batch_id: int) -> str:
    import os

    return os.path.join(cfg.output_dir, "_records", f"batch_id={batch_id}")


def maintain_kafka_records(
    spark,
    cfg,
    *,
    fmt: str = "json",
    key_schema_id: int | None = None,
    value_schema_id: int | None = None,
    registry=None,
    topic: str | None = None,
    strict: bool = False,
    pre_serialize=None,
) -> int:
    """Exactly-once Kafka-record emission: serialize every committed-but-
    unconverted envelope batch to wire records under
    `output_dir/_records/batch_id=N` on the one progress protocol
    (streaming/increment.py) — only committed batches are consumed,
    record dirs are idempotent overwrites keyed by the SINK batch id, and
    `_applied` markers commit progress afterwards, so a crash anywhere
    re-converges.  Returns records written this pass.

    Catch-up is ONE Spark job regardless of backlog size (the reference
    converts a whole poll batch at once, ScyllaConnectorTask.java:216-219):
    all unconverted batch dirs are read with `basePath` so `batch_id`
    surfaces as a partition column, and the converted records are written
    back in one dynamic-partition overwrite of exactly those batch_id
    partitions — never a per-batch driver round-trip.

    A committed batch whose output dir is GONE but whose lineage says
    n_records > 0 was expired (expire_emitted) before conversion caught
    up: it is counted, warned about, and recorded in its `_applied`
    marker as expired — never silently treated as an empty heartbeat.
    Pass strict=True to raise instead (use expire_emitted's
    keep_min_applied guard to prevent the situation entirely).

    This is the converter stage Kafka Connect runs between the
    SourceRecord and the producer; with a broker present the same
    DataFrame goes to `.write.format("kafka")` instead of parquet — the
    column contract is identical (KAFKA_SINK_COLUMNS), and per-shard
    ordering is preserved by clustering each batch on its shard id and
    sorting within partitions like the sink's ordered emit.

    `registry` (a functions.schema_registry.SchemaRegistryClient, fmt=
    "avro" only): the envelope's key/value Avro schemas are registered
    under TopicNameStrategy subjects and the RESOLVED ids frame every
    record (Confluent wire format), exactly the reference's Avro
    converter flow (SchemaRegistryUtils.java:55-57).  Registration runs
    once per pass on the driver; an envelope schema evolution that is
    not BACKWARD-compatible with the subject's latest version fails the
    whole pass with the registry's 409 — records of an incompatible
    schema are never emitted (the Connect behavior).  `topic` overrides
    the subject topic; by default it is taken from the envelopes' own
    `topic` column (single-topic streams)."""
    import os

    from scylla_cdc_source_connector_spark.streaming import increment
    from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

    target = os.path.join(cfg.output_dir, "_records")
    with_data = increment.unapplied_batches(
        cfg, target, name="records", strict=strict
    )
    if not with_data:
        return 0

    env = spark.read.option("basePath", cfg.output_dir).parquet(
        *[sink_mod.batch_output_path(cfg, bid) for bid in with_data]
    )
    if registry is not None:
        if fmt != "avro":
            raise ValueError("schema-registry ids apply to fmt='avro' only")
        from scylla_cdc_source_connector_spark.functions.schema_registry import (
            resolve_schema_ids,
        )

        t = topic
        if t is None:
            row = env.select("topic").first()
            t = row["topic"] if row is not None else cfg.connector_name
        ids = resolve_schema_ids(registry, t, env)
        key_schema_id = ids["key_schema_id"]
        value_schema_id = ids["value_schema_id"]
    rec = kafka_records(
        env,
        fmt=fmt,
        key_schema_id=key_schema_id,
        value_schema_id=value_schema_id,
        extra_cols=("batch_id",),
        pre_serialize=pre_serialize,
    )
    (
        rec.repartition("batch_id", "`cdc$stream_id`")
        .sortWithinPartitions(
            "batch_id", "`cdc$stream_id`", "`cdc$time_us`", "`cdc$batch_seq_no`"
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .option("compression", cfg.output_compression)
        .parquet(target)
    )

    # per-batch applied counts in ONE distributed job over the converted
    # output (batch_id is the partition column, so this is a pruned
    # metadata-cheap count) — never a per-batch driver footer walk, which
    # with a 10^4-batch backlog would serialize the driver after the
    # one-job conversion above
    counts = {
        r["batch_id"]: r["n"]
        for r in (
            spark.read.option("basePath", target)
            .parquet(*[records_path(cfg, bid) for bid in with_data])
            .groupBy("batch_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    n_total = 0
    for bid in with_data:
        n = int(counts.get(bid, 0))
        increment.mark_applied(target, [bid], n)
        n_total += n
    return n_total


def read_kafka_records(spark, cfg):
    """All committed wire records (only batches whose conversion was
    marked applied — exactly-once like the emit stream)."""
    import os

    from scylla_cdc_source_connector_spark.streaming.increment import (
        applied_batch_ids,
    )

    target = os.path.join(cfg.output_dir, "_records")
    paths = [
        records_path(cfg, bid)
        for bid in applied_batch_ids(target)
        if os.path.isdir(records_path(cfg, bid))
    ]
    if not paths:
        return spark.createDataFrame(
            [],
            "topic string, key binary, value binary, "
            "headers array<struct<key:string,value:binary>>, "
            "`cdc$stream_id` string, `cdc$time_us` long, "
            "`cdc$batch_seq_no` int",
        )
    return spark.read.parquet(*paths)


def heartbeat_kafka_records(spark, cfg) -> DataFrame:
    """The engine's heartbeat records (streaming/sink.py `_heartbeat`
    dirs) as wire-ready Kafka rows on Debezium's heartbeat topic —
    `__debezium-heartbeat.<topic.prefix>` with the server name as the
    JSON key and a `{ts_ms}` value (io.debezium.heartbeat.Heartbeat's
    record shape; the reference inherits `heartbeat.interval.ms` from
    Debezium, `ScyllaConnectorConfig.java:350-363`).  Extra progress
    metadata (shard, generation, window_end_us, batch_id) rides Kafka
    headers so a monitoring consumer needs no payload parse.  Pure
    projection over the heartbeat parquet — zero exchange; same
    at-least-once delivery class as Debezium's heartbeat topic."""
    from scylla_cdc_source_connector_spark.streaming.sink import (
        read_heartbeats,
    )

    hb = read_heartbeats(spark, cfg)
    server = cfg.topic_prefix
    key_json = F.to_json(F.struct(F.lit(server).alias("serverName")))
    value_json = F.to_json(
        F.struct(F.col("committed_at_ms").alias("ts_ms"))
    )
    headers = F.array(
        *[
            F.struct(
                F.lit(name).alias("key"),
                F.encode(F.col(src).cast("string"), "utf-8").alias("value"),
            )
            for name, src in (
                ("shard_id", "shard_id"),
                ("generation", "generation"),
                ("window_end_us", "window_end_us"),
                ("batch_id", "batch_id"),
                ("n_records", "n_records"),
            )
        ]
    )
    return hb.select(
        F.lit(f"__debezium-heartbeat.{server}").alias("topic"),
        F.encode(key_json, "utf-8").alias("key"),
        F.encode(value_json, "utf-8").alias("value"),
        headers.alias("headers"),
    )


def changelog_kafka_envelopes(
    cl: DataFrame,
    key_columns: list[str],
    *,
    topic: str = "iceberg.changelog",
    source_table: str = "iceberg",
) -> DataFrame:
    """Debezium for ANY Iceberg table: turn `read_changelog(...,
    identifier_columns=key_columns)` rows into engine-envelope-shaped
    rows that `kafka_records()` serializes to wire records — so a table
    the engine did NOT produce (or its own latest-state mirror) can feed
    downstream Kafka consumers in the exact shape the reference connector
    emits.

    Pairing rule (requires the changelog to have been computed WITH
    update pairing): within one (key, commit ordinal) group the
    UPDATE_BEFORE row becomes `value.before`, the UPDATE_AFTER row
    `value.after` (op 'u'); a lone INSERT is op 'c' (after only), a lone
    DELETE op 'd' (before only).  `value.source` carries the table name
    plus snapshot/sequence provenance; `cdc$time_us` derives from the
    commit timestamp and `cdc$batch_seq_no` from the commit SEQUENCE
    (stable across maintenance passes, monotone under timestamp ties), so
    the records keep a replayable total order per key.  The pairing
    precondition is enforced in-plan (raise_error on multiple rows per
    (key, commit)).  ONE hash-agg exchange on (key, ordinal)."""
    prov = (
        "_change_ordinal",
        "_commit_snapshot_id",
        "_sequence_number",
        "_commit_timestamp_ms",
    )
    missing = [c for c in (*key_columns, "_change_type", *prov) if c not in cl.columns]
    if missing:
        raise ValueError(
            f"not a changelog DataFrame (missing {missing}); produce the "
            "input with read_changelog(..., identifier_columns=...)"
        )
    data_cols = [c for c in cl.columns if c not in ("_change_type", *prov)]
    row = F.struct(*[F.col(f"`{c}`") for c in data_cols])
    is_before = F.col("_change_type").isin("DELETE", "UPDATE_BEFORE")
    is_after = F.col("_change_type").isin("INSERT", "UPDATE_AFTER")
    g = (
        cl.groupBy(
            *[F.col(f"`{c}`").alias(f"__k_{i}") for i, c in enumerate(key_columns)],
            "_change_ordinal",
        )
        .agg(
            F.max(F.when(is_before, row)).alias("before"),
            F.max(F.when(is_after, row)).alias("after"),
            F.count(F.when(is_before, 1)).alias("__nb"),
            F.count(F.when(is_after, 1)).alias("__na"),
            F.first("_commit_snapshot_id").alias("__snap"),
            F.first("_sequence_number").alias("__seq"),
            F.first("_commit_timestamp_ms").alias("__ts_ms"),
        )
    )
    # the pairing precondition is ENFORCED in-plan: a paired changelog has
    # at most one before-row and one after-row per (key, commit); more
    # means the caller skipped identifier_columns — raising beats
    # silently collapsing rows into wrong wire records
    op = (
        F.when(
            (F.col("__nb") > 1) | (F.col("__na") > 1),
            F.raise_error(
                F.lit(
                    "unpaired changelog: multiple rows per (key, commit) — "
                    "produce the input with read_changelog(..., "
                    "identifier_columns=...)"
                )
            ),
        )
        .when(F.col("before").isNotNull() & F.col("after").isNotNull(), "u")
        .when(F.col("after").isNotNull(), "c")
        .otherwise("d")
    )
    key_struct = F.struct(
        *[
            F.col(f"__k_{i}").alias(c)
            for i, c in enumerate(key_columns)
        ]
    )
    value = F.struct(
        F.struct(
            F.lit(source_table).alias("table"),
            F.col("__snap").alias("snapshot_id"),
            F.col("__seq").alias("sequence_number"),
        ).alias("source"),
        F.col("before"),
        F.col("after"),
        op.alias("op"),
        F.col("__ts_ms").alias("ts_ms"),
    )
    return g.select(
        F.lit(topic).alias("topic"),
        key_struct.alias("key"),
        value.alias("value"),
        F.lit(None)
        .cast("array<struct<k:string,v:string>>")
        .alias("headers"),
        F.hex(
            F.xxhash64(*[F.col(f"__k_{i}") for i in range(len(key_columns))])
        ).alias("cdc$stream_id"),
        (F.col("__ts_ms") * 1000).alias("cdc$time_us"),
        # the COMMIT SEQUENCE, not the per-call ordinal: stable across
        # maintenance passes and monotone even when commit timestamps tie,
        # so (cdc$time_us, cdc$batch_seq_no) really is a replayable
        # per-key order.  The column is an int: a sequence past 2^31 - 1
        # raises in-plan instead of wrapping silently
        F.when(
            F.col("__seq") > 2147483647,
            F.raise_error(
                F.lit(
                    "commit sequence number exceeds the int range of "
                    "cdc$batch_seq_no"
                )
            ),
        )
        .otherwise(F.col("__seq"))
        .cast("int")
        .alias("cdc$batch_seq_no"),
    )


def maintain_changelog_records(
    spark,
    table_location: str,
    records_dir: str,
    key_columns: list[str],
    *,
    topic: str = "iceberg.changelog",
    source_table: str | None = None,
    fmt: str = "json",
    schemas_enable: bool = False,
    partition_ranges: dict | None = None,
) -> dict:
    """Turnkey Debezium-for-Iceberg, incremental: each pass converts the
    table snapshots committed since the stored high-water mark into wire
    records under `records_dir/batch=<snapshot>/` EXACTLY-ONCE — the
    changelog-feed protocol (idempotent per-batch-dir dynamic-partition
    overwrite, hwm committed last via atomic rename) applied to the
    `read_changelog → changelog_kafka_envelopes → kafka_records` chain,
    so a cron-shaped consumer gets resumable Debezium-enveloped records
    from ANY Iceberg table with one call.  A production emit is then
    `spark.read.parquet(records_dir).write.format("kafka")`.

    Returns {"consumed": [snapshot ids], "records": n, "hwm": id}."""
    import os as _os

    from scylla_cdc_source_connector_spark.sources import iceberg_meta as im

    def build(last, head):
        cl = im.read_changelog(
            spark,
            table_location,
            after_snapshot_id=last,
            to_snapshot_id=head,
            identifier_columns=list(key_columns),
            partition_ranges=partition_ranges,
        )
        env = changelog_kafka_envelopes(
            cl,
            list(key_columns),
            topic=topic,
            source_table=source_table
            or _os.path.basename(_os.path.normpath(table_location)),
        ).withColumn("batch", F.col("value.source.snapshot_id"))
        return kafka_records(
            env, fmt=fmt, schemas_enable=schemas_enable, extra_cols=("batch",)
        )

    res = im.materialize_increment(
        spark,
        table_location,
        records_dir,
        "_records_state.json",
        {
            "key_columns": list(key_columns),
            "scope": sorted(partition_ranges.items())
            if partition_ranges
            else None,
            "fmt": fmt,
            "topic": topic,
            "schemas_enable": bool(schemas_enable),
            "source_table": source_table,
        },
        build,
    )
    return {
        "consumed": res["consumed"],
        "records": res["rows"],
        "hwm": res["hwm"],
    }
