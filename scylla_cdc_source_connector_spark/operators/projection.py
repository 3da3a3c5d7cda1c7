"""Envelope projection — builds Kafka-record-shaped output rows from
correlated changes (SURVEY §2.4, P1-P11).  Pure columnar `select`s; the
whole projection is one Catalyst expression tree (no Python).

Reference semantics (advanced format), pinned from
ScyllaChangeRecordEmitter.java:

- emitCreateRecord (:146-196): after = full postimage (null when postimages
  off), before = full preimage (always null for inserts).
- emitUpdateRecord (:199-295): after = only-updated(post) or full(post);
  before = only-updated(pre) or fillBeforeStructForUpdate (:529-575):
  modified columns get OLD values from preimage, unchanged columns from
  postimage, PKs from postimage when included; preimage-as-full when no
  postimage; null when no preimage.
- emitDeleteRecord (:298-356): before = full preimage, after = null.
- fillStructWithOnlyUpdatedColumns (:435-460): non-PK column included iff
  modified AND image value non-null; PKs per placement.
- modified columns (getModifiedColumns :361-398): value non-null in the
  delta OR cdc$deleted_<col> = true.
- key struct from "any image" (post > pre > delta, TaskInfo.getAnyImage
  TaskInfo.java:71-79) — only when 'kafka-key' placement
  (createKeyStruct :127-135).
- headers: 'pk.<col>' stringified values when 'kafka-headers' placement
  (buildPkHeaders :857-883).
- envelope {op, before, after, [key], source, ts_ms}
  (generalizedEnvelope :577-610); source struct
  ScyllaSourceInfoStructMaker.java:13-35 with ts_ms/ts_us = DB time from
  the change's timeuuid, top-level ts_ms = processing time.
- topic = prefix.keyspace.table (ScyllaTopicSelector.java:12-24).
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import (
    EngineConfig,
    IncludeMode,
    PkPlacement,
)
from scylla_cdc_source_connector_spark.operators.change_typing import op_code_expr
from scylla_cdc_source_connector_spark.operators.memo import (
    column_memo,
    plan_settings,
)
from scylla_cdc_source_connector_spark.schemas import (
    DEFAULT_TABLE,
    OP_CODE_CREATE,
    OP_CODE_DELETE,
    TableModel,
)


def _modified(delta: Column, col: str, table: TableModel) -> Column:
    """getModifiedColumns, columnar (ScyllaChangeRecordEmitter.java:361-398).
    Reads the correlated delta's `set_<col>` null-ness FLAG (payload values
    are elided from the delta struct — see correlation.delta_struct_expr).
    A non-frozen collection column is also modified when any of its
    elements was deleted (cdc$deleted_elements_<col>, :391-396)."""
    m = delta[f"set_{col}"] | F.coalesce(
        delta[f"cdc$deleted_{col}"], F.lit(False)
    )
    if col in table.collection_columns():
        m = m | F.coalesce(delta[f"del_elems_{col}"], F.lit(False))
    return m


def _null_pk(c: str, table: TableModel) -> Column:
    return F.lit(None).cast(table.field_type(c))


def _full_image(img: Column, include_pk: bool, table: TableModel) -> Column:
    """fillStructWithFullImage (:473-497): full row; PKs per placement.
    Null struct when the image is null."""
    pk = set(table.pk_columns)
    fields = []
    for c in table.base_columns:
        if c in pk and not include_pk:
            fields.append(_null_pk(c, table).alias(c))
        else:
            fields.append(img[c].alias(c))
    return F.when(img.isNotNull(), F.struct(*fields))


def _only_updated(
    img: Column, delta: Column, include_pk: bool, table: TableModel
) -> Column:
    """fillStructWithOnlyUpdatedColumns (:435-460): modified non-PK columns
    (with the IMAGE's value), PKs per placement."""
    pk = set(table.pk_columns)
    fields = []
    for c in table.base_columns:
        if c in pk:
            fields.append(
                (img[c] if include_pk else _null_pk(c, table)).alias(c)
            )
        else:
            fields.append(F.when(_modified(delta, c, table), img[c]).alias(c))
    return F.when(img.isNotNull(), F.struct(*fields))


def _before_for_update(
    pre: Column, post: Column, delta: Column, include_pk: bool, table: TableModel
) -> Column:
    """fillBeforeStructForUpdate (:529-575): Scylla preimages carry OLD
    values only for modified columns; unchanged columns' old value == new
    value, so they come from the postimage."""
    pk = set(table.pk_columns)
    merged_fields = []
    for c in table.base_columns:
        if c in pk:
            merged_fields.append(
                (post[c] if include_pk else _null_pk(c, table)).alias(c)
            )
        else:
            merged_fields.append(
                F.when(_modified(delta, c, table), pre[c])
                .otherwise(post[c])
                .alias(c)
            )
    return (
        F.when(pre.isNull(), F.lit(None))
        .when(post.isNull(), _full_image(pre, include_pk, table))
        .otherwise(F.struct(*merged_fields))
    )


#: the correlated rows' processing-time column build_envelopes adds
_TS_MS = "__ts_ms"


def build_envelopes(
    correlated: DataFrame,
    cfg: EngineConfig,
    *,
    processing_ts_ms: Column | None = None,
    table: TableModel = DEFAULT_TABLE,
) -> DataFrame:
    """Correlated changes → Kafka-record-shaped envelope rows.

    Input: output of operators.correlation.correlate_batch / the streaming
    correlation operator (clip_id, cdc$time, cdc$time_us, cdc$stream_id,
    generation, pre_image, post_image, delta).

    Output columns: topic, key, value{source, before, after, op, ts_ms},
    headers, plus passthrough partition/ordering columns (cdc$stream_id,
    cdc$time, cdc$time_us, generation, clip_id, batch_seq) for the sink.

    The top-level ts_ms is processing time, `processing_ts_ms` when given
    (the streaming sink passes its batch's one value through
    memo.batch_value).  It enters as a column of the correlated rows, so
    the select list does not depend on it and is built once per settings
    (_envelope).
    """
    if processing_ts_ms is None:
        # top-level ts_ms is processing time; lag = ts_ms - source.ts_ms
        # (README.md:188-194)
        processing_ts_ms = F.unix_millis(F.current_timestamp())
    cols, tombstones = _envelope(
        correlated.sparkSession.sparkContext, plan_settings(cfg), table
    )
    env = correlated.withColumn(_TS_MS, processing_ts_ms).select(*cols)
    if tombstones is not None:
        env = env.select(tombstones).select("r.*")
    return env


@column_memo
def _envelope(
    sc: SparkContext, cfg: EngineConfig, table: TableModel
) -> tuple[tuple[Column, ...], Column | None]:
    """build_envelopes' (select list, tombstone explode or None), built
    once per SparkContext and settings (operators/memo.py)."""
    cfg.validate()
    delta = F.col("delta")
    pre = F.col("pre_image")
    post = F.col("post_image")
    op = op_code_expr(delta["cdc$operation"])

    pk_after = PkPlacement.PAYLOAD_AFTER in cfg.pk_placements
    pk_before = PkPlacement.PAYLOAD_BEFORE in cfg.pk_placements

    # ---- after ------------------------------------------------------------
    if cfg.include_after is IncludeMode.ONLY_UPDATED:
        after_update = _only_updated(post, delta, pk_after, table)
    else:
        after_update = _full_image(post, pk_after, table)
    after = (
        F.when(op == OP_CODE_DELETE, F.lit(None))
        .when(op == OP_CODE_CREATE, _full_image(post, pk_after, table))
        .otherwise(after_update)
        .alias("after")
    )

    # ---- before -----------------------------------------------------------
    if cfg.include_before is IncludeMode.NONE:
        # always-null, typed like the image struct; crucially this variant
        # references NO delta set/deleted flags, so correlate_batch can run
        # with delta_flags=False and Catalyst prunes the payload from the
        # scan (needs_delta_flags)
        before = F.when(F.lit(False), _full_image(pre, pk_before, table)).alias("before")
    else:
        if cfg.include_before is IncludeMode.ONLY_UPDATED:
            before_update = _only_updated(pre, delta, pk_before, table)
        else:
            before_update = _before_for_update(pre, post, delta, pk_before, table)
        before = (
            F.when(op == OP_CODE_CREATE, F.lit(None))
            .when(op == OP_CODE_DELETE, _full_image(pre, pk_before, table))
            .otherwise(before_update)
            .alias("before")
        )

    # ---- key / payload-key / headers (P2/P8) -------------------------------
    # anyImage = post > pre > delta (TaskInfo.getAnyImage, TaskInfo.java:71-79);
    # the delta's pk IS the correlation group key (payload-elided delta
    # carries no base columns).  Key-schema order: partition keys then
    # clustering keys (fillKeyStructFromImage iterates key fields in order).
    any_pk = {
        c: F.coalesce(post[c], pre[c], F.col(f"`{c}`"))
        for c in table.pk_columns
    }
    key_fields = [any_pk[c].alias(c) for c in table.pk_columns]
    key = (
        F.struct(*key_fields)
        if PkPlacement.KAFKA_KEY in cfg.pk_placements
        else F.lit(None).cast(table.key_struct())
    ).alias("key")
    payload_key = (
        F.struct(*key_fields)
        if PkPlacement.PAYLOAD_KEY in cfg.pk_placements
        else None
    )
    headers = (
        F.array(
            *[
                F.struct(
                    F.lit(f"pk.{c}").alias("k"),
                    any_pk[c].cast("string").alias("v"),
                )
                for c in table.pk_columns
            ]
        )
        if PkPlacement.KAFKA_HEADERS in cfg.pk_placements
        else F.lit(None).cast("array<struct<k:string,v:string>>")
    ).alias("headers")

    # ---- source metadata struct (P7) ---------------------------------------
    source = F.struct(
        F.lit(cfg.connector_version).alias("version"),
        F.lit("scylla-cdc-spark").alias("connector"),
        F.lit(cfg.connector_name).alias("name"),
        (F.col("`cdc$time_us`") / 1000).cast("long").alias("ts_ms"),
        F.col("`cdc$time_us`").alias("ts_us"),
        F.lit("false").alias("snapshot"),
        F.lit(cfg.keyspace).alias("db"),
        F.lit(cfg.keyspace).alias("keyspace_name"),
        F.lit(cfg.table).alias("table_name"),
    ).alias("source")

    value_fields = [source, before, after, op.alias("op")]
    if payload_key is not None:
        value_fields.append(payload_key.alias(cfg.payload_key_name))
    value_fields.append(F.col(_TS_MS).cast("long").alias("ts_ms"))

    cols = {
        "topic": F.lit(cfg.topic).alias("topic"),
        "key": key,
        "value": F.struct(*value_fields).alias("value"),
        "headers": headers,
        **{c: F.col(f"`{c}`") for c in table.pk_columns},
        "cdc$stream_id": F.col("`cdc$stream_id`"),
        "cdc$time": F.col("`cdc$time`"),
        "cdc$time_us": F.col("`cdc$time_us`"),
        "generation": F.col("generation"),
        "cdc$batch_seq_no": delta["cdc$batch_seq_no"].alias("cdc$batch_seq_no"),
    }
    tombstones = (
        _tombstone_explode(list(cols)) if cfg.tombstones_on_delete else None
    )
    return tuple(cols.values()), tombstones


def _tombstone_explode(columns: list[str]) -> Column:
    """Debezium `tombstones.on.delete`: after each delete envelope, a
    record with the same topic/key and a NULL value, so log-compacted
    Kafka topics drop the row.  The reference inherits this from the
    Debezium framework; the expected output sequence INSERT(c) →
    DELETE(d) → tombstone is pinned by CdcPerRowTtlDeleteIT.java:103-121.

    Ordering: within a correlation group exactly one envelope is
    emitted, so `cdc$batch_seq_no + 1` places the tombstone directly
    after its delete under the sink's (cdc$time_us, cdc$batch_seq_no)
    per-shard sort.

    Shape: ONE pass — each row explodes into [row] or [row, tombstone].
    (A filter+union would reference the upstream plan twice and run the
    correlation aggregation once per branch; explode keeps a single
    execution of the aggregation, no extra shuffle.)

    Returns the explode Column aliased `r` over envelope columns
    `columns`; select it, then select `r.*`."""

    def _variant(value_expr, seq_expr) -> Column:
        fields = []
        for c in columns:
            if c == "value":
                fields.append(value_expr.alias(c))
            elif c == "cdc$batch_seq_no":
                fields.append(seq_expr.alias(c))
            else:
                fields.append(F.col(f"`{c}`").alias(c))
        return F.struct(*fields)

    seq = F.col("`cdc$batch_seq_no`")
    row = _variant(F.col("value"), seq)
    # always-NULL value typed like the value itself: no schema lookup
    tomb = _variant(F.when(F.lit(False), F.col("value")), seq + 1)
    arr = F.when(
        F.col("value.op") == OP_CODE_DELETE, F.array(row, tomb)
    ).otherwise(F.array(row))
    return F.explode(arr).alias("r")
