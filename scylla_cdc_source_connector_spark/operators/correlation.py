"""Pre/delta/post image correlation — the engine's core stateful "join"
(SURVEY §2.2, C1-C5).

The reference accumulates a per-RowKey TaskInfo until complete
(ScyllaChangesConsumer.java:187-249; completion predicate TaskInfo.java:
Basic :108-154, Before :170-260, After :275-340, BeforeAfter :357-458).
In Scylla's CDC log the images accompanying a delta share its cdc$time
(same write), so correlation is keyed by (clip_id, cdc$time) — the Spark-
native equivalent of RowKey.java:48-58 (TaskId + PK values).

`correlate_batch` is the one correlator: a single hash aggregation (ONE
shuffle on the correlation key, map-side partial agg, whole-stage
codegen; no Python).  `max(when(op==X, struct(...)))` collapses the
type-grouped batch ordering ([pre,pre,delta,delta,post,post] —
CdcBatchPreimageMisalignmentIT.java:21-98) because grouping is by key,
not arrival order; exact duplicates collapse for free.

The batch pipeline runs it once over the whole changelog.  The streaming
sink (streaming/sink.py make_correlating_sink) runs it once per
micro-batch: cross-batch waits ride a pending-state table with the 15 s
incomplete-task timeout (C4, ScyllaChangesConsumer.java:37,147-185), and
replays of rows whose group a committed batch already emitted are
recognised by OP_EMITTED marker rows (`mark_emitted=True`).
"""

from __future__ import annotations

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig
from scylla_cdc_source_connector_spark.operators.memo import column_memo
from scylla_cdc_source_connector_spark.schemas import (
    DEFAULT_TABLE,
    DELTA_OPS,
    OP_EMITTED,
    OP_PARTITION_DELETE,
    OP_POST_IMAGE,
    OP_PRE_IMAGE,
    OP_ROW_DELETE,
    OP_ROW_INSERT,
    OP_ROW_UPDATE,
    TableModel,
)

def delta_struct_expr(
    *,
    with_values: bool,
    with_flags: bool = True,
    table: TableModel = DEFAULT_TABLE,
) -> Column:
    """The shuffled `delta` struct.

    Advanced-format projection reads only the delta's METADATA and per-
    column null-ness (modified-column detection,
    ScyllaChangeRecordEmitter.java:361-398) — the values in before/after
    always come from the images.  So by default the delta carries
    `set_<col>` BOOLEANS instead of column values: the audio payload never
    rides the shuffle a third time (payload elision — at 100 TB this is a
    ~33% cut of exchange volume in full-image mode).

    with_flags=False drops even the set/deleted booleans — correct
    whenever the projection never calls modified-column detection (no
    only-updated mode and no before-reconstruction).  That lets Catalyst
    prune the payload columns from the SCAN itself: the default-mode
    pipeline (include before/after = none) then never reads the audio
    bytes at all.

    with_values=True (legacy format) additionally carries the values:
    legacy Cell structs are filled FROM the delta
    (ScyllaChangeRecordEmitterLegacy.fillStructWithChange:222-245).
    """
    fields = [F.col("`cdc$operation`"), F.col("`cdc$batch_seq_no`")]
    if with_flags or with_values:
        fields += [
            F.col(f"`{c}`").isNotNull().alias(f"set_{c}")
            for c in table.non_pk_columns
        ]
        fields += [F.col(f"`cdc$deleted_{c}`") for c in table.non_pk_columns]
        # collection-element deletions: modified iff any element deleted
        # (ScyllaChangeRecordEmitter.java:391-396); only the boolean rides
        # the shuffle — the element list itself is not part of the envelope
        fields += [
            (F.size(F.col(f"`cdc$deleted_elements_{c}`")) > 0).alias(
                f"del_elems_{c}"
            )
            for c in table.collection_columns()
            if c in table.non_pk_columns
        ]
    if with_values:
        fields += [F.col(f"`{c}`") for c in table.base_columns]
    return F.struct(*fields)


def needs_delta_flags(cfg: EngineConfig) -> bool:
    """Modified-column detection is consulted only by the only-updated
    projections (P4) and before-reconstruction for updates (P5)."""
    from scylla_cdc_source_connector_spark.config import IncludeMode

    return (
        cfg.include_before is not IncludeMode.NONE
        or cfg.include_after is IncludeMode.ONLY_UPDATED
    )


def correlate_batch(
    changelog: DataFrame,
    *,
    delta_values: bool = False,
    delta_flags: bool = True,
    table: TableModel = DEFAULT_TABLE,
    require_delta: bool = True,
    cluster_by_stream: bool = False,
    mark_emitted: bool = False,
) -> DataFrame:
    """Group CDC log rows by (pk columns..., cdc$time) and pivot the
    operation types into pre_image / delta / post_image structs.  The
    group key is the RowKey analog (RowKey.java:48-58): partition keys +
    clustering keys (TableModel order) + the change's cdc$time.

    Output columns:
      <pk columns>, cdc$time, cdc$time_us, cdc$stream_id, generation,
      pre_image struct<base cols>, post_image struct<base cols>,
      delta struct<cdc$operation, cdc$batch_seq_no, set flags, deleted
      flags[, base cols when delta_values]>

    One shuffle, pure JVM.  With require_delta=True (batch default), rows
    whose group has no delta (orphaned images — possible when a window
    boundary splits a batch) are dropped; the streaming sinks pass
    require_delta=False and hold such groups in the pending table until
    their delta arrives — dropping them at a micro-batch boundary that
    lands between a group's images and its delta would silently lose the
    images (Scylla batch order is [pre..., delta..., post...], so the
    preimages land FIRST).

    cluster_by_stream=True (the streaming sink's mode) makes the ONE
    shuffle a repartition on `cdc$stream_id` and folds (stream_id,
    generation) into the group key: HashPartitioning(stream_id) satisfies
    the aggregation's ClusteredDistribution (partitioning expressions are
    a subset of the grouping keys), so Catalyst plans NO second exchange
    for the groupBy, and the correlated output comes out ALREADY
    clustered by stream — the sink's per-shard ordered write then needs
    no repartition of its own.  Net: the payload crosses exactly one
    exchange end-to-end.  Sound because a change event's (pk, cdc$time)
    belongs to exactly one stream and generation — cdc$time is a
    per-stream timeuuid (the reference's own stream model,
    README.md:1357-1370) — so the finer key splits no group.  Left OFF
    for the batch/bucketed paths: a bucketed-by-clip_id table satisfies
    the (pk, time) grouping with ZERO exchange, and an explicit
    repartition would force one back in.

    mark_emitted=True (the streaming sink) adds a boolean `emitted`
    column: True for a group holding an OP_EMITTED marker row, i.e. one
    a committed micro-batch already emitted.
    """
    cluster, keys, aggs = _correlation(
        changelog.sparkSession.sparkContext,
        delta_values,
        delta_flags,
        table,
        cluster_by_stream,
        mark_emitted,
    )
    if cluster is not None:
        changelog = changelog.repartition(cluster)
    agg = changelog.groupBy(*keys).agg(*aggs)
    return agg if not require_delta else agg.filter(F.col("delta").isNotNull())


@column_memo
def _correlation(
    sc: SparkContext,
    delta_values: bool,
    delta_flags: bool,
    table: TableModel,
    cluster_by_stream: bool,
    mark_emitted: bool,
) -> tuple[Column | None, tuple[Column, ...], tuple[Column, ...]]:
    """correlate_batch's (repartition key, group keys, aggregations).  They
    depend on the options and the table only, never on a batch, so they
    are built once per SparkContext (operators/memo.py)."""
    op = F.col("`cdc$operation`")
    seq = F.col("`cdc$batch_seq_no`")
    base_struct = F.struct(*[F.col(f"`{c}`") for c in table.base_columns])
    delta_struct = delta_struct_expr(
        with_values=delta_values, with_flags=delta_flags, table=table
    )

    # "last one wins" per slot — setChange/setPreImage/setPostImage overwrite
    # on repeated arrival (TaskInfo setters), and within a batch arrival
    # order is cdc$batch_seq_no; max_by(struct, seq-if-this-type) implements
    # exactly that (NULL seq for other types is ignored by max_by).
    def last(cond, struct):
        return F.max_by(F.when(cond, struct), F.when(cond, seq))

    pk_cols = [f"`{c}`" for c in table.pk_columns]
    if cluster_by_stream:
        cluster = F.col("`cdc$stream_id`")
        keys = ["`cdc$stream_id`", "generation", *pk_cols, "`cdc$time`"]
        tail_aggs = [F.max("`cdc$time_us`").alias("cdc$time_us")]
    else:
        cluster = None
        keys = [*pk_cols, "`cdc$time`"]
        tail_aggs = [
            F.max("`cdc$time_us`").alias("cdc$time_us"),
            F.max("`cdc$stream_id`").alias("cdc$stream_id"),
            F.max("generation").alias("generation"),
        ]
    if mark_emitted:
        tail_aggs.append(F.bool_or(op.eqNullSafe(OP_EMITTED)).alias("emitted"))
    aggs = (
        last(op == OP_PRE_IMAGE, base_struct).alias("pre_image"),
        last(op == OP_POST_IMAGE, base_struct).alias("post_image"),
        last(op.isin(list(DELTA_OPS)), delta_struct).alias("delta"),
        *tail_aggs,
    )
    return cluster, tuple(F.col(k) for k in keys), aggs


def mask_unused_images(correlated: DataFrame, cfg: EngineConfig) -> DataFrame:
    """TaskInfo.Basic/Before/After silently IGNORE image types they were not
    configured for (their setPreImage/setPostImage are no-ops —
    TaskInfo.java Basic :121-127, Before stores no postImage :170-260,
    After stores no preImage :275-340).  Even if the changelog carries the
    image rows, they must not leak into the output when the include mode
    doesn't request them."""
    masks = _image_masks(
        correlated.sparkSession.sparkContext,
        cfg.needs_preimage,
        cfg.needs_postimage,
    )
    return correlated.withColumns(dict(masks)) if masks else correlated


@column_memo
def _image_masks(
    sc: SparkContext, keep_pre: bool, keep_post: bool
) -> tuple[tuple[str, Column], ...]:
    """mask_unused_images' (image, always-NULL image) pairs: `when(false,
    image)` is NULL typed like the image, so no schema lookup is needed."""
    return tuple(
        (image, F.when(F.lit(False), F.col(image)))
        for image, keep in (("pre_image", keep_pre), ("post_image", keep_post))
        if not keep
    )


def is_complete_expr(
    cfg: EngineConfig,
    *,
    op: Column | None = None,
    has_pre: Column | None = None,
    has_post: Column | None = None,
):
    """C3 completion predicate as a columnar expression over a correlated
    row (TaskInfo.recalculateIsComplete variants):

      INSERT  — postimage required iff include_after != none (no preimage
                exists for inserts)                       TaskInfo.java:281-295
      UPDATE  — preimage iff include_before, postimage iff include_after
                                                          TaskInfo.java:380-411
      DELETE  — preimage iff include_before (no postimage for deletes)
                                                          TaskInfo.java:192-215
      PARTITION_DELETE — preimage only when version-gated flag set
                                                (ScyllaChangesConsumer.java:98-102)

    By default the inputs are read from a correlate_batch row; callers
    with a slimmer layout (e.g. the sink's metadata-only status plan)
    inject their own op / image-presence columns — same predicate, one
    source of truth.  Image presence here means presence in the GROUP:
    masking (mask_unused_images) only nulls images the config does not
    need, and for those the ~need_* arm short-circuits anyway.
    """
    if op is None:
        op = F.col("delta.`cdc$operation`")
    need_pre = F.lit(cfg.needs_preimage)
    need_post = F.lit(cfg.needs_postimage)
    if has_pre is None:
        has_pre = F.col("pre_image").isNotNull()
    if has_post is None:
        has_post = F.col("post_image").isNotNull()
    return (
        F.when(op == OP_ROW_INSERT, ~need_post | has_post)
        .when(op == OP_ROW_UPDATE, (~need_pre | has_pre) & (~need_post | has_post))
        .when(op == OP_ROW_DELETE, ~need_pre | has_pre)
        .when(
            op == OP_PARTITION_DELETE,
            ~F.lit(cfg.wait_preimage_for_partition_delete) | has_pre,
        )
        .otherwise(F.lit(False))
    )


def complete_only(correlated: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Keep only correlation groups satisfying the completion predicate.

    In the batch path an incomplete group can only mean genuinely missing
    image rows (the reference drops + error-logs these after the
    incomplete-task timeout, ScyllaChangesConsumer.java:147-185)."""
    return correlated.filter(is_complete_expr(cfg))
