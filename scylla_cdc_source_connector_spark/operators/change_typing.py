"""Change-type classification and admissibility filters (SURVEY §2.3/§2.4).

All pure columnar expressions — Catalyst constant-folds the static-schema
predicates and keeps everything inside whole-stage codegen.

Reference semantics:
- P1 operation classification: ROW_UPDATE→'u', ROW_INSERT→'c',
  ROW_DELETE/PARTITION_DELETE→'d' (ScyllaChangeRecordEmitter.java:94-110).
- F1 operation-type filter: only deltas dispatch; images advance offsets
  without dispatch (ScyllaChangesConsumer.java:234-249, :285-290).
- F2 partition-delete admissibility: emitted only when the table has no
  clustering key (ScyllaChangesConsumer.isSinglePartitionDelete:271-283).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.schemas import (
    OP_CODE_CREATE,
    OP_CODE_DELETE,
    OP_CODE_UPDATE,
    OP_PARTITION_DELETE,
    OP_ROW_DELETE,
    OP_ROW_INSERT,
    OP_ROW_UPDATE,
)


def op_code_expr(op_col: Column) -> Column:
    """P1: numeric CDC operation → Debezium op code ('c'/'u'/'d').

    Unknown operations map to NULL and are filtered by delta_filter —
    mirroring the reference's throw-on-unknown at emit time
    (ScyllaChangeRecordEmitter.java:106-109)."""
    return (
        F.when(op_col == OP_ROW_INSERT, F.lit(OP_CODE_CREATE))
        .when(op_col == OP_ROW_UPDATE, F.lit(OP_CODE_UPDATE))
        .when(op_col.isin(OP_ROW_DELETE, OP_PARTITION_DELETE), F.lit(OP_CODE_DELETE))
    )


def delta_filter(
    df: DataFrame,
    *,
    has_clustering_key: bool = False,
    table=None,
) -> DataFrame:
    """F1+F2: keep only dispatchable delta rows.

    PARTITION_DELETE qualifies only for tables without a clustering key
    (the default audio table is clip_id-only PK, so it qualifies; for a
    table WITH a clustering key a partition delete spans many rows and is
    inadmissible — ScyllaChangesConsumer.isSinglePartitionDelete:271-283).
    Pass a TableModel to derive the flag; the predicate constant-folds
    for a fixed schema either way."""
    if table is not None:
        has_clustering_key = table.has_clustering_key
    ops = [OP_ROW_INSERT, OP_ROW_UPDATE, OP_ROW_DELETE]
    if not has_clustering_key:
        ops.append(OP_PARTITION_DELETE)
    return df.filter(F.col("`cdc$operation`").isin(ops))


def admissible_only(df: DataFrame, *, table=None) -> DataFrame:
    """F2 pre-correlation form: drop INADMISSIBLE delta rows while KEEPING
    image rows (delta_filter drops images too, which is wrong upstream of
    correlation).  For a table with a clustering key, a partition delete
    spans many rows and is not emitted as a single-row change
    (ScyllaChangesConsumer.isSinglePartitionDelete:271-283); its preceding
    images then leave an image-only group the correlation drops."""
    if table is None or not table.has_clustering_key:
        return df
    return df.filter(F.col("`cdc$operation`") != OP_PARTITION_DELETE)
