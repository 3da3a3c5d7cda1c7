"""scylla_cdc_source_connector_spark — a from-scratch PySpark-native CDC
streaming engine with the query/data-processing capabilities of
scylladb/scylla-cdc-source-connector.

This is NOT a port of the reference (a Java Kafka Connect source connector).
It re-expresses the reference's dataflow semantics — sharded windowed CDC
scan, pre/delta/post image correlation, change-type classification, envelope
projection, offset/lineage tracking, exactly-once emit — as idiomatic
PySpark: DataFrame expressions compiled by Catalyst, Structured Streaming
with a confidence-window watermark, one codegen'd correlation aggregation
per micro-batch (pending state for cross-batch waits, replay markers for
re-delivered rows), and Arrow-vectorized pandas UDFs for the
audio payload path (zero per-row Python).

Reference semantics citations use file:line of /root/reference.
"""

from scylla_cdc_source_connector_spark.config import EngineConfig
from scylla_cdc_source_connector_spark.schemas import (
    OP_PRE_IMAGE,
    OP_ROW_UPDATE,
    OP_ROW_INSERT,
    OP_ROW_DELETE,
    OP_PARTITION_DELETE,
    OP_POST_IMAGE,
    changelog_schema,
)

__all__ = [
    "EngineConfig",
    "OP_PRE_IMAGE",
    "OP_ROW_UPDATE",
    "OP_ROW_INSERT",
    "OP_ROW_DELETE",
    "OP_PARTITION_DELETE",
    "OP_POST_IMAGE",
    "changelog_schema",
]

__version__ = "0.1.0"
