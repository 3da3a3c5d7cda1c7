"""Multi-table orchestration: one connector run over a LIST of source
tables, per-table topics, merged lineage.

The reference configures `scylla.table.names` as a list
(ScyllaConnectorConfig.java:130-139): the master computes per-table task
groupings and MERGES them into one worker assignment, warning on TaskId
conflicts (ScyllaMasterTransport.java:102-122); each table's records
route to their own topic `prefix.keyspace.table`
(ScyllaTopicSelector.java:12-24).

Spark-native shape: per-table changelog schemas differ, so each table is
its own streaming query over its own changelog directory — the analog of
the per-table task group — all sharing ONE SparkSession (the cluster's
scheduler spreads the concurrent micro-batches exactly like Connect
spreads merged tasks over maxTasks workers).  Each table gets a
namespaced EngineConfig (its own topic, checkpoint, output and lineage
dirs under the connector root), so offsets/exactly-once stay independent
per table, and `connector_lineage` merges the per-table records into the
single progress view the reference's merged grouping provides.

At 10^12 rows this is the right decomposition: tables have independent
shard sets, watermarks and throughput; forcing them through one query
would couple their triggers and make one hot table stall the rest (the
reference's per-table workers are independent for the same reason).
"""

from __future__ import annotations

import dataclasses
import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from scylla_cdc_source_connector_spark.config import EngineConfig
from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE, TableModel


@dataclass(frozen=True)
class TableSpec:
    """One source table of the connector: its changelog directory, its
    TableModel (schema), and its table name (topic routing)."""

    input_path: str
    name: str = "clips"
    table: TableModel = field(default_factory=lambda: DEFAULT_TABLE)


def table_cfg(cfg: EngineConfig, name: str) -> EngineConfig:
    """Per-table namespaced config: own topic (prefix.ks.<name>) and own
    checkpoint/output/lineage dirs under the connector's roots — offsets
    and exactly-once state never collide across tables."""
    return dataclasses.replace(
        cfg,
        table=name,
        checkpoint_dir=os.path.join(cfg.checkpoint_dir, f"table-{name}"),
        output_dir=os.path.join(cfg.output_dir, f"table-{name}"),
        lineage_dir=os.path.join(cfg.lineage_dir, f"table-{name}"),
    )


def run_tables(
    spark: SparkSession,
    cfg: EngineConfig,
    specs: list[TableSpec],
    *,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    generation: int | None = None,
) -> dict:
    """Start one streaming query per table spec; returns {name: query}.

    With `generation` set, every table drains ONLY that generation
    (engine.run_stream's gate) — the connector-level analog of
    run_generations: call once per generation in order, awaiting between
    calls, and no table's gen-N+1 rows ever commit before gen N drained.

    Duplicate table names are a config error (the reference only WARNS
    on TaskId conflicts and drops one grouping,
    ScyllaMasterTransport.java:112-118 — here the collision would
    corrupt a shared checkpoint, so it refuses)."""
    from scylla_cdc_source_connector_spark.streaming.engine import run_stream

    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate table names in connector specs: {names}")
    queries = {}
    for spec in specs:
        queries[spec.name] = run_stream(
            spark,
            table_cfg(cfg, spec.name),
            spec.input_path,
            available_now=available_now,
            max_files_per_trigger=max_files_per_trigger,
            table=spec.table,
            generation=generation,
        )
    return queries


def await_tables(queries: dict, timeout_s: float = 600.0) -> None:
    """Block until every table's query terminates (availableNow drain)."""
    for name, q in queries.items():
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()
            raise TimeoutError(f"table {name!r} did not drain in {timeout_s}s")


def _resolved_cfg(
    cfg: EngineConfig, name: str, generation: int | None
) -> EngineConfig:
    from scylla_cdc_source_connector_spark.streaming.engine import generation_cfg

    tc = table_cfg(cfg, name)
    return tc if generation is None else generation_cfg(tc, generation)


def connector_lineage(
    cfg: EngineConfig, specs: list[TableSpec], *, generation: int | None = None
) -> list[dict]:
    """Merged per-table lineage: every committed record annotated with its
    table name — the Spark analog of the master's merged task groupings
    (ScyllaMasterTransport.java:102-122).  Per-shard offsets stay
    namespaced by table (and by generation when one is given)."""
    from scylla_cdc_source_connector_spark.streaming.sink import read_lineage

    merged = []
    for spec in specs:
        for rec in read_lineage(_resolved_cfg(cfg, spec.name, generation)):
            merged.append({**rec, "table": spec.name})
    merged.sort(key=lambda r: (r["table"], r["batch_id"]))
    return merged


def read_table_emitted(
    spark: SparkSession,
    cfg: EngineConfig,
    spec: TableSpec,
    *,
    generation: int | None = None,
):
    """Exactly-once emitted view for one table of the connector."""
    from scylla_cdc_source_connector_spark.streaming.sink import read_emitted

    return read_emitted(spark, _resolved_cfg(cfg, spec.name, generation))
