"""The one memo of Column builders.

Building a Column costs Py4J round trips, and PySpark adds a few more to
every `pyspark.sql.functions` call to capture its call site.  The
streaming sink applies the same Columns to every micro-batch, so the
builders whose Columns depend on hashable settings only are wrapped in
`column_memo` and a query pays for its plan once, not once per batch:

- bounded: 32 entries per builder (a process runs a handful of queries);
- thread-safe (functools.lru_cache): the concurrent queries of
  connector.run_tables share it;
- the SparkContext the Columns are built on is an argument of every
  memoized builder, so a Column built on a stopped context is never
  handed out (a new context is a new key);
- a builder keyed by an EngineConfig is called with `plan_settings(cfg)`:
  no Column reads the config's paths, so a query on a new output dir
  (each generation of engine.run_generations, a fresh namespace) with
  the same settings reuses the plan instead of building it on its first
  batch.

A value that changes from batch to batch (a watermark floor, the
processing time) must not reach the plan as a literal either: Catalyst
inlines a literal into the generated Java source, so every batch would
compile its whole-stage code anew.  `batch_value` is the one way such a
value enters a repeated plan.
"""

from __future__ import annotations

import dataclasses
import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig

column_memo = functools.lru_cache(maxsize=32)


def plan_settings(cfg: EngineConfig) -> EngineConfig:
    """cfg without its paths: the memo key of a cfg-keyed builder."""
    return dataclasses.replace(cfg, checkpoint_dir="", output_dir="", lineage_dir="")


def batch_value(v: int) -> Column:
    """The long `v` as a Column Catalyst can neither fold nor inline.

    `java_method` is nondeterministic, so it is never constant-folded,
    and it has no code generation of its own: the generated code calls
    the expression object, so the Java source (the codegen cache key)
    is the same for every value.  `F.lit(v)`, or a string or decimal
    literal cast back to long, folds to a literal and is compiled into
    the code.  The per-row cost is one reflective call."""
    return F.expr(
        f"CAST(java_method('java.lang.Long', 'valueOf', '{int(v)}') AS BIGINT)"
    )
