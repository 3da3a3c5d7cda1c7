"""Correlation operator tests — ports of TaskInfoTest (completion matrix)
and CdcBatchPreimageMisalignmentIT (type-grouped batch ordering)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
from scylla_cdc_source_connector_spark.fixtures import FixtureSpec, make_changelog
from scylla_cdc_source_connector_spark.operators.correlation import (
    complete_only,
    correlate_batch,
)
from scylla_cdc_source_connector_spark.schemas import (
    NON_PK_COLUMNS,
    changelog_schema,
)

TS0 = dt.datetime(2024, 1, 1)


def _row(clip, op, seq, transcript=None, t_us=0, **kw):
    base = {
        "cdc$stream_id": "s0001",
        "cdc$time": TS0 + dt.timedelta(microseconds=t_us),
        "cdc$time_us": 1_704_067_200_000_000 + t_us,
        "cdc$operation": op,
        "cdc$batch_seq_no": seq,
        "generation": 0,
        "clip_id": clip,
        "bytes": None,
        "sr_hz": None,
        "dur_ms": None,
        "codec": None,
        "transcript": transcript,
    }
    for c in NON_PK_COLUMNS:
        base[f"cdc$deleted_{c}"] = False
    base.update(kw)
    return base


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows), schema=changelog_schema())


def test_misaligned_batch_pairs_by_rowkey(spark):
    """Port of CdcBatchPreimageMisalignmentIT.java:21-98: a type-grouped
    batch [pre_a, pre_b, delta_a, delta_b, post_a, post_b] at one cdc$time
    must yield per-clip correctly paired before/after."""
    rows = [
        _row("a", 0, 0, "old-a"),
        _row("b", 0, 1, "old-b"),
        _row("a", 1, 2, "new-a"),
        _row("b", 1, 3, "new-b"),
        _row("a", 9, 4, "new-a"),
        _row("b", 9, 5, "new-b"),
    ]
    out = correlate_batch(_df(spark, rows)).orderBy("clip_id").collect()
    assert len(out) == 2
    a, b = out
    assert a["clip_id"] == "a"
    assert a["pre_image"]["transcript"] == "old-a"
    assert a["post_image"]["transcript"] == "new-a"
    assert a["delta"]["cdc$operation"] == 1
    assert b["pre_image"]["transcript"] == "old-b"
    assert b["post_image"]["transcript"] == "new-b"


def test_completion_matrix(spark):
    """TaskInfoTest port: which groups survive per (op, include modes)."""
    rows = [
        # insert with post
        _row("ins_full", 2, 0, "x", t_us=1),
        _row("ins_full", 9, 1, "x", t_us=1),
        # insert without post (incomplete when after required)
        _row("ins_nopost", 2, 0, "x", t_us=2),
        # update with both
        _row("upd_full", 0, 0, "o", t_us=3),
        _row("upd_full", 1, 1, "n", t_us=3),
        _row("upd_full", 9, 2, "n", t_us=3),
        # update missing pre
        _row("upd_nopre", 1, 0, "n", t_us=4),
        _row("upd_nopre", 9, 1, "n", t_us=4),
        # delete with pre
        _row("del_full", 0, 0, "o", t_us=5),
        _row("del_full", 4, 1, None, t_us=5),
        # delete without pre
        _row("del_nopre", 4, 0, None, t_us=6),
        # partition delete, no pre (qualifies: no clustering key)
        _row("pdel", 5, 0, None, t_us=7),
    ]
    df = _df(spark, rows)

    def survivors(cfg):
        out = complete_only(correlate_batch(df), cfg)
        return sorted(r["clip_id"] for r in out.select("clip_id").collect())

    # Basic mode: every delta dispatches (TaskInfo.Basic:108-154)
    cfg = EngineConfig()
    assert survivors(cfg) == sorted(
        ["ins_full", "ins_nopost", "upd_full", "upd_nopre", "del_full", "del_nopre", "pdel"]
    )

    # Before mode (TaskInfo.Before:170-260): INSERT complete w/o pre;
    # UPDATE/DELETE need pre; PARTITION_DELETE per flag (off)
    cfg = EngineConfig(include_before=IncludeMode.FULL)
    assert survivors(cfg) == sorted(
        ["ins_full", "ins_nopost", "upd_full", "del_full", "pdel"]
    )

    # After mode (TaskInfo.After:275-340): INSERT/UPDATE need post; DELETE
    # complete w/o post
    cfg = EngineConfig(include_after=IncludeMode.FULL)
    assert survivors(cfg) == sorted(
        ["ins_full", "upd_full", "upd_nopre", "del_full", "del_nopre", "pdel"]
    )

    # BeforeAfter (TaskInfo.BeforeAfter:357-458)
    cfg = EngineConfig(include_before=IncludeMode.FULL, include_after=IncludeMode.FULL)
    assert survivors(cfg) == sorted(["ins_full", "upd_full", "del_full", "pdel"])

    # version-gated preimage wait for partition deletes
    # (ScyllaChangesConsumer.java:98-102)
    cfg = EngineConfig(
        include_before=IncludeMode.FULL, wait_preimage_for_partition_delete=True
    )
    assert "pdel" not in survivors(cfg)


def test_exact_duplicates_collapse(spark):
    rows = [
        _row("a", 2, 0, "x", t_us=1),
        _row("a", 2, 0, "x", t_us=1),
        _row("a", 2, 0, "x", t_us=1),
    ]
    out = correlate_batch(_df(spark, rows)).collect()
    assert len(out) == 1


def test_correlation_counts_on_fixture(spark, changelog_df, changelog_pdf):
    """Every generated delta (deduped) appears exactly once, carrying its
    images."""
    cfg = EngineConfig(include_before=IncludeMode.FULL, include_after=IncludeMode.FULL)
    out = complete_only(correlate_batch(changelog_df), cfg)
    n_unique_deltas = (
        changelog_pdf[changelog_pdf["cdc$operation"].isin([1, 2, 4, 5])]
        .drop_duplicates(["clip_id", "cdc$time_us"])
        .shape[0]
    )
    assert out.count() == n_unique_deltas
    # updates must have both images
    upd = out.where(F.col("delta.`cdc$operation`") == 1)
    assert upd.where(F.col("pre_image").isNull() | F.col("post_image").isNull()).count() == 0


def test_completion_predicate_parity_exhaustive(spark):
    """The row-by-row oracle's completion predicate (oracle_ref.
    is_complete) and the engine's columnar expression (is_complete_expr)
    must agree on EVERY (op, has_pre, has_post, include-mode) combination
    — TaskInfoTest's matrix, checked against an independent oracle."""
    import itertools

    from pyspark.sql import functions as F

    from scylla_cdc_source_connector_spark.operators.correlation import (
        is_complete_expr,
    )
    from tests.oracle_ref import is_complete

    ops = [1, 2, 4, 5, 0, 9, 99]  # update, insert, delete, partition-del, images, junk
    cfgs = [
        EngineConfig(),
        EngineConfig(include_before=IncludeMode.FULL),
        EngineConfig(include_after=IncludeMode.FULL),
        EngineConfig(
            include_before=IncludeMode.ONLY_UPDATED,
            include_after=IncludeMode.FULL,
        ),
        EngineConfig(wait_preimage_for_partition_delete=True),
    ]
    cases = list(itertools.product(ops, [False, True], [False, True]))
    rows = [
        {
            "case_id": i,
            "pre_image": {"x": 1} if has_pre else None,
            "post_image": {"x": 1} if has_post else None,
            "delta": {"cdc$operation": op},
        }
        for i, (op, has_pre, has_post) in enumerate(cases)
    ]
    df = spark.createDataFrame(
        rows,
        "case_id int, pre_image struct<x:int>, post_image struct<x:int>, "
        "delta struct<`cdc$operation`:int>",
    )
    for cfg in cfgs:
        got = {
            r["case_id"]: r["c"]
            for r in df.select(
                "case_id", is_complete_expr(cfg).alias("c")
            ).collect()
        }
        for i, (op, has_pre, has_post) in enumerate(cases):
            want = is_complete(cfg, op, has_pre, has_post)
            assert bool(got[i]) == bool(want), (cfg, op, has_pre, has_post)


def test_cluster_by_stream_equivalence_and_plan(spark):
    """cluster_by_stream folds (stream, generation) into the group key and
    repartitions on the stream: results must be IDENTICAL to the default
    keying (a change's (pk, cdc$time) belongs to exactly one stream +
    generation — per-stream timeuuid), and the executed plan must carry
    exactly ONE exchange (the stream repartition satisfies the finer
    grouping, so Catalyst adds no aggregation exchange)."""
    pdf = make_changelog(
        FixtureSpec(n_events=800, n_clips=90, n_shards=8, n_generations=2)
    )
    df = spark.createDataFrame(pdf, schema=changelog_schema())

    cols = [
        "clip_id",
        "`cdc$time_us`",
        "`cdc$stream_id`",
        "generation",
        "pre_image",
        "post_image",
        "delta",
    ]
    a = correlate_batch(df, require_delta=False).select(*cols)
    b = correlate_batch(df, require_delta=False, cluster_by_stream=True).select(
        *cols
    )
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    plan = b._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "REPARTITION_BY_COL" in plan
