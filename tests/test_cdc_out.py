"""The CDC-out chain's write paths: the row counts the changelog feed and
the wire records take from their written footers, the latest-state
mirror's commit choice when one side of a pass is empty, and the Spark
jobs one mirror pass and one records pass run.

The chain is `run_iceberg_meta_stream` → `maintain_latest_state_mirror`
(position deletes) → `maintain_changelog_records` /
`maintain_changelog_feed`.  Neither write path probes a DataFrame for
emptiness or counts it: each writes, then reads what the parquet footers
hold.  These tests pin that the footer counts equal the rows on disk, that
an empty side leaves no directory and no snapshot behind, and that the
mirror still reads back as the latest state of the emitted envelopes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
from scylla_cdc_source_connector_spark.fixtures import (
    FixtureSpec,
    make_changelog,
    write_changelog_chunk,
)
from scylla_cdc_source_connector_spark.operators import kafka_records as kr
from scylla_cdc_source_connector_spark.schemas import (
    DEFAULT_TABLE,
    OP_PRE_IMAGE,
    OP_ROW_DELETE,
)
from scylla_cdc_source_connector_spark.sources import iceberg_meta as im
from scylla_cdc_source_connector_spark.streaming import increment
from scylla_cdc_source_connector_spark.streaming import sink as sink_mod
from scylla_cdc_source_connector_spark.streaming.engine import (
    run_iceberg_meta_stream,
)

_IMG = ("transcript", "sr_hz", "dur_ms", "codec")


def _cfg(tmp, name) -> EngineConfig:
    return EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        checkpoint_dir=f"{tmp}/{name}/ckpt",
        output_dir=f"{tmp}/{name}/out",
        lineage_dir=f"{tmp}/{name}/lineage",
    )


def _kv_table(tmp_root, name, n_files, rows_per=4):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    loc = f"{tmp_root}/{name}"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(
        loc,
        T.StructType(
            [
                T.StructField("k", T.StringType(), False),
                T.StructField("v", T.LongType(), False),
            ]
        ),
    )
    for i in range(n_files):
        p = f"{loc}/data/f{i}.parquet"
        base = i * rows_per
        pq.write_table(
            pa.table(
                {
                    "k": [f"k{base + j}" for j in range(rows_per)],
                    "v": [base + j for j in range(rows_per)],
                }
            ),
            p,
        )
        im.append_files(loc, [p], timestamp_ms=i + 1)
    return loc


def _update(spark, loc, key_pos: int, new_v: int, ts: int) -> None:
    """Overwrite snapshot: position-delete row `key_pos` of the first live
    file and append its new image."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    f0 = sorted(im.live_files(loc))[0]
    k = pq.read_table(f0).column("k")[key_pos].as_py()
    newf = f"{loc}/data/u{ts}.parquet"
    pq.write_table(pa.table({"k": [k], "v": [new_v]}), newf)
    im.write_position_deletes(
        spark,
        loc,
        spark.range(1).select(
            F.lit(f0).alias("file_path"), F.lit(key_pos).cast("long").alias("pos")
        ),
        data_files=[newf],
        operation="overwrite",
        timestamp_ms=ts,
    )


def _rows_of(spark, out_dir, consumed, cols):
    return sorted(
        tuple(r)
        for r in spark.read.parquet(out_dir)
        .where(F.col("batch").isin(consumed))
        .select(*cols)
        .collect()
    )


@pytest.mark.parametrize("kind", ["records", "feed"])
def test_footer_counts_equal_the_written_rows(spark, tmp_root, monkeypatch, kind):
    """The `records`/`rows` a pass returns come from the footers of the
    consumed snapshots' batch dirs; they equal the rows on disk for a pass
    over several snapshots, for a pass holding a replace snapshot (no
    rows, no dir), and for the rerun of a pass that crashed between the
    output write and the hwm commit (same dirs, nothing doubled)."""
    loc = _kv_table(tmp_root, f"cdc_out_counts_{kind}", n_files=3)
    out = f"{tmp_root}/cdc_out_counts_{kind}_out"
    shutil.rmtree(out, ignore_errors=True)
    if kind == "records":
        state = "_records_state.json"
        cols = ("batch", "key", "value", "headers")

        def run():
            r = kr.maintain_changelog_records(spark, loc, out, ["k"])
            return r["consumed"], r["records"]
    else:
        state = "_feed_state.json"
        cols = ("batch", "k", "v", "_change_type")

        def run():
            r = im.maintain_changelog_feed(spark, loc, out, identifier_columns=["k"])
            return r["consumed"], r["rows"]

    # several snapshots in one pass
    consumed, n = run()
    assert consumed == [1, 2, 3] and n == 12
    assert n == len(_rows_of(spark, out, consumed, cols))

    # an update plus a replace snapshot: the replace adds no rows, no dir
    _update(spark, loc, key_pos=1, new_v=100, ts=10)
    assert im.compact_table(spark, loc, timestamp_ms=11) != -1
    consumed, n = run()
    assert consumed == [4, 5]
    assert n == len(_rows_of(spark, out, consumed, cols)) == (1 if kind == "records" else 2)
    assert not os.path.exists(os.path.join(out, "batch=5"))

    # crash after the output write, before the hwm commit
    _update(spark, loc, key_pos=2, new_v=200, ts=12)
    real = increment.write_json_atomic

    def crash(path, obj):
        if path.endswith(state):
            raise OSError("crash before the hwm commit")
        return real(path, obj)

    monkeypatch.setattr(increment, "write_json_atomic", crash)
    with pytest.raises(OSError, match="crash"):
        run()
    monkeypatch.setattr(increment, "write_json_atomic", real)
    written = _rows_of(spark, out, [6], cols)
    assert written
    consumed, n = run()
    assert consumed == [6]
    assert n == len(written)
    assert _rows_of(spark, out, consumed, cols) == written
    total = spark.read.parquet(out).count()
    assert total == 12 + (1 if kind == "records" else 2) + len(written)
    assert run() == ([], 0)


def _oracle(spark, cfg):
    """Latest state by brute force over every emitted envelope: per key the
    envelope with the largest cdc$time_us, absent when it is a delete."""
    latest: dict[str, tuple] = {}
    for r in sink_mod.read_emitted(spark, cfg).select(
        "clip_id", "`cdc$time_us`", "value.op", *[f"value.after.{c}" for c in _IMG]
    ).collect():
        cur = latest.get(r["clip_id"])
        if cur is None or r["cdc$time_us"] > cur[0]:
            latest[r["clip_id"]] = (r["cdc$time_us"], r["op"], *[r[c] for c in _IMG])
    return {
        (k, v[0], *v[2:]) for k, v in latest.items() if v[1] != "d"
    }


def _mirror_state(spark, mir):
    rows = im.read_table(spark, mir).select("clip_id", "__ts_us", *_IMG).collect()
    return {tuple(r) for r in rows}


def _dirs(mir, prefix):
    return sorted(d for d in os.listdir(f"{mir}/data") if d.startswith(prefix))


def test_mirror_empty_sides_commit_only_what_was_written(spark, tmp_root):
    """(a) a pass whose keys are all new commits an append and leaves no
    deletes-* dir; (b) a pass of only deletes leaves no merge-* dir and
    commits delete files only; (c) delete_where with no match returns -1,
    commits nothing and leaves no dir.  After each, read_table equals the
    latest state of the emitted envelopes."""
    pdf = make_changelog(
        FixtureSpec(
            n_events=300, n_clips=40, n_shards=2, dup_frac=0.0,
            grouped_batch_frac=0.0,
        )
    )
    idx = pdf["clip_id"].str[-12:].astype(int)
    src = f"{tmp_root}/cdc_out_empty_src"
    shutil.rmtree(src, ignore_errors=True)
    im.create_table(src, DEFAULT_TABLE.changelog_schema())
    cfg = _cfg(tmp_root, "cdc_out_empty")
    mir = f"{tmp_root}/cdc_out_empty/mirror"

    def wave(i, rows):
        p = f"{src}/data/wave-{i}.parquet"
        write_changelog_chunk(rows, p)
        im.append_files(src, [p], timestamp_ms=(i + 1) * 1000)
        run_iceberg_meta_stream(spark, cfg, src)
        return im.maintain_latest_state_mirror(spark, cfg, mir)

    assert wave(0, pdf[idx < 20]) == 1
    assert _mirror_state(spark, mir) == _oracle(spark, cfg)

    # (a) only new keys: the semi-join finds nothing to delete
    deletes_before = _dirs(mir, "deletes-")
    assert wave(1, pdf[idx >= 20]) == 1
    assert im.snapshots(mir)[-1]["summary"]["operation"] == "append"
    assert _dirs(mir, "deletes-") == deletes_before
    assert _mirror_state(spark, mir) == _oracle(spark, cfg)

    # (b) only deletes of live keys: no after images, so no merge dir
    live = im.read_table(spark, mir).select("clip_id", *_IMG).collect()
    victims = sorted(live, key=lambda r: r["clip_id"])[:5]
    t0 = int(pdf["cdc$time_us"].max()) + 1_000_000
    rows = []
    for i, r in enumerate(victims):
        base = pdf[pdf["clip_id"] == r["clip_id"]].iloc[0]
        for seq, op in enumerate((OP_PRE_IMAGE, OP_ROW_DELETE)):
            row = base.copy()
            row["cdc$time_us"] = t0 + i * 1000
            row["cdc$time"] = pd.Timestamp(t0 + i * 1000, unit="us")
            row["cdc$operation"] = np.int32(op)
            row["cdc$batch_seq_no"] = np.int32(seq)
            for c in _IMG:
                row[c] = r[c] if op == OP_PRE_IMAGE else None
            row["bytes"] = base["bytes"] if op == OP_PRE_IMAGE else None
            rows.append(row)
    merges_before = _dirs(mir, "merge-")
    plan_before = im.scan_files(mir)
    assert wave(2, pd.DataFrame(rows).astype(pdf.dtypes.to_dict())) == 1
    assert _dirs(mir, "merge-") == merges_before
    plan_after = im.scan_files(mir)
    assert plan_after["files"] == plan_before["files"]
    assert len(plan_after["delete_files"]) == len(plan_before["delete_files"]) + 1
    state = _mirror_state(spark, mir)
    assert state == _oracle(spark, cfg)
    assert not {r["clip_id"] for r in victims} & {s[0] for s in state}

    # (c) delete_where that matches nothing
    n_snaps, listing = len(im.snapshots(mir)), sorted(os.listdir(f"{mir}/data"))
    assert im.delete_where(spark, mir, "clip_id = 'no-such-clip'") == -1
    assert len(im.snapshots(mir)) == n_snaps
    assert sorted(os.listdir(f"{mir}/data")) == listing
    assert _mirror_state(spark, mir) == state


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cdc_out_passes_job_counts(spark, tmp_root):
    """On a mirror of three snapshots, one more wave's mirror pass runs 7
    Spark jobs and its records pass 5: no emptiness probe, no count, no
    Python-worker broadcast of a lookup table, no schema inference on a
    position-delete file, and none on the envelope read or the mirror's
    data-file scan (their schema comes off a footer, read with pyarrow)."""
    pdf = make_changelog(FixtureSpec(n_events=400, n_clips=40, n_shards=2))
    src = f"{tmp_root}/cdc_out_jobs_src"
    shutil.rmtree(src, ignore_errors=True)
    im.create_table(src, DEFAULT_TABLE.changelog_schema())
    cfg = _cfg(tmp_root, "cdc_out_jobs")
    mir = f"{tmp_root}/cdc_out_jobs/mirror"
    rd = f"{tmp_root}/cdc_out_jobs/records"
    size = len(pdf) // 4
    counts = []
    for i in range(4):
        p = f"{src}/data/chunk-{i}.parquet"
        write_changelog_chunk(pdf.iloc[i * size : (i + 1) * size], p)
        im.append_files(src, [p], timestamp_ms=(i + 1) * 1000)
        run_iceberg_meta_stream(spark, cfg, src)
        counts = [
            _jobs(spark, f"cdc_out_mirror_{i}", lambda: im.maintain_latest_state_mirror(
                spark, cfg, mir, delete_mode="position"
            )),
            _jobs(spark, f"cdc_out_records_{i}", lambda: kr.maintain_changelog_records(
                spark, mir, rd, ["clip_id"]
            )),
        ]
    ops = [s["summary"]["operation"] for s in im.snapshots(mir)]
    assert ops == ["append", "overwrite", "overwrite", "overwrite"]
    assert counts == [7, 5]
