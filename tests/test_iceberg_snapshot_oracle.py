"""Snapshot deltas against an independent oracle.

Every incremental reader of a jarless Iceberg table (`added_files`, the
changelog resolver, `read_changes`, `materialize_increment`) must agree on
which snapshots a range holds and which files each snapshot added.  The
oracle here knows nothing of manifests-this-snapshot-added or entry
status: it diffs the full scan plans of a snapshot and its parent,
`scan_files(location, snapshot_id=x)`, and takes ranges straight from the
main line's sequence numbers.  The table goes through every kind of
commit the writer has.
"""

from __future__ import annotations

import os
import shutil

import pytest

from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
from scylla_cdc_source_connector_spark.fixtures import (
    FixtureSpec,
    make_changelog,
    write_changelog_chunk,
)
from scylla_cdc_source_connector_spark.functions import avro
from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE
from scylla_cdc_source_connector_spark.sources import iceberg_meta as im
from scylla_cdc_source_connector_spark.streaming import increment
from scylla_cdc_source_connector_spark.streaming.engine import (
    run_iceberg_meta_stream,
)


def _kv_file(loc: str, name: str, lo: int, n: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.abspath(f"{loc}/data/{name}.parquet")
    pq.write_table(
        pa.table(
            {"k": [f"k{lo + j}" for j in range(n)], "v": list(range(lo, lo + n))}
        ),
        p,
    )
    return p


@pytest.fixture(scope="module")
def every_commit_table(spark, tmp_root):
    """append, append, position-delete overwrite, equality delete,
    compaction, manifest rewrite, position delete, delete-file rewrite,
    a branch commit, a rollback and one more append."""
    import pyspark.sql.types as T

    loc = f"{tmp_root}/ice_oracle"
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
    f0 = _kv_file(loc, "f0", 0, 5)
    s1 = im.append_files(loc, [f0], timestamp_ms=1)
    s2 = im.append_files(loc, [_kv_file(loc, "f1", 5, 5)], timestamp_ms=2)
    s3 = im.write_position_deletes(
        spark,
        loc,
        spark.createDataFrame([(f0, 0)], "file_path string, pos long"),
        data_files=[_kv_file(loc, "f2", 10, 3)],
        timestamp_ms=3,
        operation="overwrite",
    )
    s4 = im.write_equality_deletes(
        spark, loc, spark.createDataFrame([("k6",)], "k string"), ["k"],
        timestamp_ms=4,
    )
    s5 = im.compact_table(spark, loc, timestamp_ms=5)
    s6 = im.rewrite_manifests(loc, min_count_to_merge=1, timestamp_ms=6)[
        "snapshot_id"
    ]
    s7 = im.delete_where(spark, loc, "v = 7", timestamp_ms=7)
    s8 = im.rewrite_position_delete_files(
        spark, loc, min_files=1, timestamp_ms=8
    )["snapshot_id"]
    im.create_branch(loc, "audit", timestamp_ms=9)
    s9 = im.append_files(
        loc, [_kv_file(loc, "b0", 100, 2)], timestamp_ms=9, branch="audit"
    )
    im.rollback_to(loc, s7, timestamp_ms=10)
    s10 = im.append_files(loc, [_kv_file(loc, "f3", 20, 4)], timestamp_ms=11)
    assert [s1, s2, s3, s4, s5, s6, s7, s8, s9, s10] == list(range(1, 11))
    md = im.current_metadata(loc)
    by_id = {s["snapshot-id"]: s for s in md["snapshots"]}
    main = [1, 2, 3, 4, 5, 6, 7, 10]  # 8 is past the rollback, 9 on a branch
    ops = {sid: by_id[sid]["summary"]["operation"] for sid in by_id}
    assert [ops[s] for s in main] == [
        "append", "append", "overwrite", "delete", "replace", "replace",
        "delete", "append",
    ]
    assert ops[8] == "replace" and by_id[10]["parent-snapshot-id"] == 7
    return loc, main, by_id


def _live(loc, sid):
    if sid is None:
        return set(), set()
    plan = im.scan_files(loc, snapshot_id=sid)
    deletes = set(plan["delete_files"]) | {
        d["path"] for d in plan["equality_deletes"]
    }
    return set(plan["files"]), deletes


def _range(main, by_id, after, to):
    seq = lambda sid: by_id[sid]["sequence-number"]  # noqa: E731
    return [
        s
        for s in main
        if (after is None or seq(after) < seq(s))
        and (to is None or seq(s) <= seq(to))
    ]


def test_per_snapshot_deltas_match_scan_diff(every_commit_table):
    loc, main, by_id = every_commit_table
    added = {b["snapshot_id"]: b for b in im.added_files(loc)}
    changes = {b["snapshot_id"]: b for b in im._snapshot_range(loc)}
    assert sorted(added) == sorted(changes) == main
    for sid in main:
        op = by_id[sid]["summary"]["operation"]
        files, deletes = _live(loc, sid)
        pfiles, pdeletes = _live(loc, by_id[sid]["parent-snapshot-id"])
        a = added[sid]
        assert sorted(a["files"]) == (
            sorted(files - pfiles) if op == "append" else []
        ), sid
        c = changes[sid]
        got_deletes = c["pos_delete_files"] + [
            d["path"] for d in c["eq_delete_files"]
        ]
        if op == "replace":
            assert c["data_files"] == [] and got_deletes == [], sid
        else:
            assert sorted(c["data_files"]) == sorted(files - pfiles), sid
            assert sorted(got_deletes) == sorted(deletes - pdeletes), sid


def test_every_range_is_the_main_line_between_bounds(
    spark, tmp_root, every_commit_table
):
    loc, main, by_id = every_commit_table
    appended = {b["snapshot_id"] for b in im.added_files(loc) if b["files"]}
    bounds = main + [None]
    for after in bounds:
        want_all = _range(main, by_id, after, None)
        got = [
            b["snapshot_id"] for b in im.added_files(loc, after_snapshot_id=after)
        ]
        assert got == want_all, after
        for to in bounds:
            want = _range(main, by_id, after, to)
            got = [
                b["snapshot_id"]
                for b in im._snapshot_range(
                    loc, after_snapshot_id=after, to_snapshot_id=to
                )
            ]
            assert got == want, (after, to)
            rows = im.read_changes(
                spark, loc, after_snapshot_id=after, to_snapshot_id=to
            )
            got_ids = {r[0] for r in rows.select("_snapshot_id").distinct().collect()}
            assert got_ids == appended & set(want), (after, to)

    out = f"{tmp_root}/ice_oracle_increment"
    for after in bounds:
        shutil.rmtree(out, ignore_errors=True)
        if after is not None:
            os.makedirs(out)
            increment.write_json_atomic(
                f"{out}/_state.json",
                {"table": os.path.abspath(loc), "hwm": after},
            )
        res = im.materialize_increment(
            spark,
            loc,
            out,
            "_state.json",
            {},
            lambda last, head: spark.createDataFrame(
                [(1, head)], "x int, batch long"
            ),
        )
        assert res["consumed"] == _range(main, by_id, after, None), after
        assert res["hwm"] == main[-1]


@pytest.fixture
def container_reads(monkeypatch):
    """Paths passed to avro.read_container, in call order."""
    calls: list[str] = []
    real = avro.read_container

    def counted(path, *a, **kw):
        calls.append(path)
        return real(path, *a, **kw)

    monkeypatch.setattr(im.avro, "read_container", counted)
    return calls


def test_metadata_reads_are_bounded(spark, every_commit_table, container_reads):
    """The walk opens a manifest list only for a snapshot that can deliver
    rows, and only the manifests that snapshot added."""
    loc, main, by_id = every_commit_table
    lists = {
        sid: avro.read_container(by_id[sid]["manifest-list"])[2] for sid in main
    }

    def own(sid, data_only):
        return [
            mf
            for mf in lists[sid]
            if mf["added_snapshot_id"] == sid
            and (not data_only or mf["content"] == im.CONTENT_DATA)
        ]

    op = {sid: by_id[sid]["summary"]["operation"] for sid in main}
    container_reads.clear()
    im.added_files(loc)
    assert len(container_reads) == sum(
        1 + len(own(s, True)) for s in main if op[s] == "append"
    )
    container_reads.clear()
    walk = sum(1 + len(own(s, False)) for s in main if op[s] != "replace")
    im.read_changelog(spark, loc)
    # the range walk, plus the bounded-history walk equality deletes need
    assert len(container_reads) == 2 * walk
    container_reads.clear()
    im.scan_files(loc)
    assert len(container_reads) == 1 + len(lists[main[-1]])


def test_position_mirror_plans_its_scan_once(
    spark, tmp_root, monkeypatch, container_reads
):
    """A position-mode mirror pass over a table with live rows plans the
    current snapshot once: its manifest list is read once before the
    commit (and once more by the commit, which carries the prior
    manifests forward)."""
    pdf = make_changelog(FixtureSpec(n_events=300, n_clips=40, n_shards=2))
    src = f"{tmp_root}/ice_oracle_mirror_src"
    shutil.rmtree(src, ignore_errors=True)
    im.create_table(src, DEFAULT_TABLE.changelog_schema())
    half = len(pdf) // 2
    cfg = EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        checkpoint_dir=f"{tmp_root}/ice_oracle_mirror/ckpt",
        output_dir=f"{tmp_root}/ice_oracle_mirror/out",
        lineage_dir=f"{tmp_root}/ice_oracle_mirror/lineage",
    )
    mir = f"{tmp_root}/ice_oracle_mirror/table"
    for i, chunk in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        p = f"{src}/data/chunk-{i}.parquet"
        write_changelog_chunk(chunk, p)
        im.append_files(src, [p], timestamp_ms=i + 1)
        run_iceberg_meta_stream(spark, cfg, src)
        if i == 0:
            assert im.maintain_latest_state_mirror(spark, cfg, mir) == 1

    md = im.current_metadata(mir)
    head_list = next(
        s["manifest-list"]
        for s in md["snapshots"]
        if s["snapshot-id"] == md["current-snapshot-id"]
    )
    at_commit = []
    real_commit = im._commit_snapshot

    def commit(*a, **kw):
        at_commit.append(container_reads.count(head_list))
        return real_commit(*a, **kw)

    monkeypatch.setattr(im, "_commit_snapshot", commit)
    container_reads.clear()
    assert im.maintain_latest_state_mirror(spark, cfg, mir) == 1
    assert [s["summary"]["operation"] for s in im.snapshots(mir)] == [
        "append",
        "overwrite",
    ]
    assert at_commit == [1]
    assert container_reads.count(head_list) == 2
