"""Jarless Iceberg metadata source: OCF codec, spec structure, and the
snapshot-incremental exactly-once stream (sources/iceberg_meta.py +
streaming/engine.py:run_iceberg_meta_stream).

Reference analog: the connector's window/offset iteration over the CDC log
(ScyllaStreamingChangeEventSource.java:53-103) — here snapshot == window,
sequence number == offset.  Interop caveat: no real Iceberg writer exists
in this sandbox, so spec conformance is pinned structurally (field names,
ids, metadata keys per https://iceberg.apache.org/spec/) and the reader is
writer-agnostic by construction (decodes with each file's embedded schema).
"""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
from scylla_cdc_source_connector_spark.fixtures import FixtureSpec, make_changelog
from scylla_cdc_source_connector_spark.functions import avro
from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes
from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE
from scylla_cdc_source_connector_spark.sources import iceberg_meta as im
from scylla_cdc_source_connector_spark.streaming import sink as sink_mod
from scylla_cdc_source_connector_spark.streaming.engine import (
    run_iceberg_meta_stream,
)

# ---------------------------------------------------------------------------
# Avro Object Container Files
# ---------------------------------------------------------------------------

_SCH = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "a", "type": "string"},
        {"name": "b", "type": ["null", "long"]},
        {"name": "m", "type": {"type": "map", "values": "bytes"}},
    ],
}
_RECS = [
    {"a": "x", "b": 7, "m": {"k": b"\x01\x02"}},
    {"a": "y", "b": None, "m": {}},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_ocf_roundtrip(tmp_root, codec):
    p = f"{tmp_root}/ocf_{codec}.avro"
    avro.write_container(p, _SCH, _RECS, metadata={"fmt": "2"}, codec=codec)
    schema, meta, out = avro.read_container(p)
    assert out == _RECS
    assert schema == _SCH
    assert meta["fmt"] == b"2"
    assert meta["avro.codec"] == codec.encode()


def test_ocf_empty_and_corrupt(tmp_root):
    p = f"{tmp_root}/ocf_empty.avro"
    avro.write_container(p, _SCH, [])
    assert avro.read_container(p)[2] == []
    with open(p, "r+b") as fh:  # flip a sync byte -> corrupt-block error
        avro.write_container(p, _SCH, _RECS, codec="null")
    with open(p, "r+b") as fh:
        fh.seek(-1, os.SEEK_END)
        last = fh.read(1)
        fh.seek(-1, os.SEEK_END)
        fh.write(bytes([last[0] ^ 0xFF]))
    with pytest.raises(ValueError, match="sync marker"):
        avro.read_container(p)


def test_ocf_reader_is_writer_agnostic(tmp_root):
    """A file whose schema carries EXTRA optional fields (e.g. Iceberg
    column stats this repo's writer omits) decodes via its own embedded
    schema."""
    rich = {
        "type": "record",
        "name": "r",
        "fields": _SCH["fields"]
        + [{"name": "extra_stats", "type": ["null", "long"], "default": None}],
    }
    p = f"{tmp_root}/ocf_rich.avro"
    avro.write_container(
        p, rich, [{**_RECS[0], "extra_stats": 5}], codec="deflate"
    )
    _, _, out = avro.read_container(p)
    assert out[0]["extra_stats"] == 5 and out[0]["a"] == "x"


# ---------------------------------------------------------------------------
# spec structure goldens (field names/ids per the Iceberg v2 spec tables)
# ---------------------------------------------------------------------------


def _ids(schema):
    return {f["name"]: f["field-id"] for f in schema["fields"]}


def test_manifest_schemas_match_spec_ids():
    assert _ids(im.MANIFEST_ENTRY_SCHEMA) == {
        "status": 0,
        "snapshot_id": 1,
        "sequence_number": 3,
        "file_sequence_number": 4,
        "data_file": 2,
    }
    assert _ids(im.DATA_FILE_SCHEMA) == {
        "content": 134,
        "file_path": 100,
        "file_format": 101,
        "partition": 102,
        "record_count": 103,
        "file_size_in_bytes": 104,
        "lower_bounds": 125,
        "upper_bounds": 128,
    }
    mf = _ids(im.MANIFEST_FILE_SCHEMA)
    assert mf["manifest_path"] == 500
    assert mf["content"] == 517
    assert mf["sequence_number"] == 515
    assert mf["min_sequence_number"] == 516
    assert mf["added_snapshot_id"] == 503
    assert mf["added_rows_count"] == 512
    assert mf["partitions"] == 507


def _mk_parquet(path: str, n: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"x": list(range(n))}), path)
    return path


def test_create_append_resolve(tmp_root):
    loc = f"{tmp_root}/ice_plain"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(loc, DEFAULT_TABLE.changelog_schema(), created_ms=1000)
    s1 = im.append_files(
        loc,
        [_mk_parquet(f"{loc}/data/a{i}.parquet", 10 + i) for i in range(2)],
        timestamp_ms=2000,
    )
    s2 = im.append_files(
        loc, [_mk_parquet(f"{loc}/data/b0.parquet", 5)], timestamp_ms=3000
    )

    allb = im.added_files(loc)
    assert [b["snapshot_id"] for b in allb] == [s1, s2]
    assert [b["record_count"] for b in allb] == [21, 5]
    # each snapshot resolves ONLY its own added files (prior manifests in
    # the list are recognized by added_snapshot_id and not re-consumed)
    assert len(allb[1]["files"]) == 1

    # incremental resume + initial lookback (S3 analog)
    assert [b["snapshot_id"] for b in im.added_files(loc, after_snapshot_id=s1)] == [s2]
    assert [b["snapshot_id"] for b in im.added_files(loc, from_timestamp_ms=2500)] == [s2]
    with pytest.raises(ValueError, match="not in table history"):
        im.added_files(loc, after_snapshot_id=999)

    md = im.current_metadata(loc)
    assert md["format-version"] == 2
    assert md["current-snapshot-id"] == s2
    assert md["last-sequence-number"] == 2
    # manifest file-metadata keys the spec requires
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == s2)
    _, _, manifests = avro.read_container(snap["manifest-list"])
    _, mmeta, _ = avro.read_container(manifests[-1]["manifest_path"])
    for k in ("schema", "partition-spec-id", "format-version", "content"):
        assert k in mmeta


def test_unsupported_column_type_rejected():
    import pyspark.sql.types as T

    with pytest.raises(TypeError, match="unsupported changelog column"):
        im.iceberg_schema_of(
            T.StructType([T.StructField("d", T.DecimalType(10, 2))])
        )


# ---------------------------------------------------------------------------
# snapshot-incremental exactly-once stream
# ---------------------------------------------------------------------------


def _cfg(tmp, name) -> EngineConfig:
    return EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        checkpoint_dir=f"{tmp}/{name}/ckpt",
        output_dir=f"{tmp}/{name}/out",
        lineage_dir=f"{tmp}/{name}/lineage",
    )


@pytest.fixture(scope="module")
def ice_pdf():
    return make_changelog(FixtureSpec(n_events=900, n_clips=120, n_shards=4))


def _ice_table(tmp_root, pdf, name, n_snaps):
    """Changelog rows split into n_snaps arrival-ordered Iceberg snapshots."""
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    loc = f"{tmp_root}/{name}"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(loc, DEFAULT_TABLE.changelog_schema(), created_ms=0)
    size = (len(pdf) + n_snaps - 1) // n_snaps
    sids = []
    for i in range(n_snaps):
        p = f"{loc}/data/chunk-{i:03d}.parquet"
        write_changelog_chunk(pdf.iloc[i * size : (i + 1) * size], p)
        sids.append(im.append_files(loc, [p], timestamp_ms=(i + 1) * 1000))
    return loc, sids


def test_iceberg_stream_matches_batch(spark, tmp_root, ice_pdf):
    """The jarless snapshot loop equals the single-shot batch plan and is
    exactly-once idempotent on rerun."""
    loc, sids = _ice_table(tmp_root, ice_pdf, "ice_tbl", n_snaps=3)
    cfg = _cfg(tmp_root, "ice_parity")

    res = run_iceberg_meta_stream(spark, cfg, loc)
    assert res["consumed"] == sids and res["skipped"] == []

    got = sink_mod.read_emitted(spark, cfg)
    ref = cdc_envelopes(
        spark.read.parquet(f"{loc}/data"), cfg, processing_ts_ms=F.lit(0)
    )
    key = lambda df: {  # noqa: E731
        (r["clip_id"], r["cdc$time_us"], r["op"])
        for r in df.select(
            "clip_id", "`cdc$time_us`", F.col("value.op").alias("op")
        ).collect()
    }
    assert key(got) == key(ref)
    assert got.count() == res["emitted_total"] == ref.count()

    # rerun: every snapshot already committed -> idempotent no-op
    res2 = run_iceberg_meta_stream(spark, cfg, loc)
    assert res2["consumed"] == [] and res2["skipped"] == sids
    assert res2["emitted_total"] == res["emitted_total"]


def test_iceberg_stream_crash_restart_and_growth(spark, tmp_root, ice_pdf):
    """Crash mid-drain (second snapshot's data file unreadable) leaves a
    committed prefix; the restart consumes ONLY the remainder, and a
    snapshot appended later is picked up incrementally."""
    loc, sids = _ice_table(tmp_root, ice_pdf, "ice_tbl_crash", n_snaps=2)
    cfg = _cfg(tmp_root, "ice_crash")

    f2 = f"{loc}/data/chunk-001.parquet"
    os.rename(f2, f2 + ".hidden")
    with pytest.raises(Exception):
        run_iceberg_meta_stream(spark, cfg, loc)
    assert sink_mod.committed_batch_ids(cfg) == [1]  # prefix committed
    os.rename(f2 + ".hidden", f2)

    res = run_iceberg_meta_stream(spark, cfg, loc)
    assert res["consumed"] == [sids[1]] and res["skipped"] == [sids[0]]

    # table keeps growing: later append -> only the new snapshot runs.
    # Fresh rows (new clip ids, event times bumped past the high-water
    # mark): an append, not a replay — replay semantics are pinned by
    # test_iceberg_stream_reappended_rows_emitted_once below.
    import pandas as pd

    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    extra = make_changelog(
        FixtureSpec(n_events=60, n_clips=20, n_shards=4)
    ).copy()
    extra["clip_id"] = extra["clip_id"] + "-x2"
    extra["cdc$time"] = extra["cdc$time"] + pd.Timedelta(hours=1)
    extra["cdc$time_us"] = extra["cdc$time_us"] + 3_600_000_000
    p = f"{loc}/data/chunk-extra.parquet"
    write_changelog_chunk(extra, p)
    s3 = im.append_files(loc, [p], timestamp_ms=9000)
    res3 = run_iceberg_meta_stream(spark, cfg, loc)
    assert res3["consumed"] == [s3]

    ref = cdc_envelopes(
        spark.read.parquet(f"{loc}/data"), cfg, processing_ts_ms=F.lit(0)
    )
    assert res3["emitted_total"] == ref.count()


def test_iceberg_stream_reappended_rows_emitted_once(spark, tmp_root, ice_pdf):
    """A later snapshot that re-appends the rows of an earlier one (an
    at-least-once upstream writer retrying a commit) is a replay: its
    groups were already emitted, so the stream emits nothing for them and
    still equals the batch plan, with no duplicate (key, time)."""
    loc, sids = _ice_table(tmp_root, ice_pdf, "ice_tbl_replay", n_snaps=2)
    copy = f"{loc}/data/chunk-000-replay.parquet"
    shutil.copyfile(f"{loc}/data/chunk-000.parquet", copy)
    s3 = im.append_files(loc, [copy], timestamp_ms=3000)
    cfg = _cfg(tmp_root, "ice_replay")

    res = run_iceberg_meta_stream(spark, cfg, loc)
    assert res["consumed"] == [*sids, s3]
    last = sink_mod.read_lineage(cfg)[-1]
    assert last["n_records"] == 0 and not last["has_pending"]

    got = sink_mod.read_emitted(spark, cfg)
    ref = cdc_envelopes(
        spark.read.parquet(f"{loc}/data"), cfg, processing_ts_ms=F.lit(0)
    )
    cols = ["clip_id", "`cdc$time_us`", F.col("value.op").alias("op")]
    assert got.select(*cols).exceptAll(ref.select(*cols)).count() == 0
    assert ref.select(*cols).exceptAll(got.select(*cols)).count() == 0


def test_iceberg_empty_snapshot_is_heartbeat(spark, tmp_root, ice_pdf):
    """An empty snapshot advances lineage like an empty CDC window (K4)."""
    loc, sids = _ice_table(tmp_root, ice_pdf, "ice_tbl_hb", n_snaps=1)
    s_empty = im.append_files(loc, [], timestamp_ms=5000)
    cfg = _cfg(tmp_root, "ice_hb")
    res = run_iceberg_meta_stream(spark, cfg, loc)
    assert res["consumed"] == [sids[0], s_empty]
    assert sink_mod.committed_batch_ids(cfg) == [1, 2]


# ---------------------------------------------------------------------------
# sink side: emitted stream -> Iceberg table (zero-copy snapshot per batch)
# ---------------------------------------------------------------------------


def test_iceberg_schema_nested_ids_unique():
    import pyspark.sql.types as T

    sch = T.StructType(
        [
            T.StructField("topic", T.StringType()),
            T.StructField(
                "key",
                T.StructType([T.StructField("clip_id", T.StringType(), False)]),
            ),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        ]
    )
    s = im.iceberg_schema_of(sch)

    def walk(node, out):
        if isinstance(node, dict):
            for k, v in node.items():
                if k.endswith("-id") and k != "schema-id":
                    out.append(v)
                elif k == "id":
                    out.append(v)
                else:
                    walk(v, out)
        elif isinstance(node, list):
            for v in node:
                walk(v, out)
        return out

    ids = walk(s, [])
    assert len(ids) == len(set(ids)) == im._max_field_id(s)
    assert s["fields"][1]["type"]["type"] == "struct"
    assert s["fields"][2]["type"]["type"] == "list"
    assert s["fields"][3]["type"]["type"] == "map"


def test_maintain_iceberg_table(spark, tmp_root, ice_pdf):
    """Committed sink batches become snapshots (zero-copy), read_table
    equals read_emitted, and the pass is idempotent across reruns AND
    across a lost _applied marker (the sccs-batch-id stamp)."""
    from scylla_cdc_source_connector_spark.streaming.engine import run_stream

    d = f"{tmp_root}/ice_mirror_in"
    os.makedirs(d, exist_ok=True)
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    for i in range(3):
        write_changelog_chunk(
            ice_pdf.iloc[i * 300 : (i + 1) * 300], f"{d}/chunk-{i:03d}.parquet"
        )
    cfg = _cfg(tmp_root, "ice_mirror")
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)

    loc = f"{tmp_root}/ice_mirror_tbl"
    n = im.maintain_iceberg_table(spark, cfg, loc)
    bids = sink_mod.committed_batch_ids(cfg)
    assert n == len([b for b in bids if os.path.isdir(sink_mod.batch_output_path(cfg, b))])

    got = im.read_table(spark, loc)
    ref = sink_mod.read_emitted(spark, cfg)
    assert got.count() == ref.count()
    key = lambda df: {  # noqa: E731
        (r["clip_id"], r["cdc$time_us"])
        for r in df.select("clip_id", "`cdc$time_us`").collect()
    }
    assert key(got) == key(ref)

    # idempotent rerun
    assert im.maintain_iceberg_table(spark, cfg, loc) == 0
    # crash between metadata commit and marker: lose a marker, rerun —
    # the summary stamp prevents a duplicate snapshot
    snaps_before = len(im.snapshots(loc))
    os.remove(os.path.join(loc, "_applied", f"batch-{bids[-1]}.json"))
    assert im.maintain_iceberg_table(spark, cfg, loc) == 0
    assert len(im.snapshots(loc)) == snaps_before
    assert im.read_table(spark, loc).count() == ref.count()


# ---------------------------------------------------------------------------
# partition specs: hour(cdc$time) layout + metadata-level pruning
# ---------------------------------------------------------------------------


def _hour_table(tmp_root, name, n_files=3):
    """Table partitioned by hour(cdc$time) with one hour-pure file per
    even hour (0, 2, 4, ...)."""
    import pandas as pd

    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    loc = f"{tmp_root}/{name}"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(
        loc, DEFAULT_TABLE.changelog_schema(), partition_by=[("cdc$time", "hour")]
    )
    pdf = make_changelog(FixtureSpec(n_events=300, n_clips=60, n_shards=4))
    base = pdf["cdc$time"].min().floor("h")
    for i in range(n_files):
        sl = pdf.iloc[i * 100 : (i + 1) * 100].copy()
        sl["cdc$time"] = (
            base
            + pd.Timedelta(hours=i * 2)
            + pd.to_timedelta((sl["cdc$time_us"] % 3_000_000_000) // 1_000, unit="ms")
        )
        sl["cdc$time_us"] = sl["cdc$time"].astype("int64") // 1000
        p = f"{loc}/data/h{i}.parquet"
        write_changelog_chunk(sl, p)
        im.append_files(loc, [p], timestamp_ms=(i + 1) * 1000)
    return loc


def test_partition_spec_hour_pruning(spark, tmp_root):
    loc = _hour_table(tmp_root, "ice_part_hour")
    md = im.current_metadata(loc)
    f = md["partition-specs"][0]["fields"][0]
    assert (f["transform"], f["field-id"]) == ("hour", 1000)

    full = im.scan_files(loc)
    assert len(full["files"]) == 3 and full["manifests_skipped"] == 0
    hours = sorted(p["cdc_time_hour"] for p in full["partitions"])
    assert hours[1] - hours[0] == 2 and hours[2] - hours[1] == 2

    mid = hours[1]
    plan = im.scan_files(loc, partition_ranges={"cdc_time_hour": (mid, mid)})
    # the two other manifests are skipped WITHOUT being opened (field
    # summaries in the manifest list carry the hour bounds)
    assert len(plan["files"]) == 1
    assert plan["manifests_skipped"] == 2 and plan["manifests_total"] == 3

    # pruned read == full read + row filter (row-level parity)
    got = im.read_table(
        spark, loc, partition_ranges={"cdc_time_hour": (mid, mid)}
    ).count()
    lo_us = mid * 3_600_000_000
    want = (
        im.read_table(spark, loc)
        .where(
            (F.col("`cdc$time_us`") >= lo_us)
            & (F.col("`cdc$time_us`") < lo_us + 3_600_000_000)
        )
        .count()
    )
    assert got == want == 100

    # equality pushdown through the hour transform: any timestamp inside
    # the mid hour maps to the same degenerate range
    ranges = im.partition_filter_for(
        loc, {"cdc$time": mid * 3_600_000_000 + 42}
    )
    assert ranges == {"cdc_time_hour": (mid, mid)}

    with pytest.raises(ValueError, match="unknown partition fields"):
        im.scan_files(loc, partition_ranges={"nope": (0, 1)})


def test_partition_purity_enforced(tmp_root):
    """A file spanning two hours violates Iceberg's one-partition-per-file
    invariant and is rejected at append time."""
    import pandas as pd

    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    loc = f"{tmp_root}/ice_part_impure"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(
        loc, DEFAULT_TABLE.changelog_schema(), partition_by=[("cdc$time", "hour")]
    )
    pdf = make_changelog(FixtureSpec(n_events=100, n_clips=30, n_shards=2)).copy()
    base = pdf["cdc$time"].min().floor("h")
    half = len(pdf) // 2
    pdf.loc[pdf.index[:half], "cdc$time"] = base
    pdf.loc[pdf.index[half:], "cdc$time"] = base + pd.Timedelta(hours=3)
    pdf["cdc$time_us"] = pdf["cdc$time"].astype("int64") // 1000
    p = f"{loc}/data/bad.parquet"
    write_changelog_chunk(pdf, p)
    with pytest.raises(ValueError, match="not partition-pure"):
        im.append_files(loc, [p])


def test_identity_partition_and_unknown_transform(tmp_root):
    import pyspark.sql.types as T

    sch = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), False),
        ]
    )
    loc = f"{tmp_root}/ice_part_id"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(loc, sch, partition_by=[("k", "identity")])
    import pyarrow as pa
    import pyarrow.parquet as pq

    for k in ("a", "b"):
        pq.write_table(
            pa.table({"k": [k] * 5, "v": list(range(5))}),
            f"{loc}/data/{k}.parquet",
        )
    im.append_files(loc, [f"{loc}/data/a.parquet", f"{loc}/data/b.parquet"])
    plan = im.scan_files(loc, partition_ranges={"k": ("b", "b")})
    assert len(plan["files"]) == 1 and plan["partitions"] == [{"k": "b"}]

    with pytest.raises(ValueError, match="unsupported partition transform"):
        im.create_table(
            f"{tmp_root}/ice_part_bad", sch, partition_by=[("k", "year")]
        )
    with pytest.raises(ValueError, match="unsupported partition transform"):
        im.create_table(
            f"{tmp_root}/ice_part_bad2", sch, partition_by=[("k", "bucket[]")]
        )


# ---------------------------------------------------------------------------
# schema evolution through table metadata (ALTER TABLE analog, jarless)
# ---------------------------------------------------------------------------


def test_evolve_schema_ids_and_guards(tmp_root):
    import pyspark.sql.types as T

    loc = f"{tmp_root}/ice_evolve_meta"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(loc, DEFAULT_TABLE.changelog_schema())
    md0 = im.current_metadata(loc)
    base_last = md0["last-column-id"]

    evolved = T.StructType(
        list(DEFAULT_TABLE.changelog_schema().fields)
        + [T.StructField("lang", T.StringType(), True)]
    )
    sid = im.evolve_schema(loc, evolved)
    md = im.current_metadata(loc)
    assert sid == md["current-schema-id"] == 1
    new = md["schemas"][1]
    by_name = {f["name"]: f for f in new["fields"]}
    # kept columns keep their ids; the added one gets a fresh id
    old_by_name = {f["name"]: f for f in md["schemas"][0]["fields"]}
    for n, f in old_by_name.items():
        assert by_name[n]["id"] == f["id"]
    assert by_name["lang"]["id"] == base_last + 1
    assert md["last-column-id"] == base_last + 1
    assert im.current_spark_schema(loc)["lang"].dataType.typeName() == "string"

    # a type change is refused (widening is not silent adoption)
    bad = T.StructType(
        [
            T.StructField(
                f.name,
                T.LongType() if f.name == "sr_hz" else f.dataType,
                f.nullable,
            )
            for f in evolved.fields
        ]
    )
    with pytest.raises(ValueError, match="changed type"):
        im.evolve_schema(loc, bad)


def test_iceberg_stream_adopts_evolved_schema(spark, tmp_root, ice_pdf):
    """Snapshot 1 written pre-evolution, snapshot 2 with an added `lang`
    column: adopt_schema=True streams BOTH through the evolved model —
    old rows surface lang=NULL in the envelopes, new rows carry values
    (the parquet path's adopt-at-start rule, now via table metadata)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    from scylla_cdc_source_connector_spark.fixtures import (
        arrow_changelog_schema,
        write_changelog_chunk,
    )

    loc = f"{tmp_root}/ice_evolve_stream"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(loc, DEFAULT_TABLE.changelog_schema())

    p1 = f"{loc}/data/old.parquet"
    write_changelog_chunk(ice_pdf.iloc[:300], p1)
    im.append_files(loc, [p1], timestamp_ms=1000)

    im.evolve_schema(
        loc,
        T.StructType(
            list(DEFAULT_TABLE.changelog_schema().fields)
            + [T.StructField("lang", T.StringType(), True)]
        ),
    )
    new_pdf = ice_pdf.iloc[300:600].copy()
    new_pdf["lang"] = "en"
    sch = arrow_changelog_schema().append(pa.field("lang", pa.string()))
    p2 = f"{loc}/data/new.parquet"
    pq.write_table(
        pa.Table.from_pandas(new_pdf, schema=sch, preserve_index=False), p2
    )
    im.append_files(loc, [p2], timestamp_ms=2000)

    cfg = _cfg(tmp_root, "ice_evolve")
    res = run_iceberg_meta_stream(spark, cfg, loc, adopt_schema=True)
    assert len(res["consumed"]) == 2
    got = sink_mod.read_emitted(spark, cfg)
    assert "lang" in got.select("value.after.*").columns
    langs = dict(
        got.where("value.op in ('c','u')")
        .groupBy(F.col("value.after.lang").alias("lang"))
        .count()
        .collect()
    )
    # both populations present: pre-evolution rows as NULL, new as 'en'
    assert langs.get("en", 0) > 0 and langs.get(None, 0) > 0


# ---------------------------------------------------------------------------
# round 5: position deletes, latest-state mirror, streaming pruning,
# incremental-delivery guards, lineage source stamping
# ---------------------------------------------------------------------------


def _kv_table(tmp_root, name, n_files=2, rows_per=10):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    loc = f"{tmp_root}/{name}"
    shutil.rmtree(loc, ignore_errors=True)
    sch = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.LongType(), False),
        ]
    )
    im.create_table(loc, sch)
    for i in range(n_files):
        base = i * rows_per
        pq.write_table(
            pa.table(
                {
                    "k": [f"k{base + j}" for j in range(rows_per)],
                    "v": [base + j for j in range(rows_per)],
                }
            ),
            f"{loc}/data/f{i}.parquet",
        )
        im.append_files(loc, [f"{loc}/data/f{i}.parquet"], timestamp_ms=i + 1)
    return loc


def test_position_deletes_read_and_delete_where(spark, tmp_root):
    """MoR row-level DELETE: delete_where commits ONE delete snapshot, no
    data file is rewritten, read_table hides the deleted rows, and the
    streaming path never re-delivers (delete snapshot == empty batch)."""
    loc = _kv_table(tmp_root, "ice_posdel")
    assert im.read_table(spark, loc).count() == 20

    data_files_before = sorted(im.live_files(loc))
    sid = im.delete_where(spark, loc, "v % 2 = 0", timestamp_ms=3)
    assert sid == 3
    got = im.read_table(spark, loc)
    assert got.count() == 10 and got.where("v % 2 = 0").count() == 0
    # merge-on-read: data files untouched, one delete file planned
    assert sorted(im.live_files(loc)) == data_files_before
    plan = im.scan_files(loc)
    assert len(plan["delete_files"]) == 1
    # delete rows carry the spec's (file_path, pos) shape, sorted
    dels = spark.read.parquet(*plan["delete_files"]).collect()
    assert {r["file_path"] for r in dels} <= set(data_files_before)
    pairs = [(r["file_path"], r["pos"]) for r in dels]
    assert pairs == sorted(pairs)

    # stacked second delete applies on top of the first
    assert im.delete_where(spark, loc, "v = 1") == 4
    assert im.read_table(spark, loc).count() == 9
    # already-deleted rows are not re-targeted -> no-op, no snapshot
    assert im.delete_where(spark, loc, "v % 2 = 0") == -1
    assert im.current_metadata(loc)["last-sequence-number"] == 4

    # streaming path: delete snapshots surface as EMPTY batches
    batches = im.added_files(loc)
    assert [(b["snapshot_id"], len(b["files"])) for b in batches] == [
        (1, 1),
        (2, 1),
        (3, 0),
        (4, 0),
    ]
    # apply_deletes=False reads the raw (pre-delete) data
    assert im.read_table(spark, loc, apply_deletes=False).count() == 20


def test_added_files_skips_existing_and_nonappend(tmp_root):
    """A merged manifest (real-Iceberg append with manifest compaction)
    re-lists prior files as status=EXISTING under a fresh
    added_snapshot_id: only the ADDED entry may be delivered.  A
    replace-operation snapshot delivers nothing at all."""
    import json as _json

    loc = _kv_table(tmp_root, "ice_merged", n_files=2)
    fa, fb = sorted(im.live_files(loc))
    fc = _mk_parquet(f"{loc}/data/f2.parquet", 7)

    # hand-craft snapshot 3 the way a merging writer would
    md = im.current_metadata(loc)
    snap = md["last-sequence-number"] + 1
    entries = []
    for p, st, sid in [
        (fa, im.ST_EXISTING, 1),
        (fb, im.ST_EXISTING, 2),
        (fc, im.ST_ADDED, snap),
    ]:
        entries.append(
            {
                "status": st,
                "snapshot_id": sid,
                "sequence_number": None,
                "file_sequence_number": None,
                "data_file": {
                    "content": im.CONTENT_DATA,
                    "file_path": os.path.abspath(p),
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 7,
                    "file_size_in_bytes": os.path.getsize(p),
                },
            }
        )
    mdir = os.path.join(loc, "metadata")
    mpath = os.path.join(mdir, f"manifest-merged-{snap}.avro")
    avro.write_container(
        mpath,
        im.MANIFEST_ENTRY_SCHEMA,
        entries,
        metadata={"format-version": "2", "content": "data"},
    )
    lpath = os.path.join(mdir, f"snap-merged-{snap}.avro")
    avro.write_container(
        lpath,
        im.MANIFEST_FILE_SCHEMA,
        [
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0,
                "content": im.CONTENT_DATA,
                "sequence_number": snap,
                "min_sequence_number": 1,
                "added_snapshot_id": snap,
                "added_files_count": 1,
                "existing_files_count": 2,
                "deleted_files_count": 0,
                "added_rows_count": 7,
                "existing_rows_count": 20,
                "deleted_rows_count": 0,
                "partitions": None,
            }
        ],
        metadata={"snapshot-id": str(snap), "format-version": "2"},
    )
    md["snapshots"].append(
        {
            "snapshot-id": snap,
            "parent-snapshot-id": md["current-snapshot-id"],
            "sequence-number": snap,
            "timestamp-ms": 99,
            "manifest-list": lpath,
            "summary": {"operation": "append"},
            "schema-id": md["current-schema-id"],
        }
    )
    md["current-snapshot-id"] = snap
    md["last-sequence-number"] = snap
    with open(os.path.join(mdir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    im._write_metadata(loc, md, v + 1)

    batches = im.added_files(loc)
    # the merged snapshot delivers ONLY its ADDED file — fa/fb were
    # consumed in their own batches and must not be re-delivered
    assert [len(b["files"]) for b in batches] == [1, 1, 1]
    assert batches[-1]["files"] == [os.path.abspath(fc)]
    assert batches[-1]["record_count"] == 7
    # the full scan still sees every live file (EXISTING kept there)
    assert len(im.scan_files(loc)["files"]) == 3

    # a replace/compaction snapshot delivers nothing
    fd = _mk_parquet(f"{loc}/data/f3.parquet", 3)
    im._commit_snapshot(loc, [fd], [], operation="replace", timestamp_ms=100)
    assert im.added_files(loc)[-1]["files"] == []


def test_latest_state_mirror(spark, tmp_root, ice_pdf):
    """Compacted mirror == apply.read_latest row-for-row; updates land as
    overwrite snapshots (position deletes + appends); idempotent across
    reruns and across a lost _applied marker (sccs-batch-ids stamp)."""
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk
    from scylla_cdc_source_connector_spark.streaming import apply as apply_mod

    loc, _sids = _ice_table(tmp_root, ice_pdf, "ice_ls_src", n_snaps=2)
    cfg = _cfg(tmp_root, "ice_ls")
    run_iceberg_meta_stream(spark, cfg, loc)

    mir = f"{tmp_root}/ice_ls_mirror"
    assert im.maintain_latest_state_mirror(spark, cfg, mir) == 1
    # first pass: pure append (no prior rows to supersede)
    assert [s["summary"]["operation"] for s in im.snapshots(mir)] == ["append"]

    # second wave: updates + deletes for existing keys -> overwrite snapshot
    import pandas as pd

    extra = ice_pdf.iloc[:200].copy()
    extra["cdc$time"] = extra["cdc$time"] + pd.Timedelta(hours=2)
    extra["cdc$time_us"] = extra["cdc$time_us"] + 7_200_000_000
    p = f"{loc}/data/extra.parquet"
    write_changelog_chunk(extra, p)
    im.append_files(loc, [p], timestamp_ms=9000)
    run_iceberg_meta_stream(spark, cfg, loc)
    assert im.maintain_latest_state_mirror(spark, cfg, mir) == 1
    ops = [s["summary"]["operation"] for s in im.snapshots(mir)]
    assert ops == ["append", "overwrite"]

    tgt = f"{tmp_root}/ice_ls_apply"
    apply_mod.materialize_latest(spark, cfg, target_dir=tgt)
    want = apply_mod.read_latest(spark, tgt)
    got = im.read_table(spark, mir)
    key = lambda df: {  # noqa: E731
        (r["clip_id"], r["__ts_us"], r["transcript"])
        for r in df.select("clip_id", "__ts_us", "transcript").collect()
    }
    assert got.count() == want.count() and key(got) == key(want)
    # one live row per key
    assert got.select("clip_id").distinct().count() == got.count()

    # idempotent rerun; crash window (lost marker) guarded by the stamp
    assert im.maintain_latest_state_mirror(spark, cfg, mir) == 0
    markers = sorted(os.listdir(os.path.join(mir, "_applied")))
    os.remove(os.path.join(mir, "_applied", markers[-1]))
    n_snaps = len(im.snapshots(mir))
    assert im.maintain_latest_state_mirror(spark, cfg, mir) == 0
    assert len(im.snapshots(mir)) == n_snaps
    assert im.read_table(spark, mir).count() == want.count()


def test_streaming_partition_subset_parity(spark, tmp_root):
    """Per-task stream-subset pushdown (ConfigSerializerUtil.java:39-52
    analog): a 2-shard identity(cdc$stream_id) table drained as two
    disjoint scoped streams — manifests outside the scope are skipped
    UNOPENED, and subset ∪ complement == the full drain."""
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    pdf = make_changelog(FixtureSpec(n_events=600, n_clips=80, n_shards=2))
    loc = f"{tmp_root}/ice_subset_tbl"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(
        loc,
        DEFAULT_TABLE.changelog_schema(),
        partition_by=[("cdc$stream_id", "identity")],
    )
    # snapshots 1/2: single-shard (whole-manifest pruning); snapshot 3:
    # both shards in one snapshot (entry-level pruning)
    shards = sorted(pdf["cdc$stream_id"].unique())
    assert len(shards) == 2
    half = pdf.iloc[: len(pdf) // 2]
    rest = pdf.iloc[len(pdf) // 2 :]
    for i, sid in enumerate(shards):
        p = f"{loc}/data/s{i}.parquet"
        write_changelog_chunk(half[half["cdc$stream_id"] == sid], p)
        im.append_files(loc, [p], timestamp_ms=i + 1)
    mixed = []
    for i, sid in enumerate(shards):
        p = f"{loc}/data/m{i}.parquet"
        write_changelog_chunk(rest[rest["cdc$stream_id"] == sid], p)
        mixed.append(p)
    im.append_files(loc, mixed, timestamp_ms=10)

    def emitted_keys(cfg):
        df = sink_mod.read_emitted(spark, cfg)
        return {
            (r["clip_id"], r["cdc$time_us"], r["op"])
            for r in df.select(
                "clip_id", "`cdc$time_us`", F.col("value.op").alias("op")
            ).collect()
        }

    cfg_full = _cfg(tmp_root, "ice_subset_full")
    run_iceberg_meta_stream(spark, cfg_full, loc)

    cfg_a = _cfg(tmp_root, "ice_subset_a")
    res_a = run_iceberg_meta_stream(
        spark,
        cfg_a,
        loc,
        partition_ranges={"cdc_stream_id": (shards[0], shards[0])},
    )
    cfg_b = _cfg(tmp_root, "ice_subset_b")
    res_b = run_iceberg_meta_stream(
        spark,
        cfg_b,
        loc,
        partition_ranges={"cdc_stream_id": (shards[1], shards[1])},
    )
    # the other shard's single-shard snapshot is pruned WITHOUT opening
    # its manifest; the mixed snapshot prunes at the entry level
    assert res_a["manifests_skipped"] == 1 and res_a["files_skipped"] == 1
    assert res_b["manifests_skipped"] == 1 and res_b["files_skipped"] == 1
    # every snapshot still heartbeats in both scoped drains (lineage
    # stays monotone even when a batch is fully pruned)
    assert len(res_a["consumed"]) == len(res_b["consumed"]) == 3

    ka, kb, kf = emitted_keys(cfg_a), emitted_keys(cfg_b), emitted_keys(cfg_full)
    assert ka and kb and not (ka & kb)
    assert (ka | kb) == kf


def test_lineage_source_stamp_guard(spark, tmp_root, ice_pdf):
    """One lineage namespace cannot be shared across source modes (the
    two paths number batches differently) or across partition scopes."""
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk
    from scylla_cdc_source_connector_spark.streaming.engine import run_stream

    d = f"{tmp_root}/stamp_chunks"
    os.makedirs(d, exist_ok=True)
    write_changelog_chunk(ice_pdf.iloc[:100], f"{d}/c0.parquet")
    cfg = _cfg(tmp_root, "stamp_guard")
    q = run_stream(spark, cfg, d, available_now=True)
    q.awaitTermination(120)

    loc, _ = _ice_table(tmp_root, ice_pdf, "ice_stamp_tbl", n_snaps=1)
    with pytest.raises(ValueError, match="belongs to source"):
        run_iceberg_meta_stream(spark, cfg, loc)

    # scope is part of the identity too
    cfg2 = _cfg(tmp_root, "stamp_guard2")
    run_iceberg_meta_stream(spark, cfg2, loc)
    with pytest.raises(ValueError, match="belongs to source"):
        run_iceberg_meta_stream(
            spark, cfg2, loc, partition_ranges={"nope": (0, 1)}
        )


def test_evolve_schema_nested_id_stability(tmp_root):
    """Dropping a column BEFORE a kept list column must not shift the
    kept column's nested ids or spuriously raise 'changed type'."""
    import pyspark.sql.types as T

    loc = f"{tmp_root}/ice_evolve_nested"
    shutil.rmtree(loc, ignore_errors=True)
    sch = T.StructType(
        [
            T.StructField("a", T.IntegerType(), False),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
            T.StructField("c", T.StringType(), True),
        ]
    )
    im.create_table(loc, sch)
    old = im.current_metadata(loc)["schemas"][0]
    old_tags = next(f for f in old["fields"] if f["name"] == "tags")

    # drop `a`: fresh depth-first numbering would renumber tags' element
    im.evolve_schema(
        loc,
        T.StructType(
            [
                T.StructField("tags", T.ArrayType(T.StringType()), True),
                T.StructField("c", T.StringType(), True),
                T.StructField("d", T.LongType(), True),
            ]
        ),
    )
    md = im.current_metadata(loc)
    new = md["schemas"][md["current-schema-id"]]
    new_tags = next(f for f in new["fields"] if f["name"] == "tags")
    assert new_tags["id"] == old_tags["id"]
    assert new_tags["type"]["element-id"] == old_tags["type"]["element-id"]


def test_read_table_empty_pruned_scan(spark, tmp_root):
    """A pruned scan matching zero files is an EMPTY typed result, not an
    error; only a never-appended table errors."""
    loc = _hour_table(tmp_root, "ice_empty_scan")
    got = im.read_table(
        spark, loc, partition_ranges={"cdc_time_hour": (10**6, 10**6)}
    )
    assert got.count() == 0
    assert got.schema == im.current_spark_schema(loc)

    loc2 = f"{tmp_root}/ice_never_appended"
    shutil.rmtree(loc2, ignore_errors=True)
    im.create_table(loc2, DEFAULT_TABLE.changelog_schema())
    with pytest.raises(ValueError, match="no current snapshot"):
        im.read_table(spark, loc2)


def test_inexact_partition_stats_rejected(tmp_root, monkeypatch):
    """Truncated (inexact) footer stats cannot derive a partition value."""
    import types

    st = types.SimpleNamespace(
        has_min_max=True,
        min="aaaa",
        max="aaab",
        is_min_value_exact=True,
        is_max_value_exact=False,  # truncated upper bound
    )
    rg = types.SimpleNamespace(column=lambda ci: types.SimpleNamespace(statistics=st))
    arrow_schema = types.SimpleNamespace(names=["k", "v"])
    meta = types.SimpleNamespace(
        num_row_groups=1,
        num_rows=1,
        row_group=lambda i: rg,
        schema=types.SimpleNamespace(to_arrow_schema=lambda: arrow_schema),
    )
    import pyarrow.parquet as pq

    monkeypatch.setattr(pq, "read_metadata", lambda p: meta)
    spec_fields = [
        {"name": "k", "transform": "identity", "source-id": 1, "field-id": 1000}
    ]
    schema = {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {"id": 1, "name": "k", "required": True, "type": "string"},
            {"id": 2, "name": "v", "required": True, "type": "long"},
        ],
    }
    with pytest.raises(ValueError, match="inexact"):
        im._file_partition_values("/nope.parquet", spec_fields, schema, ["string"])


def test_mirror_stream_interop_loop(spark, tmp_root, ice_pdf):
    """Self-interop loop (closest stand-in for cross-writer interop with
    no second Iceberg writer in the sandbox): changelog table → engine →
    append-only envelope mirror, then the mirror consumed BACK through
    the snapshot-incremental stream layer (added_files, the same
    resolution run_iceberg_meta_stream drains with) — per-batch union ==
    read_table == the exactly-once emitted view, and resume-from-snapshot
    covers exactly the complement."""
    loc, _sids = _ice_table(tmp_root, ice_pdf, "ice_loop_src", n_snaps=3)
    cfg = _cfg(tmp_root, "ice_loop")
    run_iceberg_meta_stream(spark, cfg, loc)
    mir = f"{tmp_root}/ice_loop_mirror"
    n_snaps = im.maintain_iceberg_table(spark, cfg, mir)
    assert n_snaps == 3

    batches = im.added_files(mir)
    assert [len(b["files"]) > 0 for b in batches] == [True] * 3
    # each mirror snapshot is stamped with the sink batch it mirrors
    stamps = [
        s["summary"]["sccs-batch-id"] for s in im.snapshots(mir)
    ]
    assert sorted(int(x) for x in stamps) == sink_mod.committed_batch_ids(cfg)

    inc = spark.read.parquet(*[f for b in batches for f in b["files"]])
    bat = im.read_table(spark, mir)
    emitted = sink_mod.read_emitted(spark, cfg)
    key = lambda df: {  # noqa: E731
        (r["clip_id"], r["cdc$time_us"])
        for r in df.select("clip_id", "`cdc$time_us`").collect()
    }
    assert inc.count() == bat.count() == emitted.count()
    assert key(inc) == key(bat) == key(emitted)

    # resume past the first mirror snapshot reads exactly the complement
    first = batches[0]
    rest = im.added_files(mir, after_snapshot_id=first["snapshot_id"])
    got_rest = spark.read.parquet(*[f for b in rest for f in b["files"]])
    got_first = spark.read.parquet(*first["files"])
    assert key(got_first) | key(got_rest) == key(bat)
    assert not (key(got_first) & key(got_rest))


def test_equality_deletes(spark, tmp_root):
    """Spec §Equality Delete Files: a key-valued delete hides rows from
    STRICTLY OLDER data files only — re-appends of the same key after
    the delete survive, same-snapshot appends survive (the upsert
    shape), and position deletes stack on top."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = _kv_table(tmp_root, "ice_eqdel", n_files=1, rows_per=10)
    keys = spark.createDataFrame([(f"k{i}",) for i in range(5)], "k string")
    sid = im.write_equality_deletes(spark, loc, keys, ["k"], timestamp_ms=2)
    assert sid == 2
    assert im.read_table(spark, loc).count() == 5

    # manifest entry carries the spec's equality_ids (the key's field id)
    plan = im.scan_files(loc)
    assert [d["equality_ids"] for d in plan["equality_deletes"]] == [[1]]
    assert plan["equality_deletes"][0]["sequence"] == 2

    # strictly-older rule: same keys re-appended AFTER the delete survive
    pq.write_table(
        pa.table({"k": ["k0", "k1"], "v": [100, 101]}), f"{loc}/data/re.parquet"
    )
    im.append_files(loc, [f"{loc}/data/re.parquet"], timestamp_ms=3)
    got = im.read_table(spark, loc)
    assert got.count() == 7
    assert sorted(
        r["v"] for r in got.where("k in ('k0','k1')").collect()
    ) == [100, 101]

    # position delete stacks on top of the equality delete
    assert im.delete_where(spark, loc, "v = 100") == 4
    assert im.read_table(spark, loc).count() == 6

    # one-snapshot upsert: data + equality delete together ("overwrite")
    pq.write_table(pa.table({"k": ["k9"], "v": [900]}), f"{loc}/data/up.parquet")
    im.write_equality_deletes(
        spark,
        loc,
        spark.createDataFrame([("k9",)], "k string"),
        ["k"],
        data_files=[f"{loc}/data/up.parquet"],
        operation="overwrite",
        timestamp_ms=5,
    )
    got = im.read_table(spark, loc)
    assert [r["v"] for r in got.where("k = 'k9'").collect()] == [900]

    # unknown equality column refused; delete AND overwrite snapshots
    # stream as empty batches (only plain appends deliver rows)
    with pytest.raises(ValueError, match="not in table schema"):
        im.write_equality_deletes(spark, loc, keys, ["nope"])
    assert [len(b["files"]) for b in im.added_files(loc)] == [1, 0, 1, 0, 0]


def test_latest_state_mirror_equality_mode(spark, tmp_root, ice_pdf):
    """delete_mode='equality' (the Flink-upsert writer shape, no mirror
    scan per pass) reads back EXACTLY like the position-delete mirror."""
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    loc, _sids = _ice_table(tmp_root, ice_pdf, "ice_lseq_src", n_snaps=2)
    cfg = _cfg(tmp_root, "ice_lseq")
    run_iceberg_meta_stream(spark, cfg, loc)
    mir_eq = f"{tmp_root}/ice_lseq_mirror"
    assert im.maintain_latest_state_mirror(
        spark, cfg, mir_eq, delete_mode="equality"
    ) == 1

    import pandas as pd

    extra = ice_pdf.iloc[:200].copy()
    extra["cdc$time"] = extra["cdc$time"] + pd.Timedelta(hours=2)
    extra["cdc$time_us"] = extra["cdc$time_us"] + 7_200_000_000
    p = f"{loc}/data/extra2.parquet"
    write_changelog_chunk(extra, p)
    im.append_files(loc, [p], timestamp_ms=9000)
    run_iceberg_meta_stream(spark, cfg, loc)
    assert im.maintain_latest_state_mirror(
        spark, cfg, mir_eq, delete_mode="equality"
    ) == 1
    # pass 2 committed equality deletes, not position deletes
    plan = im.scan_files(mir_eq)
    assert plan["equality_deletes"] and not plan["delete_files"]

    mir_pos = f"{tmp_root}/ice_lseq_mirror_pos"
    im.maintain_latest_state_mirror(spark, cfg, mir_pos, delete_mode="position")
    key = lambda df: {  # noqa: E731
        (r["clip_id"], r["__ts_us"], r["transcript"])
        for r in df.select("clip_id", "__ts_us", "transcript").collect()
    }
    got_eq = im.read_table(spark, mir_eq)
    got_pos = im.read_table(spark, mir_pos)
    assert got_eq.count() == got_pos.count()
    assert key(got_eq) == key(got_pos)
    # idempotent rerun
    assert im.maintain_latest_state_mirror(
        spark, cfg, mir_eq, delete_mode="equality"
    ) == 0


# ---------------------------------------------------------------------------
# table maintenance: compaction (rewrite data files) + snapshot expiration
# ---------------------------------------------------------------------------


def test_compact_table_folds_deletes(spark, tmp_root):
    """compact_table rewrites the merge-on-read state as fresh files in
    ONE replace snapshot: position AND equality deletes fold into the
    data, reads return to a plain parquet scan, and the streaming path
    sees the replace snapshot as a 0-row heartbeat (no re-delivery)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = f"{tmp_root}/ice_compact"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(f"{loc}/data")
    sch = spark.createDataFrame([(0, "x")], "k int, v string").schema
    im.create_table(loc, sch)
    for i in range(3):
        p = f"{loc}/data/c{i}.parquet"
        pq.write_table(
            pa.table(
                {
                    "k": list(range(i * 100, (i + 1) * 100)),
                    "v": [f"v{j}" for j in range(i * 100, (i + 1) * 100)],
                }
            ),
            p,
        )
        im.append_files(loc, [p], timestamp_ms=i + 1)
    im.delete_where(spark, loc, "k % 10 = 3", timestamp_ms=4)
    im.write_equality_deletes(
        spark, loc, spark.createDataFrame([(7,)], "k int"), ["k"], timestamp_ms=5
    )
    before = {tuple(r) for r in im.read_table(spark, loc).collect()}
    assert len(before) == 300 - 30 - 1

    sid = im.compact_table(spark, loc, timestamp_ms=6)
    assert sid > 0
    plan = im.scan_files(loc)
    assert not plan["delete_files"] and not plan["equality_deletes"]
    assert len(plan["files"]) == 1  # bin-packed
    assert {tuple(r) for r in im.read_table(spark, loc).collect()} == before
    assert sorted(im.live_files(loc)) == sorted(plan["files"])

    # idempotent: nothing left to fold or pack
    assert im.compact_table(spark, loc) == -1
    # stream semantics: only the append snapshots carry rows
    counts = [b["record_count"] for b in im.added_files(loc)]
    assert counts == [100, 100, 100, 0, 0, 0]


def test_compact_partitioned_table(spark, tmp_root):
    """Compaction of an hour-partitioned table writes one partition-pure
    file per live hour (footer-derived partition tuples survive), and
    manifest-list pruning still works on the compacted manifest."""
    loc = _hour_table(tmp_root, "ice_compact_hour")
    # two row-level delete passes -> 2 delete files the next read pays
    im.delete_where(spark, loc, "`cdc$batch_seq_no` = 0", timestamp_ms=7000)
    im.delete_where(spark, loc, "`cdc$batch_seq_no` = 1", timestamp_ms=7500)
    want = {
        (r["clip_id"], r["cdc$time_us"])
        for r in im.read_table(spark, loc)
        .select("clip_id", "`cdc$time_us`")
        .collect()
    }

    sid = im.compact_table(spark, loc, timestamp_ms=8000)
    assert sid > 0
    plan = im.scan_files(loc)
    assert not plan["delete_files"]
    hours = sorted(p["cdc_time_hour"] for p in plan["partitions"])
    assert len(plan["files"]) == 3 and hours[2] - hours[0] == 4
    got = {
        (r["clip_id"], r["cdc$time_us"])
        for r in im.read_table(spark, loc)
        .select("clip_id", "`cdc$time_us`")
        .collect()
    }
    assert got == want
    # pruning: 1 of 1 compacted manifest opened, 1 of 3 files scanned
    mid = hours[1]
    sub = im.scan_files(loc, partition_ranges={"cdc_time_hour": (mid, mid)})
    assert len(sub["files"]) == 1


def test_remove_orphan_files(spark, tmp_root):
    """Failed-commit debris (data file + manifest avro nothing
    references) is reclaimed; referenced files and files younger than
    the safety window survive; dry_run deletes nothing."""
    loc = _hour_table(tmp_root, "ice_orphans")
    want = im.read_table(spark, loc).count()

    # plant debris: an uncommitted parquet in data/ and a stray avro in
    # metadata/ (a writer that died before its metadata swap)
    orphan_data = os.path.join(loc, "data", "orphan-00000.parquet")
    with open(orphan_data, "wb") as f:
        f.write(b"PAR1 not really parquet")
    orphan_manifest = os.path.join(loc, "metadata", "orphan-m0.avro")
    with open(orphan_manifest, "wb") as f:
        f.write(b"Obj\x01 stray manifest")
    # a FRESH orphan inside the safety window must survive
    fresh = os.path.join(loc, "data", "fresh-00000.parquet")
    with open(fresh, "wb") as f:
        f.write(b"PAR1 in-flight write")
    cutoff = int(os.stat(orphan_manifest).st_mtime * 1000) + 1
    os.utime(fresh, (time.time() + 3600, time.time() + 3600))

    dry = im.remove_orphan_files(loc, older_than_ms=cutoff, dry_run=True)
    assert dry["orphans_deleted"] == 2
    assert os.path.exists(orphan_data) and os.path.exists(orphan_manifest)

    stats = im.remove_orphan_files(loc, older_than_ms=cutoff)
    assert stats["orphans_deleted"] == 2 and stats["bytes_reclaimed"] > 0
    assert not os.path.exists(orphan_data)
    assert not os.path.exists(orphan_manifest)
    assert os.path.exists(fresh)  # safety window respected

    # table unharmed: same rows, and a second pass finds nothing
    assert im.read_table(spark, loc).count() == want
    again = im.remove_orphan_files(loc, older_than_ms=cutoff)
    assert again["orphans_deleted"] == 0


def test_expire_snapshots_reclaims_files(spark, tmp_root):
    """expire_snapshots removes expired snapshots' metadata and every
    file only they referenced; retained state reads back identical, and
    a consumer resuming from an expired snapshot gets the explicit
    error (never silent re-delivery)."""
    loc = _hour_table(tmp_root, "ice_expire")
    im.delete_where(spark, loc, "`cdc$batch_seq_no` = 0", timestamp_ms=7000)
    im.compact_table(spark, loc, timestamp_ms=8000)
    want = im.read_table(spark, loc).count()
    n_snaps = len(im.snapshots(loc))
    assert n_snaps == 5  # 3 appends + 1 delete + 1 replace

    with pytest.raises(ValueError, match="keep_last or older_than_ms"):
        im.expire_snapshots(loc)
    with pytest.raises(ValueError, match="keep_last must be"):
        im.expire_snapshots(loc, keep_last=0)

    dry = im.expire_snapshots(loc, keep_last=1, dry_run=True)
    assert dry["snapshots_expired"] == 4
    assert dry["data_files_deleted"] == 3  # the pre-compaction hour files
    assert dry["delete_files_deleted"] == 1
    assert len(im.snapshots(loc)) == n_snaps  # dry run touched nothing

    stats = im.expire_snapshots(loc, keep_last=1)
    assert {k: stats[k] for k in dry if k != "metadata_versions_deleted"} == {
        k: dry[k] for k in dry if k != "metadata_versions_deleted"
    }
    assert stats["metadata_versions_deleted"] > 0
    assert len(im.snapshots(loc)) == 1
    assert im.read_table(spark, loc).count() == want
    # only the compacted files remain on disk
    on_disk = [
        os.path.join(dp, f)
        for dp, _d, fs in os.walk(f"{loc}/data")
        for f in fs
        if f.endswith(".parquet")
    ]
    assert sorted(on_disk) == sorted(im.live_files(loc))
    with pytest.raises(ValueError, match="expired"):
        im.added_files(loc, after_snapshot_id=1)


def test_expire_snapshots_protection_rules(spark, tmp_root):
    """protect_snapshot_ids (the lagging-consumer guard) and the
    older_than_ms AND keep_last combination both hold snapshots back."""
    loc = _hour_table(tmp_root, "ice_expire_guard")  # ts 1000/2000/3000

    # protected snapshot survives keep_last=1
    dry = im.expire_snapshots(
        loc, keep_last=1, protect_snapshot_ids={1}, dry_run=True
    )
    assert dry["snapshots_expired"] == 1  # only snapshot 2 expires

    # both criteria: expire only (older than cutoff) AND (beyond last K)
    dry2 = im.expire_snapshots(
        loc, keep_last=2, older_than_ms=10_000, dry_run=True
    )
    assert dry2["snapshots_expired"] == 1
    dry3 = im.expire_snapshots(
        loc, keep_last=1, older_than_ms=1500, dry_run=True
    )
    assert dry3["snapshots_expired"] == 1  # 2000/3000 pass the cutoff


def test_stream_survives_compaction_and_expiry(spark, tmp_root, ice_pdf):
    """Maintenance never disturbs the exactly-once stream: a drain after
    delete+compact+expire re-delivers nothing, and a fresh append after
    maintenance is picked up incrementally."""
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    loc, sids = _ice_table(tmp_root, ice_pdf, "ice_tbl_maint", n_snaps=2)
    cfg = _cfg(tmp_root, "ice_maint")
    res = run_iceberg_meta_stream(spark, cfg, loc)
    n1 = sink_mod.read_emitted(spark, cfg).count()

    im.delete_where(spark, loc, "`cdc$batch_seq_no` = 0", timestamp_ms=100)
    im.compact_table(spark, loc, force=True, timestamp_ms=200)
    im.expire_snapshots(
        loc, keep_last=1, protect_snapshot_ids=set(res["consumed"])
    )
    res2 = run_iceberg_meta_stream(spark, cfg, loc)
    assert res2["consumed"] != [] or res2["skipped"] != []
    assert sink_mod.read_emitted(spark, cfg).count() == n1

    import pandas as pd

    extra = ice_pdf.iloc[:150].copy()
    extra["cdc$time"] = extra["cdc$time"] + pd.Timedelta(hours=3)
    extra["cdc$time_us"] = extra["cdc$time_us"] + 10_800_000_000
    p = f"{loc}/data/maint-extra.parquet"
    write_changelog_chunk(extra, p)
    im.append_files(loc, [p], timestamp_ms=300)
    run_iceberg_meta_stream(spark, cfg, loc)
    want_delta = cdc_envelopes(
        spark.read.parquet(p), cfg, processing_ts_ms=F.lit(0)
    ).count()
    assert want_delta > 0
    assert sink_mod.read_emitted(spark, cfg).count() == n1 + want_delta


def test_metadata_tables(spark, tmp_root):
    """The <table>$<kind> inspection surface: snapshots/history/
    manifests/files/partitions/refs as DataFrames, correct before and
    after maintenance."""
    loc = _hour_table(tmp_root, "ice_meta_tables")

    snaps = im.metadata_table(spark, loc, "snapshots")
    assert snaps.count() == 3
    ops = [r["operation"] for r in snaps.orderBy("snapshot_id").collect()]
    assert ops == ["append"] * 3
    assert im.metadata_table(spark, loc, "history").count() == 3
    refs = im.metadata_table(spark, loc, "refs").collect()
    assert [(r["name"], r["type"], r["snapshot_id"]) for r in refs] == [
        ("main", "branch", 3)
    ]

    parts = im.metadata_table(spark, loc, "partitions").collect()
    assert len(parts) == 3 and all(
        (r["record_count"], r["file_count"]) == (100, 1) for r in parts
    )
    files = im.metadata_table(spark, loc, "files")
    assert files.where("content = 0").count() == 3

    im.delete_where(spark, loc, "`cdc$batch_seq_no` = 0", timestamp_ms=7000)
    files = im.metadata_table(spark, loc, "files")
    assert files.where("content = 1").count() == 1  # the delete file

    im.compact_table(spark, loc, timestamp_ms=8000)
    snaps = im.metadata_table(spark, loc, "snapshots").orderBy("snapshot_id")
    assert [r["operation"] for r in snaps.collect()][-1] == "replace"
    files = im.metadata_table(spark, loc, "files")
    assert files.where("content != 0").count() == 0
    total = im.metadata_table(spark, loc, "partitions").groupBy().sum(
        "record_count"
    ).collect()[0][0]
    assert total == im.read_table(spark, loc).count()

    with pytest.raises(ValueError, match="unknown metadata table"):
        im.metadata_table(spark, loc, "nope")


def test_mirror_auto_maintenance(spark, tmp_root, ice_pdf):
    """maintain_latest_state_mirror(compact_every=2, expire_keep_last=1):
    the long-running mirror compacts and expires itself on cadence, the
    read-back stays identical to an unmaintained mirror, and applied
    markers keep replay-safety across the expiry."""
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    loc, _sids = _ice_table(tmp_root, ice_pdf, "ice_automaint_src", n_snaps=1)
    cfg = _cfg(tmp_root, "ice_automaint")
    mir = f"{tmp_root}/ice_automaint_mirror"
    plain = f"{tmp_root}/ice_automaint_plain"

    import pandas as pd

    for wave in range(3):
        if wave:
            extra = ice_pdf.iloc[: 150 * wave].copy()
            extra["cdc$time"] = extra["cdc$time"] + pd.Timedelta(hours=wave)
            extra["cdc$time_us"] = (
                extra["cdc$time_us"] + wave * 3_600_000_000
            )
            p = f"{loc}/data/wave{wave}.parquet"
            write_changelog_chunk(extra, p)
            im.append_files(loc, [p], timestamp_ms=1000 * (wave + 1))
        run_iceberg_meta_stream(spark, cfg, loc)
        im.maintain_latest_state_mirror(
            spark,
            cfg,
            mir,
            compact_every=2,
            expire_keep_last=1,
            compact_sort_by=["clip_id"],
        )
        im.maintain_latest_state_mirror(spark, cfg, plain)

    ops = [s["summary"]["operation"] for s in im.snapshots(mir)]
    assert "replace" in ops  # compaction fired on cadence
    # the cadence compaction is key-clustered: the sort order landed in
    # table metadata (file-count skipping effectiveness is pinned by
    # test_sorted_compaction_data_skipping)
    md_mir = im.current_metadata(mir)
    assert md_mir["default-sort-order-id"] == 1
    assert im.snapshots(mir)[ops.index("replace")]["summary"][
        "sorted-by"
    ] == "clip_id"
    # expiry pruned everything older than the last replace snapshot
    assert ops.index("replace") == 0
    # MoR debt is BOUNDED by the cadence: at most compact_every-1
    # overwrite snapshots' delete files outstanding at any time
    plan = im.scan_files(mir)
    assert len(plan["delete_files"]) + len(plan["equality_deletes"]) < 2

    key = lambda df: {  # noqa: E731
        (r["clip_id"], r["__ts_us"])
        for r in df.select("clip_id", "__ts_us").collect()
    }
    got, want = im.read_table(spark, mir), im.read_table(spark, plain)
    assert got.count() == want.count() and key(got) == key(want)

    # replay-safety across expiry: another pass applies nothing
    assert im.maintain_latest_state_mirror(
        spark, cfg, mir, compact_every=2, expire_keep_last=1
    ) == 0
    assert key(im.read_table(spark, mir)) == key(want)

    # orphan reclamation rides the cadence: failed-commit debris planted
    # in the mirror is gone after a pass with the safety cutoff
    debris = os.path.join(mir, "data", "orphan-dead.parquet")
    with open(debris, "wb") as f:
        f.write(b"PAR1 dead write")
    im.maintain_latest_state_mirror(
        spark,
        cfg,
        mir,
        compact_every=2,
        expire_keep_last=1,
        remove_orphans_older_than_ms=int(time.time() * 1000) + 60_000,
    )
    assert not os.path.exists(debris)
    assert key(im.read_table(spark, mir)) == key(want)


def test_time_travel_reads(spark, tmp_root):
    """snapshot_id / as_of_timestamp_ms read the table exactly as of a
    historical snapshot: deletes since then reappear, appends since are
    absent, and the historical MoR view is exact (delete files resolve
    from that snapshot's own manifest list)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = f"{tmp_root}/ice_tt"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(f"{loc}/data")
    sch = spark.createDataFrame([(0, "x")], "k int, v string").schema
    im.create_table(loc, sch)
    for i in range(3):
        p = f"{loc}/data/c{i}.parquet"
        pq.write_table(
            pa.table({"k": list(range(i * 10, (i + 1) * 10)), "v": ["a"] * 10}),
            p,
        )
        im.append_files(loc, [p], timestamp_ms=(i + 1) * 1000)
    im.delete_where(spark, loc, "k < 5", timestamp_ms=4000)  # snap 4
    im.compact_table(spark, loc, timestamp_ms=5000)  # snap 5 (replace)

    assert im.read_table(spark, loc).count() == 25
    assert im.read_table(spark, loc, snapshot_id=2).count() == 20
    assert im.read_table(spark, loc, as_of_timestamp_ms=1500).count() == 10
    # as-of BETWEEN delete and compaction: the MoR view already excludes
    # the deleted rows
    assert im.read_table(spark, loc, as_of_timestamp_ms=4500).count() == 25
    with pytest.raises(ValueError, match="not in table history"):
        im.read_table(spark, loc, snapshot_id=99)
    with pytest.raises(ValueError, match="not both"):
        im.read_table(spark, loc, snapshot_id=2, as_of_timestamp_ms=1)
    with pytest.raises(ValueError, match="at or before"):
        im.read_table(spark, loc, as_of_timestamp_ms=1)
    # time travel composes with expiry: expired snapshot -> explicit error
    im.expire_snapshots(loc, keep_last=1)
    with pytest.raises(ValueError, match="not in table history"):
        im.read_table(spark, loc, snapshot_id=2)


def test_read_changes_incremental(spark, tmp_root):
    """Incremental changelog read: appended rows between bounds with
    commit provenance columns, one scan + broadcast file map; replace/
    delete snapshots contribute nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = f"{tmp_root}/ice_changes"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(f"{loc}/data")
    sch = spark.createDataFrame([(0, "x")], "k int, v string").schema
    im.create_table(loc, sch)
    for i in range(3):
        p = f"{loc}/data/c{i}.parquet"
        pq.write_table(
            pa.table({"k": list(range(i * 10, (i + 1) * 10)), "v": ["a"] * 10}),
            p,
        )
        im.append_files(loc, [p], timestamp_ms=(i + 1) * 1000)
    im.delete_where(spark, loc, "k = 1", timestamp_ms=4000)
    im.compact_table(spark, loc, force=True, timestamp_ms=5000)

    ch = im.read_changes(spark, loc, after_snapshot_id=1)
    assert ch.count() == 20  # snaps 2+3 only; delete/replace add nothing
    got = {
        r["_snapshot_id"]: (r["count"], r["ts"])
        for r in ch.groupBy("_snapshot_id")
        .agg(
            F.count("*").alias("count"),
            F.max("_commit_timestamp_ms").alias("ts"),
        )
        .collect()
    }
    assert got == {2: (10, 2000), 3: (10, 3000)}
    assert im.read_changes(
        spark, loc, after_snapshot_id=1, to_snapshot_id=2
    ).count() == 10
    assert im.read_changes(
        spark, loc, from_timestamp_ms=3000
    ).count() == 10
    empty = im.read_changes(spark, loc, after_snapshot_id=5)
    assert empty.count() == 0
    assert "_sequence_number" in empty.columns
    with pytest.raises(ValueError, match="not in table history"):
        im.read_changes(spark, loc, after_snapshot_id=1, to_snapshot_id=77)


def test_rollback_to(spark, tmp_root):
    """rollback_to moves the main pointer without deleting anything:
    reads reflect the rolled-back state, later snapshots stay until
    expiry, the next commit builds on the rolled-back base, and a
    mistaken rollback is itself rollback-able."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = f"{tmp_root}/ice_rollback"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(f"{loc}/data")
    sch = spark.createDataFrame([(0, "x")], "k int, v string").schema
    im.create_table(loc, sch)
    for i in range(3):
        p = f"{loc}/data/c{i}.parquet"
        pq.write_table(pa.table({"k": [i], "v": ["a"]}), p)
        im.append_files(loc, [p], timestamp_ms=(i + 1) * 1000)
    assert im.read_table(spark, loc).count() == 3

    im.rollback_to(loc, 1, timestamp_ms=4000)
    assert im.current_metadata(loc)["current-snapshot-id"] == 1
    assert im.read_table(spark, loc).count() == 1
    assert len(im.snapshots(loc)) == 3  # nothing deleted
    # $history: 2 and 3 are retained but off the current parent chain
    hist = im.metadata_table(spark, loc, "history").collect()
    assert [(r["snapshot_id"], r["is_current_ancestor"]) for r in hist] == [
        (1, True), (2, False), (3, False), (1, True)
    ]

    im.rollback_to(loc, 3, timestamp_ms=5000)  # roll forward again
    assert im.read_table(spark, loc).count() == 3

    im.rollback_to(loc, 1, timestamp_ms=6000)
    # the next commit builds on the rolled-back base
    p = f"{loc}/data/after-rb.parquet"
    pq.write_table(pa.table({"k": [77], "v": ["b"]}), p)
    im.append_files(loc, [p], timestamp_ms=7000)
    assert {r["k"] for r in im.read_table(spark, loc).collect()} == {0, 77}
    with pytest.raises(ValueError, match="not in table history"):
        im.rollback_to(loc, 42)


def test_refs_tags_protect_and_read(spark, tmp_root):
    """Tags/branches: named pointers readable via read_table(ref=...),
    listed in $refs, and PROTECTING their snapshot from expiry until
    dropped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = f"{tmp_root}/ice_refs"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(f"{loc}/data")
    sch = spark.createDataFrame([(0, "x")], "k int, v string").schema
    im.create_table(loc, sch)
    for i in range(3):
        p = f"{loc}/data/c{i}.parquet"
        pq.write_table(pa.table({"k": [i], "v": ["a"]}), p)
        im.append_files(loc, [p], timestamp_ms=(i + 1) * 1000)

    assert im.create_tag(loc, "release-1", snapshot_id=1) == 1
    im.create_branch(loc, "audit")  # current snapshot (3)
    refs = im.list_refs(loc)
    assert refs["release-1"] == {"snapshot-id": 1, "type": "tag"}
    assert refs["audit"] == {"snapshot-id": 3, "type": "branch"}
    assert refs["main"]["snapshot-id"] == 3
    rows = {
        r["name"]: (r["type"], r["snapshot_id"])
        for r in im.metadata_table(spark, loc, "refs").collect()
    }
    assert rows == {
        "main": ("branch", 3),
        "release-1": ("tag", 1),
        "audit": ("branch", 3),
    }

    assert im.read_table(spark, loc, ref="release-1").count() == 1
    assert im.read_table(spark, loc, ref="audit").count() == 3
    with pytest.raises(ValueError, match="no ref"):
        im.read_table(spark, loc, ref="nope")
    with pytest.raises(ValueError, match="exists"):
        im.create_tag(loc, "release-1")
    with pytest.raises(ValueError, match="main"):
        im.create_tag(loc, "main")

    # the tag pins snapshot 1 through expiry...
    stats = im.expire_snapshots(loc, keep_last=1)
    assert stats["snapshots_expired"] == 1  # only snapshot 2
    assert im.read_table(spark, loc, ref="release-1").count() == 1
    # ...and dropping it makes the snapshot expirable again
    im.drop_ref(loc, "release-1")
    with pytest.raises(ValueError, match="no ref"):
        im.drop_ref(loc, "release-1")
    stats = im.expire_snapshots(loc, keep_last=1)
    assert stats["snapshots_expired"] == 1
    assert [s["snapshot-id"] for s in im.snapshots(loc)] == [3]


def test_column_bounds_data_skipping(spark, tmp_root):
    """Per-column value bounds (spec lower_bounds/upper_bounds 125/128):
    written from exact footer stats, and scan_files(column_ranges=...)
    skips files that provably cannot match — on any boundable column,
    not just partition columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = f"{tmp_root}/ice_bounds"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(f"{loc}/data")
    sch = spark.createDataFrame([(0, "x")], "k int, v string").schema
    im.create_table(loc, sch)
    for i in range(3):
        p = f"{loc}/data/c{i}.parquet"
        pq.write_table(
            pa.table(
                {
                    "k": list(range(i * 100, (i + 1) * 100)),
                    "v": [f"w{j:05d}" for j in range(i * 100, (i + 1) * 100)],
                }
            ),
            p,
        )
        im.append_files(loc, [p], timestamp_ms=i + 1)

    # bounds present with the spec's field-id keys
    cur = im.current_metadata(loc)
    snap = cur["snapshots"][-1]
    from scylla_cdc_source_connector_spark.functions import avro as _avro

    _, _, manifests = _avro.read_container(snap["manifest-list"])
    _, _, entries = _avro.read_container(manifests[-1]["manifest_path"])
    df_ = entries[0]["data_file"]
    ids = {f["name"]: f["id"] for f in cur["schemas"][0]["fields"]}
    lb = {e["key"]: e["value"] for e in df_["lower_bounds"]}
    assert im._bound_value("int", lb[ids["k"]]) == 200
    ub = {e["key"]: e["value"] for e in df_["upper_bounds"]}
    assert im._bound_value("string", ub[ids["v"]]) == "w00299"

    # int-column skipping: only the middle file can hold k in [150, 160]
    plan = im.scan_files(loc, column_ranges={"k": (150, 160)})
    assert len(plan["files"]) == 1 and plan["files_skipped_stats"] == 2
    # string-column skipping
    plan = im.scan_files(loc, column_ranges={"v": ("w00000", "w00050")})
    assert len(plan["files"]) == 1
    # no-match range: zero files, zero opened
    plan = im.scan_files(loc, column_ranges={"k": (10_000, 20_000)})
    assert plan["files"] == [] and plan["files_skipped_stats"] == 3

    # read parity: pruned read + row filter == full read + row filter
    got = (
        im.read_table(spark, loc, column_ranges={"k": (150, 160)})
        .where("k between 150 and 160")
        .count()
    )
    want = im.read_table(spark, loc).where("k between 150 and 160").count()
    assert got == want == 11

    with pytest.raises(ValueError, match="unknown columns"):
        im.scan_files(loc, column_ranges={"nope": (0, 1)})
    # bounds survive compaction (fresh files, fresh footers)
    im.delete_where(spark, loc, "k = 0", timestamp_ms=9)
    im.compact_table(spark, loc, timestamp_ms=10)
    plan = im.scan_files(loc, column_ranges={"k": (10_000, 20_000)})
    assert plan["files"] == []


# ---------------------------------------------------------------------------
# bucket[N] / truncate[W] transforms (spec §Partition Transforms +
# Appendix B) and sorted compaction (spec §Sort Orders)
# ---------------------------------------------------------------------------


def test_bucket_hash_spec_vectors():
    """The vectorized murmur3_x86_32 kernel is pinned to the Iceberg
    spec's published Appendix B test vectors and to an independent
    scalar reference implementation over random inputs."""
    import random

    import numpy as np

    assert im.murmur3_long([34])[0] == 2017239379  # int AND long 34
    assert im.murmur3_bytes([b"iceberg"])[0] == 1210000089
    assert im.murmur3_bytes([b"\x00\x01\x02\x03"])[0] == -188683207

    def scalar(data: bytes) -> int:  # textbook murmur3_x86_32, seed 0
        c1, c2 = 0xCC9E2D51, 0x1B873593
        h1, n = 0, len(data)
        for i in range(0, n & ~3, 4):
            k1 = int.from_bytes(data[i : i + 4], "little")
            k1 = (k1 * c1) & 0xFFFFFFFF
            k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
            k1 = (k1 * c2) & 0xFFFFFFFF
            h1 ^= k1
            h1 = ((h1 << 13) | (h1 >> 19)) & 0xFFFFFFFF
            h1 = (h1 * 5 + 0xE6546B64) & 0xFFFFFFFF
        k1, tail = 0, data[n & ~3 :]
        if len(tail) >= 3:
            k1 ^= tail[2] << 16
        if len(tail) >= 2:
            k1 ^= tail[1] << 8
        if len(tail) >= 1:
            k1 = ((k1 ^ tail[0]) * c1) & 0xFFFFFFFF
            k1 = ((k1 << 15) | (k1 >> 17)) & 0xFFFFFFFF
            h1 ^= (k1 * c2) & 0xFFFFFFFF
        h1 ^= n
        h1 ^= h1 >> 16
        h1 = (h1 * 0x85EBCA6B) & 0xFFFFFFFF
        h1 ^= h1 >> 13
        h1 = (h1 * 0xC2B2AE35) & 0xFFFFFFFF
        h1 ^= h1 >> 16
        return h1 - (1 << 32) if h1 >= 1 << 31 else h1

    rng = random.Random(7)
    blobs = [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 33)))
        for _ in range(300)
    ]
    assert (
        im.murmur3_bytes(blobs)
        == np.array([scalar(b) for b in blobs], np.int32)
    ).all()
    longs = [rng.randrange(-(2**63), 2**63) for _ in range(300)] + [0, -1]
    assert (
        im.murmur3_long(longs)
        == np.array(
            [scalar(int(v).to_bytes(8, "little", signed=True)) for v in longs],
            np.int32,
        )
    ).all()
    # truncate semantics: ints floor toward -inf, strings cut codepoints
    assert im.truncate_value(-7, "long", 10) == -10
    assert im.truncate_value(17, "int", 10) == 10
    assert im.truncate_value("hello world", "string", 4) == "hell"


def _bucket_table(tmp_root, name, n_buckets=8, rows=400):
    """(clip_id string, v long) table partitioned bucket[n](clip_id),
    one bucket-pure file per non-empty bucket."""
    import pyarrow as pa
    import pyspark.sql.types as T

    import pyarrow.parquet as pq

    sch = T.StructType(
        [
            T.StructField("clip_id", T.StringType(), False),
            T.StructField("v", T.LongType(), False),
        ]
    )
    loc = f"{tmp_root}/{name}"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(
        loc, sch, partition_by=[("clip_id", f"bucket[{n_buckets}]")]
    )
    clips = [f"clip-{i:012d}" for i in range(rows)]
    buckets = im.bucket_values(clips, "string", n_buckets)
    files = []
    for b in sorted(set(buckets.tolist())):
        ks = [c for c, bb in zip(clips, buckets) if bb == b]
        p = f"{loc}/data/b{b}.parquet"
        pq.write_table(
            pa.table({"clip_id": ks, "v": [len(k) for k in ks]}), p
        )
        files.append(p)
    im.append_files(loc, files, timestamp_ms=1)
    return loc, clips, buckets


def test_bucket_partition_point_lookup(spark, tmp_root):
    """bucket[8](clip_id) layout: partition_filter_for maps a clip_id
    equality to its bucket and the scan opens ~1/8 of the files — the
    hot-key point-lookup plan at 10^12-clip scale."""
    loc, clips, buckets = _bucket_table(tmp_root, "ice_bucket", 8)
    md = im.current_metadata(loc)
    f = md["partition-specs"][0]["fields"][0]
    assert (f["name"], f["transform"]) == ("clip_id_bucket", "bucket[8]")

    full = im.scan_files(loc)
    n_parts = len({p["clip_id_bucket"] for p in full["partitions"]})
    assert len(full["files"]) == n_parts > 4

    key = clips[37]
    want_b = int(buckets[37])
    ranges = im.partition_filter_for(loc, {"clip_id": key})
    assert ranges == {"clip_id_bucket": (want_b, want_b)}
    plan = im.scan_files(loc, partition_ranges=ranges)
    assert len(plan["files"]) == 1
    assert plan["partitions"] == [{"clip_id_bucket": want_b}]

    got = (
        im.read_table(spark, loc, partition_ranges=ranges)
        .where(F.col("clip_id") == key)
        .collect()
    )
    assert len(got) == 1 and got[0]["v"] == len(key)

    # non-partition columns in the equality map contribute nothing
    assert im.partition_filter_for(loc, {"v": 3}) == {}

    # the $partitions inspection surface groups by bucket value
    parts = im.metadata_table(spark, loc, "partitions")
    assert parts.count() == n_parts
    assert (
        parts.where(F.col("partition")["clip_id_bucket"] == str(want_b))
        .select("record_count")
        .collect()[0][0]
        == sum(1 for b in buckets if int(b) == want_b)
    )


def test_bucket_purity_enforced(tmp_root):
    """A file mixing two buckets is rejected at append time — purity is
    checked against the actual column values (footer stats cannot prove
    bucket purity)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    sch = T.StructType(
        [
            T.StructField("clip_id", T.StringType(), False),
            T.StructField("v", T.LongType(), False),
        ]
    )
    loc = f"{tmp_root}/ice_bucket_bad"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(loc, sch, partition_by=[("clip_id", "bucket[4]")])
    clips = [f"clip-{i:012d}" for i in range(50)]
    assert len(set(im.bucket_values(clips, "string", 4).tolist())) > 1
    p = f"{loc}/data/mixed.parquet"
    pq.write_table(pa.table({"clip_id": clips, "v": list(range(50))}), p)
    with pytest.raises(ValueError, match="not partition-pure"):
        im.append_files(loc, [p])


def test_truncate_partition_pruning(tmp_root):
    """truncate[W] over long and string sources: width-W ranges become
    partition values, derived from footer min/max (monotone transform:
    equal truncated bounds prove purity)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    sch = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("s", T.StringType(), False),
        ]
    )
    loc = f"{tmp_root}/ice_trunc"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(
        loc, sch, partition_by=[("k", "truncate[100]"), ("s", "truncate[2]")]
    )
    files = []
    for i, pre in enumerate(("aa", "bb", "cc")):
        ks = list(range(i * 100, i * 100 + 50))
        p = f"{loc}/data/t{i}.parquet"
        pq.write_table(
            pa.table({"k": ks, "s": [f"{pre}-{j}" for j in ks]}), p
        )
        files.append(p)
    im.append_files(loc, files, timestamp_ms=1)
    md = im.current_metadata(loc)
    names = [f["name"] for f in md["partition-specs"][0]["fields"]]
    assert names == ["k_trunc", "s_trunc"]

    plan = im.scan_files(
        loc, partition_ranges=im.partition_filter_for(loc, {"k": 137})
    )
    assert len(plan["files"]) == 1
    assert plan["partitions"][0]["k_trunc"] == 100
    plan = im.scan_files(
        loc, partition_ranges=im.partition_filter_for(loc, {"s": "bb-777"})
    )
    assert len(plan["files"]) == 1
    assert plan["partitions"][0]["s_trunc"] == "bb"

    # impure on the truncate width -> rejected
    p = f"{loc}/data/bad.parquet"
    pq.write_table(
        pa.table({"k": [99, 100], "s": ["aa-1", "aa-2"]}), p
    )
    with pytest.raises(ValueError, match="not partition-pure"):
        im.append_files(loc, [p])


def test_streaming_bucket_scoped_drain(spark, tmp_root):
    """The streaming path accepts bucket-mapped scopes: draining ONLY a
    hot clip's bucket emits exactly the full drain's rows for clips of
    that bucket, with other buckets' manifests never opened."""
    pdf = make_changelog(FixtureSpec(n_events=400, n_clips=60, n_shards=2))
    loc = f"{tmp_root}/ice_bucket_stream"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(
        loc,
        DEFAULT_TABLE.changelog_schema(),
        partition_by=[("clip_id", "bucket[4]")],
    )
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    buckets = im.bucket_values(pdf["clip_id"].tolist(), "string", 4)
    for snap, sl in ((1, pdf.iloc[:200]), (2, pdf.iloc[200:])):
        bs = buckets[: 200] if snap == 1 else buckets[200:]
        files = []
        for b in sorted(set(bs.tolist())):
            p = f"{loc}/data/s{snap}b{b}.parquet"
            write_changelog_chunk(sl[bs == b], p)
            files.append(p)
        im.append_files(loc, files, timestamp_ms=snap)

    hot = pdf["clip_id"].iloc[0]
    ranges = im.partition_filter_for(loc, {"clip_id": hot})
    (hot_b,) = {int(b) for c, b in zip(pdf["clip_id"], buckets) if c == hot}
    assert ranges == {"clip_id_bucket": (hot_b, hot_b)}

    cfg = _cfg(tmp_root, "ice_bucket_scope")
    res = run_iceberg_meta_stream(spark, cfg, loc, partition_ranges=ranges)
    assert res["files_skipped"] > 0

    cfg_full = _cfg(tmp_root, "ice_bucket_full")
    run_iceberg_meta_stream(spark, cfg_full, loc)

    def keys(cfg_):
        return {
            (r["clip_id"], r["cdc$time_us"], r["op"])
            for r in sink_mod.read_emitted(spark, cfg_)
            .select("clip_id", "`cdc$time_us`", F.col("value.op").alias("op"))
            .collect()
        }

    in_bucket = {
        c for c, b in zip(pdf["clip_id"], buckets) if int(b) == hot_b
    }
    got, full = keys(cfg), keys(cfg_full)
    assert {c for c, _, _ in got} == in_bucket
    assert got == {k for k in full if k[0] in in_bucket}


def test_sorted_compaction_data_skipping(spark, tmp_root):
    """compact_table(sort_by=...) range-clusters the rewrite so per-file
    column bounds become DISJOINT: the same point/range predicate that
    skipped nothing before compaction opens O(1) files after — and the
    sort order lands in table metadata (spec §Sort Orders)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    rng_n = 4000
    sch = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("pay", T.StringType(), False),
        ]
    )
    loc = f"{tmp_root}/ice_sorted"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(loc, sch)
    # four appends, each SHUFFLED across the whole key range -> every
    # file's [min,max] spans everything, bounds skipping is useless
    import random

    rng = random.Random(3)
    ks = list(range(rng_n))
    rng.shuffle(ks)
    for i in range(4):
        sl = ks[i * 1000 : (i + 1) * 1000]
        p = f"{loc}/data/u{i}.parquet"
        pq.write_table(
            pa.table({"k": sl, "pay": [f"p{j:06d}" * 4 for j in sl]}), p
        )
        im.append_files(loc, [p], timestamp_ms=i + 1)

    narrow = {"k": (100, 120)}
    before = im.scan_files(loc, column_ranges=narrow)
    assert len(before["files"]) == 4 and before["files_skipped_stats"] == 0

    sid = im.compact_table(
        spark, loc, sort_by=["k"], target_file_mb=0.02, timestamp_ms=9
    )
    assert sid > 0
    md = im.current_metadata(loc)
    assert md["default-sort-order-id"] == 1
    order = next(o for o in md["sort-orders"] if o["order-id"] == 1)
    assert order["fields"][0]["transform"] == "identity"
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
    assert snap["summary"]["sorted-by"] == "k"

    after = im.scan_files(loc, column_ranges=narrow)
    # disjoint ranges: the narrow predicate opens at most 2 of the files
    assert after["files_total"] >= 4
    assert len(after["files"]) <= 2
    assert after["files_skipped_stats"] == after["files_total"] - len(
        after["files"]
    )

    got = sorted(
        r["k"]
        for r in im.read_table(spark, loc, column_ranges=narrow)
        .where("k between 100 and 120")
        .collect()
    )
    assert got == list(range(100, 121))
    # idempotent default path: a second sorted compaction still rewrites
    # (clustering IS the point) and keeps order-id 1 (same field list)
    sid2 = im.compact_table(
        spark, loc, sort_by=["k"], target_file_mb=0.02, timestamp_ms=10
    )
    assert sid2 > sid
    md2 = im.current_metadata(loc)
    assert [o["order-id"] for o in md2["sort-orders"]] == [0, 1]


def test_read_changes_scoped_replay(spark, tmp_root):
    """Incremental reads compose with partition pruning: replaying one
    hot key's bucket after a snapshot bound returns exactly that
    bucket's appended rows, no others."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc, clips, buckets = _bucket_table(tmp_root, "ice_bucket_changes", 8)
    # snapshot 2: fresh rows across all buckets
    clips2 = [f"clip2-{i:012d}" for i in range(120)]
    b2 = im.bucket_values(clips2, "string", 8)
    files = []
    for b in sorted(set(b2.tolist())):
        ks = [c for c, bb in zip(clips2, b2) if bb == b]
        p = f"{loc}/data/s2b{b}.parquet"
        pq.write_table(pa.table({"clip_id": ks, "v": [1] * len(ks)}), p)
        files.append(p)
    im.append_files(loc, files, timestamp_ms=2)

    key = clips2[11]
    ranges = im.partition_filter_for(loc, {"clip_id": key})
    got = im.read_changes(
        spark, loc, after_snapshot_id=1, partition_ranges=ranges
    )
    hot_b = int(im.bucket_values([key], "string", 8)[0])
    want = {c for c, bb in zip(clips2, b2) if int(bb) == hot_b}
    assert {r["clip_id"] for r in got.select("clip_id").collect()} == want
    assert got.select("_snapshot_id").distinct().collect()[0][0] == 2


def test_zorder_compaction_multi_dim_skipping(spark, tmp_root):
    """compact_table(zorder_by=["x","y"]): after the Morton-ordered
    rewrite, a narrow predicate on EITHER dimension skips most files —
    a linear sort can only serve its leading column.  Parity pinned with
    a 2-D box query."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    sch = T.StructType(
        [
            T.StructField("x", T.LongType(), False),
            T.StructField("y", T.LongType(), False),
            T.StructField("pay", T.StringType(), False),
        ]
    )
    loc = f"{tmp_root}/ice_zorder"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(loc, sch)
    rng = random.Random(11)
    pts = [(rng.randrange(4096), rng.randrange(4096)) for _ in range(8000)]
    for i in range(4):
        sl = pts[i * 2000 : (i + 1) * 2000]
        p = f"{loc}/data/u{i}.parquet"
        pq.write_table(
            pa.table(
                {
                    "x": [a for a, _ in sl],
                    "y": [b for _, b in sl],
                    "pay": [f"p{a:05d}{b:05d}" * 3 for a, b in sl],
                }
            ),
            p,
        )
        im.append_files(loc, [p], timestamp_ms=i + 1)

    xr, yr = {"x": (1000, 1040)}, {"y": (2000, 2040)}
    assert im.scan_files(loc, column_ranges=xr)["files_skipped_stats"] == 0
    assert im.scan_files(loc, column_ranges=yr)["files_skipped_stats"] == 0

    with pytest.raises(ValueError, match="not both"):
        im.compact_table(spark, loc, sort_by=["x"], zorder_by=["y"])

    sid = im.compact_table(
        spark, loc, zorder_by=["x", "y"], target_file_mb=0.02, timestamp_ms=9
    )
    assert sid > 0
    md = im.current_metadata(loc)
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
    assert snap["summary"]["zordered-by"] == "x,y"

    px = im.scan_files(loc, column_ranges=xr)
    py = im.scan_files(loc, column_ranges=yr)
    assert px["files_total"] >= 8
    # BOTH dimensions skip a real fraction of the files (a z-interval of
    # F files covers ~sqrt(F) regions per dim, so a narrow per-dim
    # predicate prunes ~1 - 1/sqrt(F) ≳ 1/3 — a linear sort on x prunes
    # ~all on x and NOTHING on y)
    assert px["files_skipped_stats"] >= px["files_total"] // 3
    assert py["files_skipped_stats"] >= py["files_total"] // 3

    # 2-D box query parity against the generator
    box = {"x": (500, 900), "y": (500, 900)}
    got = sorted(
        (r["x"], r["y"])
        for r in im.read_table(spark, loc, column_ranges=box)
        .where("x between 500 and 900 and y between 500 and 900")
        .collect()
    )
    want = sorted(
        (a, b) for a, b in pts if 500 <= a <= 900 and 500 <= b <= 900
    )
    assert got == want


def test_partition_range_filter_windowed_replay(spark, tmp_root):
    """Range pushdown through monotone transforms: a cdc$time window
    over the hour-partitioned table prunes to its hour span (the
    windowed-replay shape); bucket fields contribute nothing (not
    monotone); equality and range maps compose."""
    loc = _hour_table(tmp_root, "ice_range_push")
    hours = sorted(
        p["cdc_time_hour"] for p in im.scan_files(loc)["partitions"]
    )
    lo_us = hours[0] * 3_600_000_000
    hi_us = hours[1] * 3_600_000_000 + 1  # window spanning hours 0..1
    ranges = im.partition_range_filter_for(loc, {"cdc$time": (lo_us, hi_us)})
    assert ranges == {"cdc_time_hour": (hours[0], hours[1])}
    plan = im.scan_files(loc, partition_ranges=ranges)
    assert len(plan["files"]) == 2 and plan["manifests_skipped"] == 1

    got = im.read_table(spark, loc, partition_ranges=ranges).where(
        (F.col("`cdc$time_us`") >= lo_us) & (F.col("`cdc$time_us`") <= hi_us)
    )
    want = im.read_table(spark, loc).where(
        (F.col("`cdc$time_us`") >= lo_us) & (F.col("`cdc$time_us`") <= hi_us)
    )
    assert got.count() == want.count() > 0

    # bucket spec: ranges map to nothing (a range hits every bucket)
    bloc, _clips, _buckets = _bucket_table(tmp_root, "ice_range_bucket", 4)
    assert (
        im.partition_range_filter_for(bloc, {"clip_id": ("clip-0", "clip-9")})
        == {}
    )
    # truncate spec: monotone, so ranges map to truncated spans
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    sch = T.StructType([T.StructField("k", T.LongType(), False)])
    tloc = f"{tmp_root}/ice_range_trunc"
    shutil.rmtree(tloc, ignore_errors=True)
    im.create_table(tloc, sch, partition_by=[("k", "truncate[100]")])
    for i in range(3):
        p = f"{tloc}/data/t{i}.parquet"
        pq.write_table(pa.table({"k": list(range(i * 100, i * 100 + 100))}), p)
        im.append_files(tloc, [p], timestamp_ms=i + 1)
    r = im.partition_range_filter_for(tloc, {"k": (150, 210)})
    assert r == {"k_trunc": (100, 200)}
    assert len(im.scan_files(tloc, partition_ranges=r)["files"]) == 2


# ---------------------------------------------------------------------------
# rewrite_manifests: metadata-only manifest consolidation
# ---------------------------------------------------------------------------


def test_rewrite_manifests_scan_parity_and_pruning(spark, tmp_root):
    """Six one-file append manifests merge into two partition-clustered
    ones: the scan plan (files + partition tuples + sequence numbers) is
    bit-identical, no data file moves, and manifest-level pruning keeps
    skipping the consolidated manifests unopened."""
    loc = _hour_table(tmp_root, "ice_rw_mf", n_files=6)
    before = im.scan_files(loc)
    assert before["manifests_total"] == 6
    data_files = sorted(before["files"])

    st = im.rewrite_manifests(loc, target_entries=3, timestamp_ms=7_000)
    assert st["manifests_replaced"] == 6 and st["manifests_created"] == 2
    assert st["entries_rewritten"] == 6 and st["manifests_kept"] == 0

    after = im.scan_files(loc)
    assert after["manifests_total"] == 2 and after["manifests_skipped"] == 0
    # identical plan: same files, same partitions, same per-file sequences
    key = lambda plan: sorted(  # noqa: E731
        zip(plan["files"], plan["file_sequences"],
            [tuple(sorted(p.items())) for p in plan["partitions"]])
    )
    assert key(after) == key(before)
    assert sorted(im.live_files(loc)) == data_files  # zero data movement

    # entries were sorted by hour before chunking -> chunk bounds are
    # disjoint and the out-of-range manifest is skipped UNOPENED
    hours = sorted(p["cdc_time_hour"] for p in before["partitions"])
    lo = hours[0]
    plan = im.scan_files(loc, partition_ranges={"cdc_time_hour": (lo, lo)})
    assert len(plan["files"]) == 1 and plan["manifests_skipped"] == 1
    assert im.read_table(spark, loc).count() == 600

    # idempotent: a second pass finds one manifest per kind at most and
    # commits nothing
    st2 = im.rewrite_manifests(loc, target_entries=3)
    assert st2["snapshot_id"] is None and st2["manifests_replaced"] == 0


def test_rewrite_manifests_stream_no_redelivery(tmp_root):
    """The replace snapshot surfaces as an EMPTY heartbeat batch and a
    consumer resuming past it receives only genuinely new appends — the
    first-party version of the real-writer manifest-merge scenario."""
    loc = _kv_table(tmp_root, "ice_rw_stream", n_files=3)
    assert [len(b["files"]) for b in im.added_files(loc)] == [1, 1, 1]

    st = im.rewrite_manifests(loc, target_entries=100, timestamp_ms=4)
    assert st["manifests_replaced"] == 3 and st["manifests_created"] == 1
    batches = im.added_files(loc)
    assert [len(b["files"]) for b in batches] == [1, 1, 1, 0]
    assert batches[-1]["snapshot_id"] == st["snapshot_id"]

    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"k": ["kz"], "v": [999]}), f"{loc}/data/new.parquet"
    )
    im.append_files(loc, [f"{loc}/data/new.parquet"], timestamp_ms=5)
    resumed = im.added_files(loc, after_snapshot_id=st["snapshot_id"])
    assert len(resumed) == 1 and len(resumed[0]["files"]) == 1
    assert resumed[0]["files"][0].endswith("new.parquet")


def test_rewrite_manifests_preserves_delete_semantics(spark, tmp_root):
    """Merged entries carry EXPLICIT sequence numbers, so the equality
    delete's strictly-older rule and position deletes both survive the
    rewrite; delete manifests consolidate too."""
    loc = _kv_table(tmp_root, "ice_rw_del", n_files=2, rows_per=10)
    keys = spark.createDataFrame([(f"k{i}",) for i in range(4)], "k string")
    im.write_equality_deletes(spark, loc, keys, ["k"], timestamp_ms=3)

    import pyarrow as pa
    import pyarrow.parquet as pq

    # re-append two deleted keys AFTER the delete (newer sequence: survive)
    pq.write_table(
        pa.table({"k": ["k0", "k1"], "v": [100, 101]}), f"{loc}/data/re.parquet"
    )
    im.append_files(loc, [f"{loc}/data/re.parquet"], timestamp_ms=4)
    im.delete_where(spark, loc, "v = 15", timestamp_ms=5)  # position delete

    want = {(r["k"], r["v"]) for r in im.read_table(spark, loc).collect()}
    st = im.rewrite_manifests(loc, target_entries=100, timestamp_ms=6)
    # 3 data manifests -> 1, 2 delete manifests -> 1
    assert st["manifests_replaced"] == 5 and st["manifests_created"] == 2
    plan = im.scan_files(loc)
    assert plan["manifests_total"] == 1  # data manifests only
    assert plan["equality_deletes"][0]["sequence"] == 3  # explicit, not inherited
    got = {(r["k"], r["v"]) for r in im.read_table(spark, loc).collect()}
    assert got == want
    assert (100 in {v for _, v in got}) and (15 not in {v for _, v in got})


def test_rewrite_manifests_then_expire_reclaims(spark, tmp_root):
    """expire_snapshots after a rewrite physically deletes the replaced
    small manifests (no retained snapshot references them) while every
    data file stays live."""
    loc = _kv_table(tmp_root, "ice_rw_exp", n_files=4)
    small = [
        mf["manifest_path"]
        for mf in avro.read_container(
            im.snapshots(loc)[-1]["manifest-list"]
        )[2]
    ]
    n_before = im.read_table(spark, loc).count()
    im.rewrite_manifests(loc, target_entries=100, timestamp_ms=9)
    stats = im.expire_snapshots(loc, keep_last=1)
    assert stats["snapshots_expired"] == 4
    assert stats["data_files_deleted"] == 0
    assert all(not os.path.exists(p) for p in small)
    assert im.read_table(spark, loc).count() == n_before


def test_mirror_rewrite_manifests_cadence(spark, tmp_root, ice_pdf):
    """maintain_iceberg_table(rewrite_manifests_every=N) keeps the
    zero-copy mirror's manifest list bounded while read parity holds —
    the mirror cannot data-compact (its files are the sink's), so this
    is its only O(batches) control."""
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk
    from scylla_cdc_source_connector_spark.streaming.engine import run_stream

    d = f"{tmp_root}/ice_rwm_in"
    os.makedirs(d, exist_ok=True)
    for i in range(4):
        write_changelog_chunk(
            ice_pdf.iloc[i * 200 : (i + 1) * 200], f"{d}/chunk-{i:03d}.parquet"
        )
    cfg = _cfg(tmp_root, "ice_rwm")
    q = run_stream(spark, cfg, d, available_now=True, max_files_per_trigger=1)
    q.awaitTermination(300)

    loc = f"{tmp_root}/ice_rwm_tbl"
    im.maintain_iceberg_table(spark, cfg, loc, rewrite_manifests_every=3)
    cur = im.snapshots(loc)[-1]
    _, _, mfs = avro.read_container(cur["manifest-list"])
    assert len(mfs) == 1  # one consolidated manifest, not one per batch
    assert cur["summary"]["operation"] == "replace"
    got = im.read_table(spark, loc)
    ref = sink_mod.read_emitted(spark, cfg)
    assert got.count() == ref.count() > 0


# ---------------------------------------------------------------------------
# partition spec evolution (spec §Partition Evolution)
# ---------------------------------------------------------------------------


def _evo_table(tmp_root, name):
    """Table that lived through a partition-spec change: 3 files under
    spec0 = identity(g), then evolve to spec1 = (identity(g),
    truncate[10](b)) and 2 more files pure under BOTH fields."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    loc = f"{tmp_root}/{name}"
    shutil.rmtree(loc, ignore_errors=True)
    sch = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("g", T.LongType(), False),
            T.StructField("b", T.LongType(), False),
        ]
    )
    im.create_table(loc, sch, partition_by=[("g", "identity")])

    def _append(i, g):
        pq.write_table(
            pa.table(
                {
                    "k": [f"k{g}-{j}" for j in range(10)],
                    "g": [g] * 10,
                    "b": [g * 10 + j for j in range(10)],
                }
            ),
            f"{loc}/data/f{i}.parquet",
        )
        im.append_files(loc, [f"{loc}/data/f{i}.parquet"], timestamp_ms=i + 1)

    for i in range(3):
        _append(i, i)
    spec_id = im.evolve_partition_spec(
        loc, [("g", "identity"), ("b", "truncate[10]")], timestamp_ms=100
    )
    assert spec_id == 1
    for i in range(3, 5):
        _append(i, i)
    return loc


def test_evolve_partition_spec_mixed_specs(spark, tmp_root):
    """Old files keep their spec, new files get the new one; pruning is
    per-manifest-spec and predicates map through every spec's fields."""
    loc = _evo_table(tmp_root, "ice_evo")
    md = im.current_metadata(loc)
    assert md["default-spec-id"] == 1 and len(md["partition-specs"]) == 2
    # field-id rules: shared (g, identity) keeps 1000, new field gets 1001
    s1 = {f["name"]: f["field-id"] for f in md["partition-specs"][1]["fields"]}
    assert s1 == {"g": 1000, "b_trunc": 1001}
    assert md["last-partition-id"] == 1001

    mans = im.metadata_table(spark, loc, "manifests").collect()
    assert sorted(r["partition_spec_id"] for r in mans) == [0, 0, 0, 1, 1]

    full = im.scan_files(loc)
    assert len(full["files"]) == 5
    # old-spec tuples carry only g; new-spec tuples both fields
    keys = sorted(tuple(sorted(p)) for p in full["partitions"])
    assert keys == [("b_trunc", "g")] * 2 + [("g",)] * 3

    # range on the NEW field: cannot prune spec-0 files (field absent),
    # prunes the non-matching spec-1 manifest unopened
    plan = im.scan_files(loc, partition_ranges={"b_trunc": (30, 30)})
    assert len(plan["files"]) == 4 and plan["manifests_skipped"] == 1

    # range on the SHARED field prunes across both specs
    plan = im.scan_files(loc, partition_ranges={"g": (1, 1)})
    assert len(plan["files"]) == 1 and plan["manifests_skipped"] == 4

    # predicate mapping spans every spec (deduped by field id)
    assert im.partition_filter_for(loc, {"g": 1, "b": 35}) == {
        "g": (1, 1),
        "b_trunc": (30, 30),
    }
    assert im.partition_range_filter_for(loc, {"b": (5, 27)}) == {
        "b_trunc": (0, 20)
    }

    # pruned read == full read + row filter (spec-0 rows survive the
    # b_trunc scope because their files cannot be pruned on it)
    got = im.read_table(spark, loc, partition_ranges={"b_trunc": (30, 30)})
    assert got.count() == 40
    assert got.where("g = 4").count() == 0

    # dedup: re-evolving to an existing spec spends no new spec id
    assert im.evolve_partition_spec(loc, [("g", "identity")]) == 0
    assert im.current_metadata(loc)["default-spec-id"] == 0
    assert len(im.current_metadata(loc)["partition-specs"]) == 2
    assert (
        im.evolve_partition_spec(loc, [("g", "identity"), ("b", "truncate[10]")])
        == 1
    )


def test_evolve_partition_spec_guards(tmp_root):
    import pyspark.sql.types as T

    loc = f"{tmp_root}/ice_evo_guard"
    shutil.rmtree(loc, ignore_errors=True)
    sch = T.StructType(
        [
            T.StructField("b", T.LongType(), False),
            T.StructField("b_trunc", T.LongType(), False),
        ]
    )
    im.create_table(loc, sch, partition_by=[("b", "truncate[10]")])
    with pytest.raises(ValueError, match="not in schema"):
        im.evolve_partition_spec(loc, [("nope", "identity")])
    # identity(b_trunc) would collide with spec-0's truncate field name —
    # one name must never mean two different (source, transform) pairs
    with pytest.raises(ValueError, match="already bound"):
        im.evolve_partition_spec(loc, [("b_trunc", "identity")])
    # evolving to unpartitioned is legal (spec with no fields)
    assert im.evolve_partition_spec(loc, []) == 1
    assert im.current_metadata(loc)["partition-specs"][1]["fields"] == []


def test_evolve_then_compact_migrates_spec(spark, tmp_root):
    """compact_table rewrites the whole table under the CURRENT default
    spec — Iceberg's recipe for completing a layout change."""
    loc = _evo_table(tmp_root, "ice_evo_compact")
    assert im.compact_table(spark, loc, force=True) > 0
    mans = im.metadata_table(spark, loc, "manifests").collect()
    assert {r["partition_spec_id"] for r in mans} == {1}
    # every live file now carries BOTH partition fields -> the new-field
    # range prunes exactly
    plan = im.scan_files(loc, partition_ranges={"b_trunc": (30, 30)})
    assert len(plan["files"]) == 1
    got = im.read_table(spark, loc, partition_ranges={"b_trunc": (30, 30)})
    assert got.count() == 10 and got.where("g != 3").count() == 0
    assert im.read_table(spark, loc).count() == 50


def test_rewrite_manifests_mixed_specs(spark, tmp_root):
    """Manifest consolidation never mixes specs in one manifest: the 3
    spec-0 and 2 spec-1 manifests merge into one manifest PER SPEC, and
    both pruning levels keep working on the merged metadata."""
    loc = _evo_table(tmp_root, "ice_evo_rwm")
    before_full = sorted(im.scan_files(loc)["files"])
    before_g1 = sorted(
        im.scan_files(loc, partition_ranges={"g": (1, 1)})["files"]
    )
    stats = im.rewrite_manifests(loc, timestamp_ms=200)
    assert stats["manifests_replaced"] == 5
    assert stats["manifests_created"] == 2
    mans = im.metadata_table(spark, loc, "manifests").collect()
    assert sorted(r["partition_spec_id"] for r in mans) == [0, 1]

    assert sorted(im.scan_files(loc)["files"]) == before_full
    plan = im.scan_files(loc, partition_ranges={"g": (1, 1)})
    assert sorted(plan["files"]) == before_g1
    # the spec-1 manifest is skipped unopened (its g summary is 30..49)
    assert plan["manifests_skipped"] == 1
    # new-field scope: spec-0 merged manifest survives (no b_trunc
    # summary position), spec-1 entries prune to the g=3 file
    plan = im.scan_files(loc, partition_ranges={"b_trunc": (30, 30)})
    assert len(plan["files"]) == 4


def test_added_files_pruning_after_evolution(tmp_root):
    """Streaming-scope semantics across a spec change: a range on the
    new field prunes only snapshots written under the new spec — older
    snapshots deliver in full (sound over-delivery, never data loss)."""
    loc = _evo_table(tmp_root, "ice_evo_stream")
    batches = im.added_files(loc, partition_ranges={"b_trunc": (30, 30)})
    per_snap = [(b["snapshot_id"], len(b["files"])) for b in batches]
    assert per_snap == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 0)]
    assert batches[-1]["manifests_skipped"] == 1


# ---------------------------------------------------------------------------
# branch commits + write-audit-publish (fast_forward)
# ---------------------------------------------------------------------------


def _stage_file(loc, name, k0):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = f"{loc}/data/{name}.parquet"
    pq.write_table(
        pa.table(
            {"k": [f"s{k0 + j}" for j in range(10)], "v": [k0 + j for j in range(10)]}
        ),
        p,
    )
    return p


def test_write_audit_publish(spark, tmp_root):
    """WAP: append_files(branch=...) stages rows invisible to main and
    to the snapshot stream; fast_forward publishes them atomically."""
    loc = _kv_table(tmp_root, "ice_wap")  # snapshots 1, 2 on main
    im.create_branch(loc, "audit", timestamp_ms=10)
    s3 = im.append_files(
        loc, [_stage_file(loc, "staged1", 100)], timestamp_ms=11, branch="audit"
    )
    # main readers and the stream see nothing; the branch sees the rows
    assert im.read_table(spark, loc).count() == 20
    assert im.read_table(spark, loc, ref="audit").count() == 30
    assert [b["snapshot_id"] for b in im.added_files(loc)] == [1, 2]
    # staged commits stack on the branch head
    s4 = im.append_files(
        loc, [_stage_file(loc, "staged2", 200)], timestamp_ms=12, branch="audit"
    )
    assert im.read_table(spark, loc, ref="audit").count() == 40
    assert im.current_metadata(loc)["current-snapshot-id"] == 2
    meta_snaps = {s["snapshot-id"]: s for s in im.snapshots(loc)}
    assert meta_snaps[s3]["parent-snapshot-id"] == 2
    assert meta_snaps[s4]["parent-snapshot-id"] == s3

    # publish: main jumps to the branch head, stream delivers in order
    assert im.fast_forward(loc, "audit", timestamp_ms=13) == s4
    assert im.current_metadata(loc)["current-snapshot-id"] == s4
    assert im.read_table(spark, loc).count() == 40
    assert [b["snapshot_id"] for b in im.added_files(loc)] == [1, 2, s3, s4]
    # a consumer parked at snapshot 2 resumes into exactly the published pair
    assert [
        b["snapshot_id"] for b in im.added_files(loc, after_snapshot_id=2)
    ] == [s3, s4]
    # fast_forward to the already-current head is a no-op
    assert im.fast_forward(loc, "audit") == s4


def test_fast_forward_guards(tmp_root):
    loc = _kv_table(tmp_root, "ice_ff_guard")  # snapshots 1, 2
    with pytest.raises(ValueError, match="no ref"):
        im.fast_forward(loc, "nope")
    # a branch pointing at an ANCESTOR of main is not a fast-forward
    im.create_branch(loc, "old", snapshot_id=1)
    with pytest.raises(ValueError, match="not a fast-forward"):
        im.fast_forward(loc, "old")
    # divergence: branch staged off snapshot 1 while main sits at 2
    im.append_files(loc, [_stage_file(loc, "div", 300)], branch="old")
    with pytest.raises(ValueError, match="not a fast-forward"):
        im.fast_forward(loc, "old")
    # commits to tags are refused, as is staging on a missing branch
    im.create_tag(loc, "rel")
    with pytest.raises(ValueError, match="not a branch"):
        im.append_files(loc, [_stage_file(loc, "t", 400)], branch="rel")
    with pytest.raises(ValueError, match="create_branch first"):
        im.append_files(loc, [_stage_file(loc, "t2", 500)], branch="ghost")


def test_wap_abandoned_audit_reclaimed(spark, tmp_root):
    """A failed audit is abandoned by dropping the ref; once newer main
    commits exist, expire_snapshots reclaims the staged files while the
    published data stays intact."""
    loc = _kv_table(tmp_root, "ice_wap_drop")
    im.create_branch(loc, "audit")
    staged = _stage_file(loc, "bad", 100)
    im.append_files(loc, [staged], timestamp_ms=5, branch="audit")
    im.drop_ref(loc, "audit")
    # audit rows never reached main
    assert im.read_table(spark, loc).count() == 20
    # more main history lands, then retention sweeps the staged snapshot
    im.append_files(loc, [_stage_file(loc, "good", 900)], timestamp_ms=6)
    stats = im.expire_snapshots(loc, keep_last=1)
    assert stats["snapshots_expired"] >= 1
    assert not os.path.exists(staged)
    got = im.read_table(spark, loc)
    assert got.count() == 30 and got.where("k like 's1%'").count() == 0


# ---------------------------------------------------------------------------
# initial snapshot + streaming handoff (Debezium snapshot.mode=initial)
# ---------------------------------------------------------------------------


def test_initial_snapshot_then_stream(spark, tmp_root, ice_pdf):
    """Fresh consumer of a changelog whose history was EXPIRED: backfill
    op='r' envelopes from the latest-state mirror, hand off to the
    stream exactly at the mirror's applied sequence hwm — materialized
    state equals a full-history consumer's, idempotent on rerun, and a
    crash mid-backfill resumes without duplicates."""
    import pandas as pd

    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk
    from scylla_cdc_source_connector_spark.streaming import apply as apply_mod
    from scylla_cdc_source_connector_spark.streaming.engine import (
        run_initial_snapshot_then_stream,
    )
    from scylla_cdc_source_connector_spark.streaming.increment import (
        applied_batch_ids,
    )

    loc, _sids = _ice_table(tmp_root, ice_pdf, "ice_boot_src", n_snaps=4)
    cfg_a = _cfg(tmp_root, "ice_boot_a")
    run_iceberg_meta_stream(spark, cfg_a, loc)
    mir = f"{tmp_root}/ice_boot_mirror"
    im.maintain_latest_state_mirror(spark, cfg_a, mir)
    hwm_ids = applied_batch_ids(mir)
    assert max(hwm_ids) == 4
    mirror_rows = im.read_table(spark, mir).count()

    # second wave: updates + deletes arrive AFTER the mirror's state
    extra = ice_pdf.iloc[:240].copy()
    extra["cdc$time"] = extra["cdc$time"] + pd.Timedelta(hours=3)
    extra["cdc$time_us"] = extra["cdc$time_us"] + 10_800_000_000
    for i, lo in enumerate(range(0, 240, 120)):
        p = f"{loc}/data/wave2-{i}.parquet"
        write_changelog_chunk(extra.iloc[lo : lo + 120], p)
        im.append_files(loc, [p], timestamp_ms=20_000 + i)
    # retention: only the new wave survives — full-history replay is gone
    im.expire_snapshots(loc, keep_last=2)
    assert len(im.snapshots(loc)) == 2

    # crash mid-backfill: 2nd lineage commit dies; rerun converges
    cfg_b = _cfg(tmp_root, "ice_boot_b")
    real_commit = sink_mod._commit_lineage
    calls = {"n": 0}

    def flaky(cfg, batch_id, rec):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash")
        real_commit(cfg, batch_id, rec)

    import pytest as _pytest

    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(sink_mod, "_commit_lineage", flaky)
        with _pytest.raises(RuntimeError):
            run_initial_snapshot_then_stream(
                spark, cfg_b, mir, loc, n_chunks=3
            )
    res = run_initial_snapshot_then_stream(spark, cfg_b, mir, loc, n_chunks=3)
    assert res["snapshot_hwm"] == 4
    # chunk 0 committed pre-crash; 1 and 2 ran on resume
    assert res["snapshot_chunks_run"] == [1, 2]
    assert res["consumed"] and len(res["consumed"]) == 2

    got = sink_mod.read_emitted(spark, cfg_b)
    r_rows = got.where("value.op = 'r'")
    assert r_rows.count() == mirror_rows  # every live row exactly once
    assert r_rows.select("clip_id").distinct().count() == mirror_rows
    assert {r[0] for r in r_rows.select("generation").distinct().collect()} == {-1}

    # state parity vs the full-history consumer
    run_iceberg_meta_stream(spark, cfg_a, loc)  # A drains the new wave too
    want_t = f"{tmp_root}/ice_boot_want"
    got_t = f"{tmp_root}/ice_boot_got"
    apply_mod.materialize_latest(spark, cfg_a, target_dir=want_t)
    apply_mod.materialize_latest(spark, cfg_b, target_dir=got_t)
    key = lambda d: {  # noqa: E731
        (r["clip_id"], r["__ts_us"], r["transcript"])
        for r in d.select("clip_id", "__ts_us", "transcript").collect()
    }
    assert key(apply_mod.read_latest(spark, got_t)) == key(
        apply_mod.read_latest(spark, want_t)
    )

    # idempotent rerun: nothing re-snapshotted, nothing re-streamed
    res2 = run_initial_snapshot_then_stream(spark, cfg_b, mir, loc, n_chunks=3)
    assert res2["snapshot_chunks_run"] == [] and res2["consumed"] == []
    assert res2["emitted_total"] == res["emitted_total"]
    # re-chunking a started bootstrap is refused
    with pytest.raises(ValueError, match="n_chunks"):
        run_initial_snapshot_then_stream(spark, cfg_b, mir, loc, n_chunks=5)


def test_initial_snapshot_retention_gap_refused(spark, tmp_root):
    """Expiring snapshots BEYOND the mirror's coverage must fail the
    bootstrap loudly (those changes are in neither snapshot nor stream),
    and an empty mirror refuses with a pointer to the full drain."""
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk
    from scylla_cdc_source_connector_spark.streaming.engine import (
        run_initial_snapshot_then_stream,
    )

    pdf = make_changelog(FixtureSpec(n_events=300, n_clips=60, n_shards=2))
    loc, _ = _ice_table(tmp_root, pdf, "ice_gap_src", n_snaps=1)
    cfg_a = _cfg(tmp_root, "ice_gap_a")
    run_iceberg_meta_stream(spark, cfg_a, loc)
    mir = f"{tmp_root}/ice_gap_mirror"
    im.maintain_latest_state_mirror(spark, cfg_a, mir)  # hwm = 1

    extra = pdf.iloc[:100].copy()
    for i in (0, 1):
        p = f"{loc}/data/late-{i}.parquet"
        write_changelog_chunk(extra.iloc[i * 50 : (i + 1) * 50], p)
        im.append_files(loc, [p], timestamp_ms=30_000 + i)
    im.expire_snapshots(loc, keep_last=1)  # sequence 2 is gone forever

    cfg_b = _cfg(tmp_root, "ice_gap_b")
    # the guard answers from the metadata JSON: no manifest list or
    # manifest is opened before it refuses
    opened = []
    real_read = im.avro.read_container
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            im.avro,
            "read_container",
            lambda path, *a, **kw: opened.append(path) or real_read(path, *a, **kw),
        )
        with pytest.raises(ValueError, match="retention gap"):
            run_initial_snapshot_then_stream(spark, cfg_b, mir, loc)
    assert opened == []

    # empty mirror: refuse with guidance
    cfg_c = _cfg(tmp_root, "ice_gap_c")
    empty_mir = f"{tmp_root}/ice_gap_empty_mirror"
    os.makedirs(empty_mir, exist_ok=True)
    with pytest.raises(ValueError, match="no _applied markers"):
        run_initial_snapshot_then_stream(spark, cfg_c, empty_mir, loc)


def test_adhoc_resnapshot(spark, tmp_root):
    """Debezium execute-snapshot signal analog: selected keys re-emitted
    as op='r' records from the mirror, exactly-once per request_id,
    disjoint negative batch-id blocks per request, scope by keys and by
    partition predicate."""
    from scylla_cdc_source_connector_spark.streaming import apply as apply_mod
    from scylla_cdc_source_connector_spark.streaming.engine import (
        run_adhoc_resnapshot,
    )

    pdf = make_changelog(FixtureSpec(n_events=400, n_clips=80, n_shards=2))
    loc, _ = _ice_table(tmp_root, pdf, "ice_resnap_src", n_snaps=2)
    cfg = _cfg(tmp_root, "ice_resnap")
    run_iceberg_meta_stream(spark, cfg, loc)
    mir = f"{tmp_root}/ice_resnap_mirror"
    im.maintain_latest_state_mirror(spark, cfg, mir)
    live = {
        r["clip_id"] for r in im.read_table(spark, mir).select("clip_id").collect()
    }
    targets = sorted(live)[:3]

    res = run_adhoc_resnapshot(
        spark, cfg, mir, "sig-1", keys=targets, n_chunks=2
    )
    assert res["n_rows"] == 3 and all(b < 0 for b in res["batch_ids"])
    got = sink_mod.read_emitted(spark, cfg).where("value.op = 'r'")
    assert {r["clip_id"] for r in got.select("clip_id").collect()} == set(targets)
    assert all(
        r["cdc$stream_id"].startswith("resnapshot-")
        for r in got.select("`cdc$stream_id`").collect()
    )
    # 'r' rows carry the ORIGINAL change time -> latest-state unchanged
    want = {
        (r["clip_id"], r["__ts_us"])
        for r in im.read_table(spark, mir)
        .where(F.col("clip_id").isin(targets))
        .select("clip_id", "__ts_us")
        .collect()
    }
    have = {
        (r["clip_id"], r["cdc$time_us"])
        for r in got.select("clip_id", "`cdc$time_us`").collect()
    }
    assert have == want

    # exactly-once per request: rerun is a no-op
    res2 = run_adhoc_resnapshot(
        spark, cfg, mir, "sig-1", keys=targets, n_chunks=2
    )
    assert res2["chunks_run"] == [] and res2["batch_ids"] == res["batch_ids"]
    # a NEW request allocates the next disjoint block below the first
    res3 = run_adhoc_resnapshot(
        spark, cfg, mir, "sig-2", keys=targets[:1], n_chunks=2
    )
    assert set(res3["batch_ids"]).isdisjoint(res["batch_ids"])
    assert res3["n_rows"] == 1
    total_r = sink_mod.read_emitted(spark, cfg).where("value.op = 'r'").count()
    assert total_r == 4  # 3 from sig-1 + 1 from sig-2, no dupes
    # re-chunking a started request is refused
    with pytest.raises(ValueError, match="n_chunks"):
        run_adhoc_resnapshot(spark, cfg, mir, "sig-1", keys=targets, n_chunks=5)


def test_adhoc_resnapshot_request_ids_sharing_a_pin_file(spark, tmp_root):
    """Request ids that map to one pin file name (`a/b` and `a_b`) are
    told apart: the second request refuses to resume the first one's
    batch-id block instead of silently emitting nothing."""
    from scylla_cdc_source_connector_spark.streaming.engine import (
        run_adhoc_resnapshot,
    )

    pdf = make_changelog(FixtureSpec(n_events=120, n_clips=20, n_shards=2))
    loc, _ = _ice_table(tmp_root, pdf, "ice_resnap_ids_src", n_snaps=1)
    cfg = _cfg(tmp_root, "ice_resnap_ids")
    run_iceberg_meta_stream(spark, cfg, loc)
    mir = f"{tmp_root}/ice_resnap_ids_mirror"
    im.maintain_latest_state_mirror(spark, cfg, mir)
    key = im.read_table(spark, mir).select("clip_id").first()["clip_id"]

    first = run_adhoc_resnapshot(spark, cfg, mir, "a/b", keys=[key], n_chunks=1)
    assert first["n_rows"] == 1
    with pytest.raises(ValueError, match="belongs to resnapshot request"):
        run_adhoc_resnapshot(spark, cfg, mir, "a_b", keys=[key], n_chunks=1)
    again = run_adhoc_resnapshot(spark, cfg, mir, "a/b", keys=[key], n_chunks=1)
    assert again["chunks_run"] == [] and again["batch_ids"] == first["batch_ids"]


# ---------------------------------------------------------------------------
# round 5 (final session): row-level changelog reads + delete-file rewrite
# ---------------------------------------------------------------------------


def test_read_changelog_inserts_and_deletes(spark, tmp_root):
    """read_changelog emits INSERT rows per append commit and DELETE rows
    (with the deleted row's CONTENT read back positionally) per delete
    commit, with dense per-commit ordinals; bounds behave like
    read_changes; replace snapshots are invisible."""
    loc = _kv_table(tmp_root, "ice_cl_basic", n_files=2, rows_per=5)
    im.delete_where(spark, loc, "v IN (1, 6)", timestamp_ms=5)  # snap 3

    cl = im.read_changelog(spark, loc)
    got = {
        (r["v"], r["_change_type"], r["_change_ordinal"], r["_commit_snapshot_id"])
        for r in cl.collect()
    }
    want = (
        {(v, "INSERT", 0, 1) for v in range(5)}
        | {(v, "INSERT", 1, 2) for v in range(5, 10)}
        | {(1, "DELETE", 2, 3), (6, "DELETE", 2, 3)}
    )
    assert got == want
    # the DELETE rows carry full row content (k read back from the file)
    ks = {
        r["k"] for r in cl.where("_change_type = 'DELETE'").collect()
    }
    assert ks == {"k1", "k6"}

    # bounds: (after, to] — only the second append
    mid = im.read_changelog(spark, loc, after_snapshot_id=1, to_snapshot_id=2)
    assert {(r["v"], r["_change_type"]) for r in mid.collect()} == {
        (v, "INSERT") for v in range(5, 10)
    }
    # compaction is not a logical change
    assert im.compact_table(spark, loc) != -1
    tail = im.read_changelog(spark, loc, after_snapshot_id=3)
    assert tail.count() == 0
    assert [f.name for f in tail.schema.fields][-5:] == [
        "_change_type",
        "_change_ordinal",
        "_commit_snapshot_id",
        "_sequence_number",
        "_commit_timestamp_ms",
    ]


def test_read_changelog_update_pairing_and_carryover(spark, tmp_root):
    """identifier_columns: within one overwrite commit a DELETE+INSERT on
    the same key becomes UPDATE_BEFORE/UPDATE_AFTER; a row rewritten to
    IDENTICAL content is a carry-over and vanishes; ambiguous pairings
    (two inserts for one key in one commit) raise in-plan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = _kv_table(tmp_root, "ice_cl_upd", n_files=1, rows_per=4)
    df0 = im.live_files(loc)[0]
    # overwrite: k1 -> 100 (real update), k2 -> 2 (identical: carry-over)
    newf = f"{loc}/data/upd.parquet"
    pq.write_table(pa.table({"k": ["k1", "k2"], "v": [100, 2]}), newf)
    dels = spark.createDataFrame(
        [(df0, 1), (df0, 2)], "file_path string, pos long"
    )
    im.write_position_deletes(
        spark, loc, dels, data_files=[newf], operation="overwrite",
        timestamp_ms=10,
    )

    raw = im.read_changelog(spark, loc, after_snapshot_id=1)
    assert {
        (r["k"], r["v"], r["_change_type"]) for r in raw.collect()
    } == {
        ("k1", 1, "DELETE"),
        ("k2", 2, "DELETE"),
        ("k1", 100, "INSERT"),
        ("k2", 2, "INSERT"),
    }
    upd = im.read_changelog(
        spark, loc, after_snapshot_id=1, identifier_columns=["k"]
    )
    assert {
        (r["k"], r["v"], r["_change_type"]) for r in upd.collect()
    } == {
        ("k1", 1, "UPDATE_BEFORE"),
        ("k1", 100, "UPDATE_AFTER"),
    }
    # full-range: k1's original insert stays INSERT (different commit)
    full = im.read_changelog(spark, loc, identifier_columns=["k"])
    assert full.where("k = 'k1'").count() == 3

    # ambiguity: two inserts for one key in one commit
    dupf = f"{loc}/data/dup.parquet"
    pq.write_table(pa.table({"k": ["k3", "k3"], "v": [7, 8]}), dupf)
    dels2 = spark.createDataFrame([(df0, 3)], "file_path string, pos long")
    sid = im.write_position_deletes(
        spark, loc, dels2, data_files=[dupf], operation="overwrite",
        timestamp_ms=11,
    )
    with pytest.raises(Exception, match="multiple rows"):
        im.read_changelog(
            spark, loc, after_snapshot_id=2, identifier_columns=["k"]
        ).collect()
    # without pairing the same range reads fine
    assert (
        im.read_changelog(spark, loc, after_snapshot_id=2).count() == 3
    )
    assert sid > 0


def test_read_changelog_net_changes(spark, tmp_root):
    """net_changes collapses insert+delete of the same row across
    commits; surviving changes carry the LAST relevant commit's
    provenance; mutually exclusive with identifier_columns."""
    loc = _kv_table(tmp_root, "ice_cl_net", n_files=1, rows_per=4)
    im.delete_where(spark, loc, "k = 'k1'", timestamp_ms=5)  # snap 2

    net = im.read_changelog(spark, loc, net_changes=True)
    got = {(r["k"], r["_change_type"], r["_commit_snapshot_id"]) for r in net.collect()}
    assert got == {
        ("k0", "INSERT", 1),
        ("k2", "INSERT", 1),
        ("k3", "INSERT", 1),
    }
    # range starting past the insert: the delete survives as net DELETE
    tail = im.read_changelog(
        spark, loc, after_snapshot_id=1, net_changes=True
    )
    assert {(r["k"], r["_change_type"]) for r in tail.collect()} == {
        ("k1", "DELETE")
    }
    with pytest.raises(ValueError, match="mutually exclusive"):
        im.read_changelog(
            spark, loc, identifier_columns=["k"], net_changes=True
        )


def test_read_changelog_equality_deletes(spark, tmp_root):
    """Equality-delete commits emit DELETE rows with the killed row's
    content — beyond the jar's changelog scan: each row dies at its
    EARLIEST kill (strictly-older sequence rule), an already-dead row is
    never re-killed by a later delete of the same key, and update
    pairing works across an equality upsert commit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = _kv_table(tmp_root, "ice_cl_eq", n_files=1, rows_per=4)
    im.write_equality_deletes(
        spark,
        loc,
        spark.createDataFrame([("k1",)], "k string"),
        ["k"],
        timestamp_ms=5,
    )  # snap 2: kill k1
    cl = im.read_changelog(spark, loc)
    got = {(r["k"], r["v"], r["_change_type"], r["_change_ordinal"]) for r in cl.collect()}
    assert got == {
        ("k0", 0, "INSERT", 0),
        ("k1", 1, "INSERT", 0),
        ("k2", 2, "INSERT", 0),
        ("k3", 3, "INSERT", 0),
        ("k1", 1, "DELETE", 1),
    }
    # a range excluding the equality commit shows only the inserts
    assert im.read_changelog(spark, loc, to_snapshot_id=1).count() == 4

    # upsert shape: eq-delete k2 + re-insert k2 in ONE commit -> the new
    # image survives (strictly-older rule) and pairing yields an UPDATE
    newf = f"{loc}/data/up.parquet"
    pq.write_table(pa.table({"k": ["k2"], "v": [200]}), newf)
    im.write_equality_deletes(
        spark,
        loc,
        spark.createDataFrame([("k2",)], "k string"),
        ["k"],
        data_files=[newf],
        operation="overwrite",
        timestamp_ms=6,
    )  # snap 3
    upd = im.read_changelog(
        spark, loc, after_snapshot_id=2, identifier_columns=["k"]
    )
    assert {(r["k"], r["v"], r["_change_type"]) for r in upd.collect()} == {
        ("k2", 2, "UPDATE_BEFORE"),
        ("k2", 200, "UPDATE_AFTER"),
    }
    # a LATER delete of k1 (already dead at snap 2) must not re-kill it
    im.write_equality_deletes(
        spark,
        loc,
        spark.createDataFrame([("k1",)], "k string"),
        ["k"],
        timestamp_ms=7,
    )  # snap 4
    tail = im.read_changelog(spark, loc, after_snapshot_id=3)
    assert tail.count() == 0
    # full read: k1 died exactly once, at ordinal 1
    full = im.read_changelog(spark, loc)
    k1_deaths = full.where("k = 'k1' and _change_type = 'DELETE'").collect()
    assert len(k1_deaths) == 1 and k1_deaths[0]["_change_ordinal"] == 1


def test_mirror_changelog_roundtrip(spark, tmp_root, ice_pdf):
    """The CDC loop closes: changelog -> sink -> latest-state mirror ->
    read_changelog serves row-level changes BACK to downstream consumers.
    Applying the mirror's changelog over its pass-1 state reproduces its
    pass-2 state exactly, and every UPDATE_BEFORE pairs with exactly one
    UPDATE_AFTER on the same key."""
    import pandas as pd

    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    loc, _sids = _ice_table(tmp_root, ice_pdf, "ice_clrt_src", n_snaps=2)
    cfg = _cfg(tmp_root, "ice_clrt")
    run_iceberg_meta_stream(spark, cfg, loc)
    mir = f"{tmp_root}/ice_clrt_mirror"
    assert im.maintain_latest_state_mirror(spark, cfg, mir) == 1
    s1 = im.current_metadata(mir)["current-snapshot-id"]

    extra = ice_pdf.iloc[:200].copy()
    extra["cdc$time"] = extra["cdc$time"] + pd.Timedelta(hours=2)
    extra["cdc$time_us"] = extra["cdc$time_us"] + 7_200_000_000
    p = f"{loc}/data/extra.parquet"
    write_changelog_chunk(extra, p)
    im.append_files(loc, [p], timestamp_ms=9000)
    run_iceberg_meta_stream(spark, cfg, loc)
    assert im.maintain_latest_state_mirror(spark, cfg, mir) == 1

    key = lambda df: {  # noqa: E731
        (r["clip_id"], r["__ts_us"]) for r in df.select("clip_id", "__ts_us").collect()
    }
    base = key(im.read_table(spark, mir, snapshot_id=s1))
    now = key(im.read_table(spark, mir))
    cl = im.read_changelog(
        spark, mir, after_snapshot_id=s1, identifier_columns=["clip_id"]
    )
    rows = cl.select("clip_id", "__ts_us", "_change_type").collect()
    removed = {
        (r["clip_id"], r["__ts_us"])
        for r in rows
        if r["_change_type"] in ("DELETE", "UPDATE_BEFORE")
    }
    added = {
        (r["clip_id"], r["__ts_us"])
        for r in rows
        if r["_change_type"] in ("INSERT", "UPDATE_AFTER")
    }
    assert (base - removed) | added == now
    assert removed <= base and added.isdisjoint(base)
    # pairing is exact: one BEFORE per AFTER per key
    befores = sorted(
        r["clip_id"] for r in rows if r["_change_type"] == "UPDATE_BEFORE"
    )
    afters = sorted(
        r["clip_id"] for r in rows if r["_change_type"] == "UPDATE_AFTER"
    )
    assert befores == afters and len(befores) > 0


def test_rewrite_position_delete_files(spark, tmp_root):
    """Delete-file maintenance: N per-commit delete files fold into ONE
    sorted file, dangling rows (targets no longer live) drop, read_table
    parity holds, the replace snapshot is a stream heartbeat and invisible
    to read_changelog; below min_files it is a no-op; equality deletes
    refuse."""
    loc = _kv_table(tmp_root, "ice_rwdel", n_files=3, rows_per=10)
    im.delete_where(spark, loc, "v % 2 = 0", timestamp_ms=5)
    im.delete_where(spark, loc, "v = 1", timestamp_ms=6)
    im.delete_where(spark, loc, "v = 3", timestamp_ms=7)
    # a dangling delete: its target file is not in the live data set
    im.write_position_deletes(
        spark,
        loc,
        spark.createDataFrame(
            [(f"{loc}/data/ghost.parquet", 0)], "file_path string, pos long"
        ),
        timestamp_ms=8,
    )
    before = {(r["k"], r["v"]) for r in im.read_table(spark, loc).collect()}
    assert len(im.scan_files(loc)["delete_files"]) == 4

    stats = im.rewrite_position_delete_files(spark, loc, timestamp_ms=9)
    assert stats["rewritten"] == 4
    assert stats["dangling_dropped"] == 1
    assert stats["delete_rows"] == 17  # 15 evens + v=1 + v=3
    plan = im.scan_files(loc)
    assert len(plan["delete_files"]) == 1
    after = {(r["k"], r["v"]) for r in im.read_table(spark, loc).collect()}
    assert after == before
    # merged file is sorted as the spec requires
    pairs = [
        (r["file_path"], r["pos"])
        for r in spark.read.parquet(*plan["delete_files"]).collect()
    ]
    assert pairs == sorted(pairs)
    # replace snapshot: stream heartbeat, changelog-invisible
    last = im.current_metadata(loc)["current-snapshot-id"]
    assert im.added_files(loc)[-1] == im.added_files(loc)[-1]  # shape only
    assert im.added_files(loc)[-1]["files"] == []
    assert (
        im.read_changelog(spark, loc, after_snapshot_id=8).count() == 0
    )
    assert last == stats["snapshot_id"]
    # idempotence: one file left -> below min_files -> no-op
    again = im.rewrite_position_delete_files(spark, loc)
    assert again["snapshot_id"] is None
    # equality deletes refuse
    loc2 = _kv_table(tmp_root, "ice_rwdel_eq", n_files=1, rows_per=4)
    im.write_equality_deletes(
        spark,
        loc2,
        spark.createDataFrame([("k0",)], "k string"),
        ["k"],
        timestamp_ms=5,
    )
    im.delete_where(spark, loc2, "v = 3", timestamp_ms=6)
    with pytest.raises(ValueError, match="equality"):
        im.rewrite_position_delete_files(spark, loc2, min_files=1)


def test_mirror_rewrite_deletes_cadence(spark, tmp_root, ice_pdf):
    """rewrite_deletes_at on the mirror folds accumulated per-pass delete
    files without touching data files or re-delivering rows."""
    import pandas as pd

    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    loc, _sids = _ice_table(tmp_root, ice_pdf, "ice_rwc_src", n_snaps=1)
    cfg = _cfg(tmp_root, "ice_rwc")
    run_iceberg_meta_stream(spark, cfg, loc)
    mir = f"{tmp_root}/ice_rwc_mirror"
    assert im.maintain_latest_state_mirror(spark, cfg, mir) == 1

    # three update waves -> three overwrite passes, one delete file each
    for i in range(1, 4):
        extra = ice_pdf.iloc[: 100 * i].copy()
        extra["cdc$time"] = extra["cdc$time"] + pd.Timedelta(hours=i)
        extra["cdc$time_us"] = extra["cdc$time_us"] + i * 3_600_000_000
        p = f"{loc}/data/wave{i}.parquet"
        write_changelog_chunk(extra, p)
        im.append_files(loc, [p], timestamp_ms=9000 + i)
        run_iceberg_meta_stream(spark, cfg, loc)
        im.maintain_latest_state_mirror(
            spark, cfg, mir, rewrite_deletes_at=3
        )
    plan = im.scan_files(mir)
    assert len(plan["delete_files"]) == 1  # folded at the third pass
    want = im.read_table(spark, mir).count()
    assert want == im.read_table(spark, mir).select("clip_id").distinct().count()


def test_puffin_container_roundtrip(tmp_root):
    """Puffin file structure per spec: leading magic, blobs, footer =
    magic + JSON payload + size + flags + magic; blob metadata and
    payload bytes round-trip; corrupt frames are refused."""
    from scylla_cdc_source_connector_spark.sources import puffin as pf

    p = f"{tmp_root}/stats.puffin"
    blobs = [
        {
            "type": pf.BLOB_TYPE_KMV,
            "fields": [1],
            "snapshot_id": 7,
            "sequence_number": 7,
            "payload": b"\x01\x02\x03",
            "properties": {"ndv": "3"},
        },
        {
            "type": pf.BLOB_TYPE_KMV,
            "fields": [2],
            "snapshot_id": 7,
            "sequence_number": 7,
            "payload": b"\xff" * 16,
            "properties": {"ndv": "2"},
        },
    ]
    sizes = pf.write_puffin(p, blobs, properties={"created-by": "sccs"})
    assert sizes["file_size"] == os.path.getsize(p)
    raw = open(p, "rb").read()
    assert raw[:4] == pf.MAGIC and raw[-4:] == pf.MAGIC
    back = pf.read_puffin(p)
    assert back["properties"] == {"created-by": "sccs"}
    assert [b["payload"] for b in back["blobs"]] == [b"\x01\x02\x03", b"\xff" * 16]
    assert back["blobs"][0]["fields"] == [1]
    assert back["blobs"][1]["properties"]["ndv"] == "2"
    # corrupt: flip a footer byte
    bad = f"{tmp_root}/bad.puffin"
    open(bad, "wb").write(raw[:-5] + b"X" + raw[-4:])
    with pytest.raises(ValueError):
        pf.read_puffin(bad)


def test_kmv_estimator_properties():
    """KMV math: exhaustive sketches are exact; estimates over K distinct
    values land within a few relative standard errors (RSE ~ 1/sqrt(K));
    merging partition sketches equals one global sketch."""
    import numpy as np

    from scylla_cdc_source_connector_spark.sources import puffin as pf

    rng = np.random.RandomState(7)
    k = 256
    # exhaustive: n < k -> exact
    small = np.sort(rng.randint(0, 1 << 62, size=100).astype(np.uint64))
    assert pf.kmv_estimate(np.unique(small)[:k], k) == len(np.unique(small))
    # large: ~50k distinct uniform hashes, estimate within 4 RSE
    h = np.unique(
        rng.randint(0, 1 << 63, size=50_000).astype(np.uint64) * 2
    )
    n = len(h)  # collisions at 2^64 are negligible; n ~= 50k
    sk = np.sort(h)[:k]
    est = pf.kmv_estimate(sk, k)
    rse = 1.0 / np.sqrt(k - 2)
    assert abs(est - n) < 4 * rse * n
    # merge == global
    parts = np.array_split(rng.permutation(h), 7)
    blobs = [np.sort(p.astype(np.uint64))[:k].astype("<u8").tobytes() for p in parts]
    merged = pf.kmv_merge(blobs, k)
    assert np.array_equal(merged, np.sort(h)[:k])


def test_compute_table_stats_and_ndv(spark, tmp_root):
    """compute_table_stats: one no-shuffle pass writes a Puffin file and
    registers it in table metadata; ndv_estimates reads the footer
    properties back; NULLs are excluded; MoR deletes are respected (stats
    run over read_table); staleness is surfaced and strict-refused."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    from scylla_cdc_source_connector_spark.sources import puffin as pf

    loc = f"{tmp_root}/ice_stats"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(f"{loc}/data")
    im.create_table(
        loc,
        T.StructType(
            [
                T.StructField("k", T.StringType(), False),
                T.StructField("v", T.LongType(), True),
                T.StructField("grp", T.StringType(), True),
            ]
        ),
    )
    n = 500
    pq.write_table(
        pa.table(
            {
                "k": [f"k{i}" for i in range(n)],
                # 100 distinct non-null values + nulls (excluded from NDV)
                "v": [i % 100 if i % 5 else None for i in range(n)],
                "grp": [f"g{i % 7}" for i in range(n)],
            }
        ),
        f"{loc}/data/f0.parquet",
    )
    im.append_files(loc, [f"{loc}/data/f0.parquet"], timestamp_ms=1)
    res = pf.compute_table_stats(spark, loc)
    assert set(res["ndv"]) == {"k", "v", "grp"}
    assert res["ndv"]["k"] == n  # exhaustive below K -> exact
    assert res["ndv"]["grp"] == 7
    # nulls excluded: 99 distinct non-null values (i%100 with i%5!=0
    # never hits 0 mod 100? it does at i=100*m where m%5!=0 -> i%5==0
    # only when m%5... compute directly:
    want_v = len({i % 100 for i in range(n) if i % 5})
    assert res["ndv"]["v"] == want_v

    back = pf.ndv_estimates(loc)
    assert back["stale"] is False and back["ndv"] == res["ndv"]
    # metadata entry carries spec fields
    entry = im.current_metadata(loc)["statistics"][0]
    assert entry["snapshot-id"] == res["snapshot_id"]
    assert os.path.getsize(entry["statistics-path"]) == entry["file-size-in-bytes"]
    assert entry["blob-metadata"][0]["type"] == pf.BLOB_TYPE_KMV

    # MoR respected: delete rows, recompute -> grp g0 vanishes only if
    # all its rows deleted; delete v is even -> half the values drop
    im.delete_where(spark, loc, "k = 'k0'", timestamp_ms=2)
    stale = pf.ndv_estimates(loc)
    assert stale["stale"] is True
    with pytest.raises(ValueError, match="stale"):
        pf.ndv_estimates(loc, strict=True)
    res2 = pf.compute_table_stats(spark, loc, columns=["k"])
    assert res2["ndv"]["k"] == n - 1
    fresh = pf.ndv_estimates(loc)
    assert fresh["stale"] is False and fresh["ndv"] == {"k": n - 1}
    # $statistics metadata table composes with SQL
    st = im.metadata_table(spark, loc, "statistics").orderBy("snapshot_id")
    rows = st.collect()
    assert [r["snapshot_id"] for r in rows] == [1, 2]
    assert rows[-1]["ndv"] == {"k": n - 1}
    assert rows[0]["blob_count"] == 6  # KMV + MG heavy-hitter per column


def test_compute_table_stats_accuracy_and_catalog(spark, tmp_root):
    """Above-K cardinalities estimate within the KMV error bound through
    the full Spark path, and stats commits route through a bound REST
    catalog as set-statistics actions."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    from scylla_cdc_source_connector_spark.sources import puffin as pf
    from scylla_cdc_source_connector_spark.sources.iceberg_rest_catalog import (
        RestCatalog,
        StubRestCatalog,
    )

    loc = f"{tmp_root}/ice_stats_big"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(f"{loc}/data")
    im.create_table(
        loc, T.StructType([T.StructField("id", T.LongType(), False)])
    )
    n = 40_000
    pq.write_table(
        pa.table({"id": list(range(n))}), f"{loc}/data/f0.parquet"
    )
    im.append_files(loc, [f"{loc}/data/f0.parquet"], timestamp_ms=1)

    stub = StubRestCatalog()
    try:
        client = RestCatalog(stub.url)
        im.bind_catalog(loc, client, "ns", "stats_big")
        res = pf.compute_table_stats(spark, loc, k=512)
        est = res["ndv"]["id"]
        assert abs(est - n) < 4 * n / (512 - 2) ** 0.5
        # the catalog holds the statistics entry too (set-statistics
        # applied server-side), and loadTable returns it
        srv = client.load_table("ns", "stats_big")["metadata"]
        assert srv["statistics"][0]["snapshot-id"] == res["snapshot_id"]
        assert (
            srv["statistics"][0]["blob-metadata"][0]["properties"]["ndv"]
            == str(est)
        )
    finally:
        im.unbind_catalog(loc)
        stub.close()


def test_iceberg_stream_split_backpressure(spark, tmp_root, ice_pdf):
    """max_files_per_batch: a multi-file snapshot drains as deterministic
    sub-batches with exact parity vs the unsplit drain; a crash between
    sub-batches resumes at the first uncommitted chunk; changing the
    split factor on an existing lineage is refused."""
    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk
    from scylla_cdc_source_connector_spark.streaming.engine import _SPLIT_STRIDE

    # one snapshot carrying FOUR files (the bulk-import shape)
    loc = f"{tmp_root}/ice_split_src"
    shutil.rmtree(loc, ignore_errors=True)
    im.create_table(loc, DEFAULT_TABLE.changelog_schema(), created_ms=0)
    size = (len(ice_pdf) + 3) // 4
    paths = []
    for i in range(4):
        p = f"{loc}/data/bulk-{i}.parquet"
        write_changelog_chunk(ice_pdf.iloc[i * size : (i + 1) * size], p)
        paths.append(p)
    sid = im.append_files(loc, paths, timestamp_ms=1000)

    cfg = _cfg(tmp_root, "ice_split")
    res = run_iceberg_meta_stream(spark, cfg, loc, max_files_per_batch=2)
    assert res["consumed"] == [sid]
    bids = sink_mod.committed_batch_ids(cfg)
    assert bids == [sid * _SPLIT_STRIDE, sid * _SPLIT_STRIDE + 1]

    # parity vs the unsplit drain of the same table
    ctrl = _cfg(tmp_root, "ice_split_ctrl")
    run_iceberg_meta_stream(spark, ctrl, loc)
    key = lambda c: {  # noqa: E731
        (r["clip_id"], r["cdc$time_us"], r["op"])
        for r in sink_mod.read_emitted(spark, c)
        .select("clip_id", "`cdc$time_us`", F.col("value.op").alias("op"))
        .collect()
    }
    assert key(cfg) == key(ctrl)

    # idempotent rerun
    res2 = run_iceberg_meta_stream(spark, cfg, loc, max_files_per_batch=2)
    assert res2["consumed"] == [] and res2["skipped"] == [sid]

    # changing the split factor re-chunks committed snapshots -> refused
    with pytest.raises(ValueError, match="source"):
        run_iceberg_meta_stream(spark, cfg, loc, max_files_per_batch=3)

    # crash BETWEEN sub-batches: second snapshot, chunk 2's file hidden
    paths2 = []
    for i in range(4):
        p = f"{loc}/data/bulk2-{i}.parquet"
        sl = ice_pdf.iloc[i * size // 2 : (i + 1) * size // 2].copy()
        sl["clip_id"] = sl["clip_id"] + "-w2"
        sl["cdc$time_us"] = sl["cdc$time_us"] + 3_600_000_000
        write_changelog_chunk(sl, p)
        paths2.append(p)
    sid2 = im.append_files(loc, paths2, timestamp_ms=2000)
    hide = sorted(paths2)[2]
    os.rename(hide, hide + ".hidden")
    with pytest.raises(Exception):
        run_iceberg_meta_stream(spark, cfg, loc, max_files_per_batch=2)
    # first sub-batch of snapshot 2 committed, second not
    assert sid2 * _SPLIT_STRIDE in sink_mod.committed_batch_ids(cfg)
    assert sid2 * _SPLIT_STRIDE + 1 not in sink_mod.committed_batch_ids(cfg)
    os.rename(hide + ".hidden", hide)
    res3 = run_iceberg_meta_stream(spark, cfg, loc, max_files_per_batch=2)
    assert res3["consumed"] == [sid2]
    run_iceberg_meta_stream(spark, ctrl, loc)
    assert key(cfg) == key(ctrl)


def test_read_changelog_partition_scoped(spark, tmp_root):
    """Scoped changelog replay: the INSERT side prunes at the metadata
    levels, the DELETE side row-filters deleted content through the same
    transform, so a scoped read never surfaces another partition's
    changes (no spurious unpaired DELETEs) and subset union complement
    equals the full read."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    loc = f"{tmp_root}/ice_cl_scope"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(f"{loc}/data")
    im.create_table(
        loc,
        T.StructType(
            [
                T.StructField("k", T.StringType(), False),
                T.StructField("v", T.LongType(), False),
                T.StructField("g", T.StringType(), False),
            ]
        ),
        partition_by=[("g", "identity")],
    )

    def _pfile(name, ks, vs, g):
        p = f"{loc}/data/{name}.parquet"
        pq.write_table(
            pa.table({"k": ks, "v": vs, "g": [g] * len(ks)}), p
        )
        return p

    fa = _pfile("a0", [f"k{i}" for i in range(5)], list(range(5)), "a")
    fb = _pfile("b0", [f"k{i}" for i in range(5, 10)], list(range(5, 10)), "b")
    im.append_files(loc, [fa, fb], timestamp_ms=1)
    # one overwrite commit updating k1 (partition a) and k6 (partition b)
    fa2 = _pfile("a1", ["k1"], [100], "a")
    fb2 = _pfile("b1", ["k6"], [600], "b")
    dels = spark.createDataFrame(
        [(fa, 1), (fb, 1)], "file_path string, pos long"
    )
    im.write_position_deletes(
        spark, loc, dels, data_files=[fa2, fb2], operation="overwrite",
        timestamp_ms=2,
    )

    ra = im.partition_filter_for(loc, {"g": "a"})
    rb = im.partition_filter_for(loc, {"g": "b"})
    scoped = im.read_changelog(
        spark, loc, identifier_columns=["k"], partition_ranges=ra
    )
    rows_a = {
        (r["k"], r["v"], r["_change_type"]) for r in scoped.collect()
    }
    assert rows_a == {
        ("k0", 0, "INSERT"),
        ("k1", 1, "INSERT"),
        ("k2", 2, "INSERT"),
        ("k3", 3, "INSERT"),
        ("k4", 4, "INSERT"),
        ("k1", 1, "UPDATE_BEFORE"),
        ("k1", 100, "UPDATE_AFTER"),
    }
    # union with the complement == the full read
    rows_b = {
        (r["k"], r["v"], r["_change_type"])
        for r in im.read_changelog(
            spark, loc, identifier_columns=["k"], partition_ranges=rb
        ).collect()
    }
    full = {
        (r["k"], r["v"], r["_change_type"])
        for r in im.read_changelog(
            spark, loc, identifier_columns=["k"]
        ).collect()
    }
    assert rows_a | rows_b == full and rows_a.isdisjoint(rows_b)
    # pruning is observable at the metadata level
    batches = im._snapshot_range(loc, partition_ranges=ra)
    assert sum(b["files_skipped"] + b["manifests_skipped"] for b in batches) > 0


def test_mirror_changelog_roundtrip_equality_mode(spark, tmp_root, ice_pdf):
    """The Flink-upsert-shaped mirror (delete_mode='equality') serves
    row-level changelogs too: applying its changelog over pass-1 state
    reproduces pass-2 state, updates pair exactly."""
    import pandas as pd

    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk

    loc, _sids = _ice_table(tmp_root, ice_pdf, "ice_clrt_eq_src", n_snaps=2)
    cfg = _cfg(tmp_root, "ice_clrt_eq")
    run_iceberg_meta_stream(spark, cfg, loc)
    mir = f"{tmp_root}/ice_clrt_eq_mirror"
    assert im.maintain_latest_state_mirror(
        spark, cfg, mir, delete_mode="equality"
    ) == 1
    s1 = im.current_metadata(mir)["current-snapshot-id"]

    extra = ice_pdf.iloc[:150].copy()
    extra["cdc$time"] = extra["cdc$time"] + pd.Timedelta(hours=2)
    extra["cdc$time_us"] = extra["cdc$time_us"] + 7_200_000_000
    p = f"{loc}/data/extra.parquet"
    write_changelog_chunk(extra, p)
    im.append_files(loc, [p], timestamp_ms=9000)
    run_iceberg_meta_stream(spark, cfg, loc)
    assert im.maintain_latest_state_mirror(
        spark, cfg, mir, delete_mode="equality"
    ) == 1

    key = lambda df: {  # noqa: E731
        (r["clip_id"], r["__ts_us"]) for r in df.select("clip_id", "__ts_us").collect()
    }
    base = key(im.read_table(spark, mir, snapshot_id=s1))
    now = key(im.read_table(spark, mir))
    cl = im.read_changelog(
        spark, mir, after_snapshot_id=s1, identifier_columns=["clip_id"]
    )
    rows = cl.select("clip_id", "__ts_us", "_change_type").collect()
    removed = {
        (r["clip_id"], r["__ts_us"])
        for r in rows
        if r["_change_type"] in ("DELETE", "UPDATE_BEFORE")
    }
    added = {
        (r["clip_id"], r["__ts_us"])
        for r in rows
        if r["_change_type"] in ("INSERT", "UPDATE_AFTER")
    }
    assert (base - removed) | added == now
    assert removed <= base and added.isdisjoint(base)
    befores = sorted(
        r["clip_id"] for r in rows if r["_change_type"] == "UPDATE_BEFORE"
    )
    afters = sorted(
        r["clip_id"] for r in rows if r["_change_type"] == "UPDATE_AFTER"
    )
    assert befores == afters and len(befores) > 0


def test_changelog_feed_incremental_exactly_once(spark, tmp_root):
    """maintain_changelog_feed: incremental passes land each commit's
    changes under batch=<snapshot>/ exactly once; a crash between the
    write and the hwm commit replays idempotently; replace snapshots
    advance the hwm rowlessly; the feed equals a one-shot read_changelog
    on (snapshot, type, content); wrong-table reuse refuses."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = _kv_table(tmp_root, "ice_feed_src", n_files=2, rows_per=5)
    feed = f"{tmp_root}/ice_feed"
    shutil.rmtree(feed, ignore_errors=True)

    r1 = im.maintain_changelog_feed(spark, loc, feed, identifier_columns=["k"])
    assert r1["consumed"] == [1, 2] and r1["rows"] == 10
    # no new commits -> no-op
    assert (
        im.maintain_changelog_feed(spark, loc, feed, identifier_columns=["k"])[
            "consumed"
        ]
        == []
    )

    # update one key + delete one key, then a compaction (replace)
    newf = f"{loc}/data/u.parquet"
    pq.write_table(pa.table({"k": ["k1"], "v": [100]}), newf)
    df0 = sorted(im.live_files(loc))[0]
    im.write_position_deletes(
        spark,
        loc,
        spark.createDataFrame([(df0, 1)], "file_path string, pos long"),
        data_files=[newf],
        operation="overwrite",
        timestamp_ms=3,
    )
    im.delete_where(spark, loc, "v = 5", timestamp_ms=4)
    r2 = im.maintain_changelog_feed(
        spark, loc, feed, identifier_columns=["k"]
    )
    assert r2["consumed"] == [3, 4] and r2["rows"] == 3  # UB + UA + DELETE
    got = {
        (r["batch"], r["k"], r["v"], r["_change_type"])
        for r in im.read_changelog_feed(spark, feed)
        .where("batch >= 3")
        .collect()
    }
    assert got == {
        (3, "k1", 1, "UPDATE_BEFORE"),
        (3, "k1", 100, "UPDATE_AFTER"),
        (4, "k5", 5, "DELETE"),
    }

    im.compact_table(spark, loc, timestamp_ms=5)
    r3 = im.maintain_changelog_feed(spark, loc, feed, identifier_columns=["k"])
    assert r3["rows"] == 0 and r3["consumed"] != []

    # whole feed == one-shot changelog on (snapshot, type, content)
    feed_rows = {
        (r["_commit_snapshot_id"], r["k"], r["v"], r["_change_type"])
        for r in im.read_changelog_feed(spark, feed).collect()
    }
    # one-shot with pairing applies per full range; compare piecewise:
    # inserts from commits 1-2 (no pairing possible there)
    oneshot = {
        (r["_commit_snapshot_id"], r["k"], r["v"], r["_change_type"])
        for r in im.read_changelog(
            spark, loc, to_snapshot_id=2
        ).collect()
    } | got
    assert feed_rows == oneshot

    # crash window: hwm file lost after a pass -> rerun rewrites the same
    # batch dirs, no duplicates
    st = os.path.join(feed, "_feed_state.json")
    os.remove(st)
    r4 = im.maintain_changelog_feed(spark, loc, feed, identifier_columns=["k"])
    assert r4["hwm"] == r3["hwm"]
    assert {
        (r["_commit_snapshot_id"], r["k"], r["v"], r["_change_type"])
        for r in im.read_changelog_feed(spark, feed).collect()
    } == feed_rows

    # tailing consumers resume from their own batch cursor: the filter
    # prunes whole batch DIRECTORIES (PartitionFilters, not a data scan)
    tail_df = im.read_changelog_feed(spark, feed, after_batch=2)
    assert {int(r["batch"]) for r in tail_df.select("batch").distinct().collect()} == {3, 4}
    plan = tail_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(batch" in plan or "batch#" in plan.split("PartitionFilters")[1][:80]

    # a different table cannot reuse the feed dir
    loc2 = _kv_table(tmp_root, "ice_feed_other", n_files=1, rows_per=2)
    with pytest.raises(ValueError, match="different"):
        im.maintain_changelog_feed(spark, loc2, feed, identifier_columns=["k"])


def test_changelog_feed_scoped_and_identity_guards(spark, tmp_root):
    """Review fixes: a SCOPED feed advances across passes (the stored
    scope JSON round-trips tuples as lists — compare canonically);
    changing identifier_columns on an existing feed refuses; read_changelog
    reads evolved tables under the current schema (pre-evolution files
    surface NULLs, never a sampled-footer lottery)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    loc = f"{tmp_root}/ice_feed_scoped"
    shutil.rmtree(loc, ignore_errors=True)
    os.makedirs(f"{loc}/data")
    im.create_table(
        loc,
        T.StructType(
            [
                T.StructField("k", T.StringType(), False),
                T.StructField("g", T.StringType(), False),
            ]
        ),
        partition_by=[("g", "identity")],
    )

    def _append(name, ks, g, ts):
        p = f"{loc}/data/{name}.parquet"
        pq.write_table(pa.table({"k": ks, "g": [g] * len(ks)}), p)
        im.append_files(loc, [p], timestamp_ms=ts)

    _append("a0", ["a1", "a2"], "a", 1)
    _append("b0", ["b1"], "b", 2)
    feed = f"{tmp_root}/ice_feed_scoped_out"
    shutil.rmtree(feed, ignore_errors=True)
    ra = im.partition_filter_for(loc, {"g": "a"})
    r1 = im.maintain_changelog_feed(spark, loc, feed, partition_ranges=ra)
    assert r1["rows"] == 2
    # second scoped pass MUST advance (was permanently refused before the
    # tuple/list canonicalization fix)
    _append("a1f", ["a3"], "a", 3)
    r2 = im.maintain_changelog_feed(spark, loc, feed, partition_ranges=ra)
    assert r2["rows"] == 1 and r2["consumed"] != []
    # changing the scope or the pairing key refuses
    with pytest.raises(ValueError, match="different"):
        im.maintain_changelog_feed(spark, loc, feed)
    with pytest.raises(ValueError, match="different"):
        im.maintain_changelog_feed(
            spark, loc, feed, partition_ranges=ra, identifier_columns=["k"]
        )

    # evolved schema: add a column, append post-evolution rows; the
    # changelog must read pre-evolution files with NULLs for it
    new_schema = T.StructType(
        [
            T.StructField("k", T.StringType(), False),
            T.StructField("g", T.StringType(), False),
            T.StructField("extra", T.LongType(), True),
        ]
    )
    im.evolve_schema(loc, new_schema)
    p = f"{loc}/data/evolved.parquet"
    pq.write_table(
        pa.table({"k": ["a9"], "g": ["a"], "extra": [42]}), p
    )
    im.append_files(loc, [p], timestamp_ms=4)
    cl = im.read_changelog(spark, loc)
    rows = {r["k"]: r["extra"] for r in cl.collect()}
    assert rows["a9"] == 42
    assert rows["a1"] is None and rows["b1"] is None
    assert len(rows) == 5


def test_iceberg_stream_split_identity_under_source_identity(
    spark, tmp_root, ice_pdf
):
    """Review fix: the split factor joins the stream identity even when
    the caller passes an explicit source_identity — re-chunking committed
    snapshots refuses instead of silently skipping/duplicating."""
    loc, _sids = _ice_table(tmp_root, ice_pdf, "ice_split_srcid", n_snaps=1)
    cfg = _cfg(tmp_root, "ice_split_srcid_cfg")
    run_iceberg_meta_stream(
        spark, cfg, loc, source_identity="custom:x", max_files_per_batch=2
    )
    with pytest.raises(ValueError, match="source"):
        run_iceberg_meta_stream(
            spark, cfg, loc, source_identity="custom:x", max_files_per_batch=3
        )
    with pytest.raises(ValueError, match="source"):
        run_iceberg_meta_stream(spark, cfg, loc, source_identity="custom:x")


def test_heavy_hitters_and_join_advisor(spark, tmp_root):
    """The Misra-Gries summary finds a planted hot key within its
    additive error bound."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    from scylla_cdc_source_connector_spark.sources import puffin as pf

    # big side: one hot user (40% of rows) + uniform tail
    big = f"{tmp_root}/adv_big"
    shutil.rmtree(big, ignore_errors=True)
    os.makedirs(f"{big}/data")
    sch = T.StructType(
        [
            T.StructField("user", T.StringType(), False),
            T.StructField("v", T.LongType(), False),
        ]
    )
    im.create_table(big, sch)
    n, hot = 5000, 2000
    users = ["whale"] * hot + [f"u{i}" for i in range(n - hot)]
    pq.write_table(
        pa.table({"user": users, "v": list(range(n))}),
        f"{big}/data/f0.parquet",
    )
    im.append_files(big, [f"{big}/data/f0.parquet"], timestamp_ms=1)
    res = pf.compute_table_stats(spark, big)
    assert res["rows"]["user"] == n
    hh = pf.heavy_hitters(big, "user")
    assert hh["rows"] == n and not hh["stale"]
    top_hash, top_count = hh["hitters"][0]
    # MG lower bound: true 2000 within [count, count + error]
    assert top_count <= hot <= top_count + hh["error_bound"]
    assert top_count > hot // 2
    # the hot entry is exactly the whale's hash (unsigned xxhash64)
    whale = spark.createDataFrame([("whale",)], "user string")
    from pyspark.sql import functions as F

    jvm_hash = whale.select(F.xxhash64("user").alias("h")).collect()[0]["h"]
    assert top_hash == (int(jvm_hash) + (1 << 63)) % (1 << 64)


def test_changelog_kafka_envelopes_seq_overflow_raises(spark):
    """cdc$batch_seq_no is an int: a commit sequence past 2^31 - 1 raises
    in-plan instead of wrapping to a negative order key."""
    from scylla_cdc_source_connector_spark.operators.kafka_records import (
        changelog_kafka_envelopes,
    )

    def env(seq):
        cl = spark.createDataFrame(
            [("k1", 1, "INSERT", 0, 7, seq, 1000)],
            "k string, v long, _change_type string, _change_ordinal int, "
            "_commit_snapshot_id long, _sequence_number long, "
            "_commit_timestamp_ms long",
        )
        return changelog_kafka_envelopes(cl, ["k"])

    assert env(2**31 - 1).collect()[0]["cdc$batch_seq_no"] == 2**31 - 1
    with pytest.raises(Exception, match="exceeds the int range"):
        env(2**31).collect()


def test_changelog_kafka_envelopes(spark, tmp_root):
    """Debezium-for-Iceberg: a table's paired changelog converts to
    engine-envelope rows (op c/u/d, before/after images, provenance
    source struct) that kafka_records serializes into parseable wire
    records."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from scylla_cdc_source_connector_spark.operators.kafka_records import (
        changelog_kafka_envelopes,
        kafka_records,
    )

    loc = _kv_table(tmp_root, "ice_clkr", n_files=1, rows_per=4)  # k0..k3
    newf = f"{loc}/data/u.parquet"
    pq.write_table(pa.table({"k": ["k1"], "v": [100]}), newf)
    df0 = im.live_files(loc)[0]
    im.write_position_deletes(
        spark,
        loc,
        spark.createDataFrame([(df0, 1)], "file_path string, pos long"),
        data_files=[newf],
        operation="overwrite",
        timestamp_ms=5,
    )
    im.delete_where(spark, loc, "k = 'k3'", timestamp_ms=6)

    cl = im.read_changelog(spark, loc, identifier_columns=["k"])
    env = changelog_kafka_envelopes(
        cl, ["k"], topic="t.ice", source_table="kv"
    )
    rows = {
        (r["key"]["k"], r["value"]["op"], r["cdc$batch_seq_no"]): r
        for r in env.collect()
    }
    # 4 inserts from commit seq 1, one update at 2, one delete at 3
    assert {(k, o) for k, o, _ in rows} == {
        ("k0", "c"), ("k1", "c"), ("k2", "c"), ("k3", "c"),
        ("k1", "u"), ("k3", "d"),
    }
    # cdc$batch_seq_no carries the COMMIT SEQUENCE (pass-stable)
    assert {s for (_, _, s) in rows} == {1, 2, 3}
    upd = rows[("k1", "u", 2)]
    assert upd["value"]["before"]["v"] == 1
    assert upd["value"]["after"]["v"] == 100
    assert upd["value"]["source"]["table"] == "kv"
    assert upd["value"]["source"]["snapshot_id"] == 2  # the overwrite commit
    dele = rows[("k3", "d", 3)]
    assert dele["value"]["before"]["v"] == 3 and dele["value"]["after"] is None
    assert all(r["topic"] == "t.ice" for r in rows.values())

    # unpaired input (no identifier_columns) is REFUSED in-plan when a
    # commit holds multiple rows for one key on a side
    import pyarrow as pa2
    import pyarrow.parquet as pq2

    dupf = f"{loc}/data/dups.parquet"
    pq2.write_table(pa2.table({"k": ["k9", "k9"], "v": [1, 2]}), dupf)
    im.append_files(loc, [dupf], timestamp_ms=7)
    with pytest.raises(Exception, match="unpaired changelog"):
        changelog_kafka_envelopes(
            im.read_changelog(spark, loc), ["k"]
        ).collect()

    # wire records parse back
    recs = kafka_records(env).collect()
    assert len(recs) == 6
    one = next(
        _json.loads(bytes(r["value"]).decode())
        for r in recs
        if _json.loads(bytes(r["key"]).decode())["k"] == "k1"
        and _json.loads(bytes(r["value"]).decode())["op"] == "u"
    )
    assert one["before"]["v"] == 1 and one["after"]["v"] == 100


def test_maintain_changelog_records_and_ref_bounds(spark, tmp_root):
    """Turnkey incremental Debezium-for-Iceberg: per pass only new
    snapshots convert to wire records under batch=<snapshot>/ exactly
    once (crash window replays idempotently); and read_changelog accepts
    ref bounds (tag-to-tag diffs)."""
    import json as _json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from scylla_cdc_source_connector_spark.operators.kafka_records import (
        maintain_changelog_records,
    )

    loc = _kv_table(tmp_root, "ice_mcr", n_files=1, rows_per=3)  # snap 1
    im.create_tag(loc, "v1", im.current_metadata(loc)["current-snapshot-id"])
    rd = f"{tmp_root}/ice_mcr_records"
    shutil.rmtree(rd, ignore_errors=True)

    r1 = maintain_changelog_records(spark, loc, rd, ["k"], topic="t")
    assert r1["consumed"] == [1] and r1["records"] == 3
    assert (
        maintain_changelog_records(spark, loc, rd, ["k"], topic="t")[
            "consumed"
        ]
        == []
    )

    # an update lands; only the new snapshot converts
    newf = f"{loc}/data/u.parquet"
    pq.write_table(pa.table({"k": ["k1"], "v": [100]}), newf)
    df0 = im.live_files(loc)[0]
    im.write_position_deletes(
        spark,
        loc,
        spark.createDataFrame([(df0, 1)], "file_path string, pos long"),
        data_files=[newf],
        operation="overwrite",
        timestamp_ms=5,
    )
    im.create_tag(loc, "v2", im.current_metadata(loc)["current-snapshot-id"])
    r2 = maintain_changelog_records(spark, loc, rd, ["k"], topic="t")
    assert r2["consumed"] == [2] and r2["records"] == 1
    recs = spark.read.parquet(rd)
    assert recs.count() == 4
    upd = [
        _json.loads(bytes(r["value"]).decode())
        for r in recs.where("batch = 2").collect()
    ]
    assert len(upd) == 1 and upd[0]["op"] == "u"
    assert upd[0]["before"]["v"] == 1 and upd[0]["after"]["v"] == 100

    # crash window: lost hwm -> identical rewrite, no duplicates
    os.remove(os.path.join(rd, "_records_state.json"))
    r3 = maintain_changelog_records(spark, loc, rd, ["k"], topic="t")
    assert r3["hwm"] == r2["hwm"]
    assert spark.read.parquet(rd).count() == 4
    # identity guard: different keys refuse
    with pytest.raises(ValueError, match="different"):
        maintain_changelog_records(spark, loc, rd, ["v"], topic="t")

    # ref-bounded changelog: the v1 -> v2 diff is exactly the update pair
    diff = im.read_changelog(
        spark, loc, after_ref="v1", to_ref="v2", identifier_columns=["k"]
    )
    assert {(r["k"], r["v"], r["_change_type"]) for r in diff.collect()} == {
        ("k1", 1, "UPDATE_BEFORE"),
        ("k1", 100, "UPDATE_AFTER"),
    }
    with pytest.raises(ValueError, match="no ref"):
        im.read_changelog(spark, loc, after_ref="nope")


def test_continuation_soak_mirror_feed_records_stats(spark, tmp_root, ice_pdf):
    """Capstone soak for the continuation surfaces chained end-to-end:
    changelog → exactly-once sink → latest-state mirror (position mode,
    delete-file rewrite cadence) → per-wave changelog FEED + WIRE RECORDS
    + statistics refresh, with the feed/records hwm files deleted between
    waves (crash windows) — final feed equals a one-shot paired changelog
    of the mirror, records parse with consistent ops, stats stay fresh."""
    import json as _json

    import pandas as pd

    from scylla_cdc_source_connector_spark.fixtures import write_changelog_chunk
    from scylla_cdc_source_connector_spark.operators.kafka_records import (
        maintain_changelog_records,
    )
    from scylla_cdc_source_connector_spark.sources import puffin as pf

    loc, _sids = _ice_table(tmp_root, ice_pdf, "ice_soak_src", n_snaps=1)
    cfg = _cfg(tmp_root, "ice_soak")
    mir = f"{tmp_root}/ice_soak_mirror"
    feed = f"{tmp_root}/ice_soak_feed"
    rd = f"{tmp_root}/ice_soak_records"
    for d in (mir, feed, rd):
        shutil.rmtree(d, ignore_errors=True)

    for wave in range(3):
        if wave:
            extra = ice_pdf.iloc[: 120 * wave].copy()
            extra["cdc$time"] = extra["cdc$time"] + pd.Timedelta(hours=wave)
            extra["cdc$time_us"] = (
                extra["cdc$time_us"] + wave * 3_600_000_000
            )
            p = f"{loc}/data/wave{wave}.parquet"
            write_changelog_chunk(extra, p)
            im.append_files(loc, [p], timestamp_ms=9000 + wave)
        run_iceberg_meta_stream(spark, cfg, loc)
        im.maintain_latest_state_mirror(
            spark, cfg, mir, rewrite_deletes_at=2
        )
        im.maintain_changelog_feed(
            spark, mir, feed, identifier_columns=["clip_id"]
        )
        maintain_changelog_records(spark, mir, rd, ["clip_id"])
        pf.compute_table_stats(spark, mir, columns=["clip_id"])
        if wave == 1:
            # crash windows: lose both hwm files; next pass must replay
            # idempotently (byte-identical batch dirs, no duplicates)
            os.remove(os.path.join(feed, "_feed_state.json"))
            os.remove(os.path.join(rd, "_records_state.json"))
            im.maintain_changelog_feed(
                spark, mir, feed, identifier_columns=["clip_id"]
            )
            maintain_changelog_records(spark, mir, rd, ["clip_id"])

    # feed == one-shot paired changelog of the mirror (content set)
    one = im.read_changelog(spark, mir, identifier_columns=["clip_id"])
    key = lambda df: {  # noqa: E731
        (r["clip_id"], r["__ts_us"], r["_change_type"], r["_commit_snapshot_id"])
        for r in df.select(
            "clip_id", "__ts_us", "_change_type", "_commit_snapshot_id"
        ).collect()
    }
    feed_df = im.read_changelog_feed(spark, feed)
    assert key(feed_df) == key(one)

    # records: one envelope per (key, commit) group; ops consistent with
    # the feed; all values parse
    recs = spark.read.parquet(rd).collect()
    ops = {}
    for r in recs:
        v = _json.loads(bytes(r["value"]).decode())
        k = _json.loads(bytes(r["key"]).decode())["clip_id"]
        ops[(k, int(r["batch"]))] = v["op"]
        assert v["op"] in ("c", "u", "d")
        if v["op"] == "u":
            assert v["before"] is not None and v["after"] is not None
    n_groups = (
        feed_df.selectExpr(
            "clip_id", "_commit_snapshot_id"
        ).distinct().count()
    )
    assert len(ops) == n_groups
    # stats fresh at the final mirror snapshot
    nd = pf.ndv_estimates(mir)
    assert nd["stale"] is False
    assert nd["ndv"]["clip_id"] == im.read_table(spark, mir).count()


def test_changelog_feed_expired_hwm_raises(spark, tmp_root):
    """A feed whose hwm snapshot was expired from table history refuses
    with a ValueError naming the snapshot (not a bare StopIteration)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    loc = _kv_table(tmp_root, "ice_feed_expired", n_files=2, rows_per=3)
    feed = f"{tmp_root}/ice_feed_expired_out"
    shutil.rmtree(feed, ignore_errors=True)
    assert im.maintain_changelog_feed(spark, loc, feed)["hwm"] == 2
    for i in (2, 3):
        pq.write_table(
            pa.table({"k": [f"n{i}"], "v": [i]}), f"{loc}/data/n{i}.parquet"
        )
        im.append_files(loc, [f"{loc}/data/n{i}.parquet"], timestamp_ms=10 + i)
    im.expire_snapshots(loc, keep_last=1)
    with pytest.raises(ValueError, match="hwm snapshot 2 .*expired"):
        im.maintain_changelog_feed(spark, loc, feed)


def test_read_changelog_equality_deletes_only_is_empty(spark, tmp_root):
    """A range whose only content is equality deletes over a history with
    no data rows yields an empty changelog with the output schema."""
    import pyspark.sql.types as T

    loc = f"{tmp_root}/ice_eq_only"
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
    keys = spark.createDataFrame([("k0",)], "k string")
    im.write_equality_deletes(spark, loc, keys, ["k"], timestamp_ms=1)
    cl = im.read_changelog(spark, loc)
    assert cl.count() == 0
    assert cl.columns == [
        "k",
        "v",
        "_change_type",
        "_change_ordinal",
        "_commit_snapshot_id",
        "_sequence_number",
        "_commit_timestamp_ms",
    ]
