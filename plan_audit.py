#!/usr/bin/env python
"""Physical-plan audit: prints exchange counts, scan ReadSchema, and
pushed filters for the engine's key plans.  PLANS.md is generated from
this output — rerun after plan-affecting changes:

    python plan_audit.py [changelog_path]

Checks encode the scale invariants the engine is designed around:
  1. correlation+envelope = ONE exchange (zero on a bucketed layout)
  2. default include modes read NO payload columns from the scan
  3. partition predicates reach the parquet scan (PushedFilters)
  4. salted aggregation = exactly two exchanges (salted partial + combine)
  5. the streaming sink's own per-batch plan, replay markers included =
     ONE exchange, no join, and a marker scan that reads no payload
  6. one sink call on a batch with output and no pending rows = TWO
     Spark jobs (the ordered write's two under AQE) and no Spark read of
     the batch output (the shard stats are folded from its files on the
     driver)
  7. the Iceberg changelog, feed and merge-on-read plans hold their
     driver-built lookup tables as LocalTableScans, never as a Scan
     ExistingRDD of Python rows
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import sys


def _capture(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def audit(df, name: str) -> dict:
    txt = _capture(df)
    simple = _capture(df, "simple")
    out = {
        "name": name,
        "exchanges": len(re.findall(r"\(\d+\) Exchange", txt)),
        "read_schemas": re.findall(r"ReadSchema: (.*)", txt),
        "pushed_filters": [
            p for p in re.findall(r"PushedFilters: (.*)", txt) if p != "[]"
        ],
        # '*(n)' markers in simple mode = whole-stage-codegen'd spans
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", simple))),
    }
    print(f"===== {name}")
    # (codegen span count is unreliable under AQE's unfinalized plans —
    # kept in the dict for interactive use, not printed/asserted)
    print(f"exchanges: {out['exchanges']}")
    for s in out["read_schemas"][:2]:
        print("ReadSchema:", s[:400])
    for p in out["pushed_filters"][:2]:
        print("PushedFilters:", p[:200])
    print()
    return out


def audit_sink_jobs(spark, cfg) -> None:
    """Invariant 6: run the correlating sink once on a static batch of
    whole write batches (output, no pending rows) and count its Spark jobs
    through the status tracker."""
    import dataclasses

    from scylla_cdc_source_connector_spark.fixtures import (
        FixtureSpec,
        make_changelog,
        write_changelog_chunk,
    )
    from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE
    from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

    root = "/tmp/sccs_plan_audit_sink"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(f"{root}/in")
    write_changelog_chunk(
        make_changelog(FixtureSpec(n_events=400, n_clips=80, n_shards=4)),
        f"{root}/in/part-0.parquet",
    )
    cfg = dataclasses.replace(
        cfg, output_dir=f"{root}/out", lineage_dir=f"{root}/lineage"
    )
    batch = spark.read.schema(DEFAULT_TABLE.changelog_schema()).parquet(
        f"{root}/in"
    )
    sc = spark.sparkContext
    sql_store = spark._jsparkSession.sharedState().statusStore()
    first_exec = sql_store.executionsCount()
    sc.setJobGroup("plan_audit_sink", "one correlating-sink call")
    try:
        sink_mod.make_correlating_sink(cfg)(batch, 0)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    rec = sink_mod.read_lineage_one(cfg, 0)
    assert rec["n_records"] > 0 and not rec["has_pending"], rec
    jobs = sc.statusTracker().getJobIdsForGroup("plan_audit_sink")
    print("===== streaming sink: one micro-batch")
    print(f"spark jobs: {len(jobs)}")
    assert len(jobs) == 2, f"sink micro-batch must run 2 Spark jobs, ran {len(jobs)}"
    execs = sql_store.executionsList()
    plans = [
        execs.apply(i).physicalPlanDescription()
        for i in range(first_exec, execs.size())
    ]
    out = sink_mod.batch_output_path(cfg, 0)
    readback = [
        p for p in plans
        if re.search(r"Location: \w+ \[\S*" + re.escape(out) + r"\]", p)
    ]
    print(f"spark reads of the batch output: {len(readback)}")
    print()
    assert not readback, "the sink must not read its batch output back"
    shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    if len(sys.argv) > 1:
        path = sys.argv[1]
    else:
        # Self-sufficient default: build (or reuse) the deterministic bench
        # changelog cache so the audit runs on a fresh box without needing
        # bench.py to have populated /tmp first.
        from bench import bench_changelog_path

        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        import pyarrow.parquet as pq

        n_events = pq.read_metadata(f"{sf_dir}/events.parquet").num_rows
        path = bench_changelog_path(sf_dir, n_events)
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.warehouse.dir", "/tmp/sccs_warehouse")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from scylla_cdc_source_connector_spark.config import EngineConfig, IncludeMode
    from scylla_cdc_source_connector_spark.operators.skew import salted_agg
    from scylla_cdc_source_connector_spark.plans.pipeline import cdc_envelopes

    cl = spark.read.parquet(path)
    cfg_ff = EngineConfig(
        include_before=IncludeMode.FULL, include_after=IncludeMode.FULL
    )

    r1 = audit(cdc_envelopes(cl, cfg_ff, processing_ts_ms=F.lit(0)),
               "cdc pipeline, include=full/full")
    assert r1["exchanges"] == 1, "expected exactly ONE exchange"

    # normalize-on-ingest stamps a scalar Arrow UDF + withField rewrite
    # into the same plan — it must add ZERO exchanges (the payload never
    # makes an extra network trip to get resampled)
    from scylla_cdc_source_connector_spark.streaming.sink import (
        _normalize_exprs,
    )

    cfg_norm = EngineConfig(
        include_before=IncludeMode.FULL,
        include_after=IncludeMode.FULL,
        audio_normalize_sr=16_000,
    )
    env_n = cdc_envelopes(cl, cfg_norm, processing_ts_ms=F.lit(0))
    nx = _normalize_exprs(env_n, cfg_norm)
    assert nx is not None
    rn = audit(nx["apply"](nx["df"]), "cdc pipeline + normalize-on-ingest")
    assert rn["exchanges"] == r1["exchanges"], (
        "normalize stage must not add an exchange"
    )

    # streaming sink: the audit builds the sink's OWN per-batch plan
    # (sink_envelopes) with replay markers present.  The one exchange is
    # the stream repartition (HashPartitioning(stream_id) satisfies the
    # finer group key); the markers ride it, so the plan has no join, and
    # the per-shard ordered write rides it too — the payload crosses
    # exactly ONE exchange end-to-end in the sink (PLANS.md §7)
    from scylla_cdc_source_connector_spark.streaming.sink import (
        emitted_markers,
        sink_envelopes,
    )

    cfg_full = EngineConfig(
        include_before=IncludeMode.FULL, include_after=IncludeMode.FULL
    )
    emitted_dir = "/tmp/sccs_plan_audit_emitted"
    shutil.rmtree(emitted_dir, ignore_errors=True)
    cdc_envelopes(
        cl.limit(2_000), cfg_full, processing_ts_ms=F.lit(0)
    ).write.parquet(emitted_dir)
    env_s = sink_envelopes(
        cl, emitted_markers(spark, [emitted_dir]), cfg_full
    ).sortWithinPartitions("`cdc$time_us`", "`cdc$batch_seq_no`")
    rs = audit(env_s, "streaming sink: correlate with replay markers + ordered emit")
    assert rs["exchanges"] == 1, "sink payload must cross exactly ONE exchange"
    sink_txt = _capture(env_s)
    assert "BroadcastExchange" not in sink_txt, "sink plan must not broadcast"
    assert "SortMergeJoin" not in sink_txt, "sink plan must not join"
    marker_scans = [
        re.search(r"ReadSchema: (.*)", node).group(1)
        for node in sink_txt.split("\n\n")
        if emitted_dir in node and "ReadSchema:" in node
    ]
    assert len(marker_scans) == 1, "expected one marker scan"
    assert "bytes" not in marker_scans[0] and "transcript" not in marker_scans[0], (
        "marker scan must read the slim key columns only"
    )
    shutil.rmtree(emitted_dir, ignore_errors=True)
    audit_sink_jobs(spark, cfg_full)

    # composed training recipe: ONE plan tree (no self-join re-executing
    # the upstream), exactly THREE exchanges — correlation, latest-state
    # collapse, fingerprint-dedup (PLANS.md / training_pipeline.py)
    from scylla_cdc_source_connector_spark.plans.training_pipeline import (
        training_corpus,
    )

    rt = audit(training_corpus(cl), "training recipe: changelog -> dedup corpus")
    assert rt["exchanges"] == 3, "training recipe must cross exactly THREE exchanges"

    r2 = audit(cdc_envelopes(cl, EngineConfig(), processing_ts_ms=F.lit(0))
               .select("clip_id", "value.op"),
               "cdc pipeline, include=none/none (default)")
    assert r2["exchanges"] == 1
    assert "bytes" not in r2["read_schemas"][0], "payload must be pruned"

    # bucketed layout: registered per-session (in-memory catalog), so build
    # a small one here — plan SHAPE is independent of size
    tbl = "sccs_plan_audit_bucketed"
    if not spark.catalog.tableExists(tbl):
        # in-memory catalog forgets tables between sessions; clear the
        # stale warehouse location or saveAsTable fails
        shutil.rmtree(f"/tmp/sccs_warehouse/{tbl}", ignore_errors=True)
        (
            cl.limit(20_000).write.bucketBy(8, "clip_id")
            .sortBy("clip_id", "cdc$time")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )
    r3 = audit(cdc_envelopes(spark.table(tbl), cfg_ff, processing_ts_ms=F.lit(0)),
               "cdc pipeline on bucketed-by-clip_id table")
    assert r3["exchanges"] == 0, "bucketed layout must run exchange-free"

    r4 = audit(cdc_envelopes(cl.filter(F.col("generation") == 0), cfg_ff,
                             processing_ts_ms=F.lit(0)),
               "generation predicate pushdown")
    assert any("generation" in p for p in r4["pushed_filters"])

    r5 = audit(salted_agg(cl.select("clip_id", "generation"), ["clip_id"],
                          {"n": ("count", "")}, n_salt=8),
               "skew-salted two-phase aggregation")
    assert r5["exchanges"] == 2, "salted agg = salted partial + final combine"

    # schema conformance is a pure projection: adopting/conforming an
    # evolved schema must add NO exchange and keep payload pruning intact
    from scylla_cdc_source_connector_spark.schema_evolution import (
        conform_changelog,
    )
    from scylla_cdc_source_connector_spark.schemas import DEFAULT_TABLE, TableModel

    evolved = TableModel(columns=(*DEFAULT_TABLE.columns, ("speaker", "string")))
    r6 = audit(
        cdc_envelopes(conform_changelog(cl, evolved), EngineConfig(),
                      processing_ts_ms=F.lit(0), table=evolved)
        .select("clip_id", "value.op"),
        "conformed (evolved schema) pipeline, default mode")
    assert r6["exchanges"] == 1, "conform_changelog must not add an exchange"
    assert "bytes" not in r6["read_schemas"][0], "conform must keep pruning"

    # tombstones: single-pass explode over the envelope rows — the
    # upstream correlation still executes ONCE behind the same exchange
    import dataclasses

    cfg_tomb = dataclasses.replace(cfg_ff, tombstones_on_delete=True)
    r7 = audit(cdc_envelopes(cl, cfg_tomb, processing_ts_ms=F.lit(0)),
               "tombstones-on-delete envelope plan")
    assert r7["exchanges"] == 1, "tombstone explode must add no exchange"

    # CEP pattern match: ONE hash-agg exchange (no window sort-shuffle) —
    # the symbol sequence is assembled by collect_list partial aggregation
    from scylla_cdc_source_connector_spark.operators.cep import match_pattern

    r8 = audit(
        match_pattern(
            cl.select("clip_id", "`cdc$time_us`", "`cdc$operation`"),
            ["clip_id"], ["cdc$time_us"],
            F.col("`cdc$operation`").cast("string"), "12*3",
        ),
        "cep match_pattern")
    assert r8["exchanges"] == 1, "match_pattern = one hash aggregation"

    # task assignment: the plan side broadcasts — the changelog itself
    # must NOT shuffle to meet the metadata-sized task plan
    from scylla_cdc_source_connector_spark.plans.task_planner import (
        assign_tasks,
        plan_tasks,
    )

    plan = plan_tasks(cl.select("`cdc$stream_id`").distinct(), 4)
    r9 = audit(
        assign_tasks(cl.select("`cdc$stream_id`", "clip_id"), plan,
                     ["cdc$stream_id"]),
        "task-plan broadcast stamping")
    txt9 = _capture(
        assign_tasks(cl.select("`cdc$stream_id`", "clip_id"), plan,
                     ["cdc$stream_id"]))
    assert "BroadcastHashJoin" in txt9 or "BroadcastNestedLoop" in txt9, (
        "task plan must broadcast")

    # IVF coarse assignment: centroids are inlined literals, so the
    # per-row argmax plan must have ZERO exchanges (no join, no window)
    from scylla_cdc_source_connector_spark.functions.similarity import ivf_assign

    emb = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[(F.col("id") * F.lit(float(i))).cast("float") for i in range(1, 5)]
        ).alias("embedding"),
    )
    cents = emb.limit(4).select(
        F.col("vec_id").cast("int").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    r10 = audit(ivf_assign(emb, cents), "ivf zero-shuffle argmax assignment")
    assert r10["exchanges"] == 0, "ivf_assign must not shuffle"

    # sink status path: incomplete-group bookkeeping must be (a) driver-
    # safe — the Observation carries scalars only, never per-group key
    # structs (a poison all-incomplete batch must cost executor work, not
    # driver memory) — and (b) metadata-only: the incomplete-keys plan
    # reads no payload columns
    import inspect

    from scylla_cdc_source_connector_spark.streaming import sink as sink_mod

    assert "collect_list" not in inspect.getsource(sink_mod), (
        "sink status path must not collect per-group keys to the driver"
    )
    r11 = audit(
        sink_mod._incomplete_group_keys(cl, None, cfg_full, DEFAULT_TABLE, hwm=0),
        "sink incomplete-keys status plan (metadata-only)",
    )
    assert r11["exchanges"] == 1, "status plan = one slim hash aggregation"
    assert "bytes" not in r11["read_schemas"][0], (
        "status plan must never read the payload"
    )
    assert "transcript" not in r11["read_schemas"][0]

    # round-5 final-session operators: the corpus-composition and
    # augmentation planners' documented scale shapes
    from scylla_cdc_source_connector_spark.plans.augment import (
        specaugment_plan,
    )
    from scylla_cdc_source_connector_spark.plans.sampling import (
        pack_duration_batches,
        stratified_sample,
        temperature_mix,
    )

    post = cl.where("`cdc$operation` = 9").select("clip_id", "dur_ms", "sr_hz")
    r12 = audit(
        specaugment_plan(post, epochs=2),
        "specaugment plan (metadata 1->N fan-out)",
    )
    assert r12["exchanges"] == 0, (
        "specaugment_plan is a literal-array explode — zero shuffle"
    )
    assert "bytes" not in (r12["read_schemas"] or [""])[0], (
        "mask scheduling must never read the payload"
    )

    r13 = audit(
        pack_duration_batches(
            post.select("clip_id", "dur_ms"), budget_ms=30_000, n_shards=4
        ),
        "duration-bucketed batch packing",
    )
    assert r13["exchanges"] == 1, (
        "pack_duration_batches = ONE window shuffle over the slim "
        "(id, dur) projection"
    )

    docs = spark.read.parquet(
        os.path.join(
            os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
            "documents.parquet",
        )
    )
    r14 = audit(
        stratified_sample(
            docs, ["lang"], budget_per_stratum=100_000,
            weight_col="n_chars", id_cols=["doc_id"],
        ),
        "stratified token-budget sample (slim window + semi-join)",
    )
    txt14 = _capture(
        stratified_sample(
            docs, ["lang"], budget_per_stratum=100_000,
            weight_col="n_chars", id_cols=["doc_id"],
        )
    )
    assert "text" not in " ".join(
        re.findall(r"Sort \[.*?\]", txt14)
    ), "document text must never enter the window sort"

    txt15 = _capture(
        temperature_mix(
            docs, ["lang"], total_budget=200_000,
            weight_col="n_chars", id_cols=["doc_id"],
        )
    )
    assert "BroadcastHashJoin" in txt15 or "BroadcastExchange" in txt15, (
        "the per-stratum budget table must broadcast"
    )

    # round-5 final-session operators: changelog reads, NDV stats,
    # loudness normalization, utterance splitting
    import shutil as _sh

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from scylla_cdc_source_connector_spark.sources import iceberg_meta as im_mod
    from scylla_cdc_source_connector_spark.sources import puffin as puffin_mod

    iloc = "/tmp/sccs_planaudit_ice"
    _sh.rmtree(iloc, ignore_errors=True)
    os.makedirs(iloc + "/data")
    import pyspark.sql.types as _T

    im_mod.create_table(
        iloc,
        _T.StructType(
            [
                _T.StructField("k", _T.StringType(), False),
                _T.StructField("v", _T.LongType(), False),
            ]
        ),
    )
    for i in range(2):
        p = f"{iloc}/data/f{i}.parquet"
        _pq.write_table(
            _pa.table(
                {
                    "k": [f"k{i * 100 + j}" for j in range(100)],
                    "v": list(range(i * 100, i * 100 + 100)),
                }
            ),
            p,
        )
        im_mod.append_files(iloc, [p], timestamp_ms=i + 1)
    im_mod.delete_where(spark, iloc, "v % 3 = 0", timestamp_ms=3)

    r16 = audit(
        im_mod.read_changelog(spark, iloc),
        "iceberg row-level changelog (plain)",
    )
    assert r16["exchanges"] == 0, (
        "plain changelog = one scan per side + broadcast provenance/delete "
        "maps — ZERO shuffle exchanges"
    )
    r17 = audit(
        im_mod.read_changelog(spark, iloc, identifier_columns=["k"]),
        "changelog + update pairing",
    )
    assert r17["exchanges"] == 1, (
        "pairing = ONE hash repartition on (key, ordinal) that the "
        "carry-over agg and the pairing window both reuse"
    )

    # invariant 7: lookup tables built on the driver reach the plan as
    # LocalTableScans (a Scan ExistingRDD broadcast runs a Python-worker
    # job); the equality-delete table exercises read_table's seq map
    eloc = "/tmp/sccs_planaudit_ice_eq"
    _sh.rmtree(eloc, ignore_errors=True)
    os.makedirs(eloc + "/data")
    im_mod.create_table(
        eloc, _T.StructType([_T.StructField("k", _T.StringType(), False)])
    )
    _pq.write_table(_pa.table({"k": ["a", "b", "c"]}), f"{eloc}/data/f0.parquet")
    im_mod.append_files(eloc, [f"{eloc}/data/f0.parquet"], timestamp_ms=1)
    im_mod.write_equality_deletes(
        spark, eloc, spark.range(1).select(F.lit("b").alias("k")), ["k"]
    )
    for df, name in (
        (im_mod.read_changes(spark, iloc), "read_changes"),
        (im_mod.read_changelog(spark, iloc), "read_changelog (plain)"),
        (
            im_mod.read_changelog(spark, iloc, identifier_columns=["k"]),
            "read_changelog (paired)",
        ),
        (im_mod.read_table(spark, eloc), "read_table (equality deletes)"),
    ):
        txt = _capture(df)
        print(f"===== lookup tables of {name}")
        print(f"LocalTableScan: {txt.count('LocalTableScan')}")
        assert "Scan ExistingRDD" not in txt, (
            f"{name}: a lookup table is a LogicalRDD of Python rows"
        )
        assert "LocalTableScan" in txt, f"{name}: no LocalTableScan lookup"
    print()

    sdf = im_mod.read_table(spark, iloc)
    hashed = sdf.select(
        *[
            F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c)))
            .otherwise(F.lit(puffin_mod._NULL_SENTINEL))
            .alias(c)
            for c in ("k", "v")
        ]
    ).mapInPandas(
        puffin_mod._kmv_partition_udf(["k", "v"], 128, 32),
        "col string, kind string, sketch binary",
    )
    r18 = audit(hashed, "KMV NDV sketch pass (compute_table_stats)")
    assert r18["exchanges"] == 0, (
        "NDV sketching is one JVM-hash projection + one mapInPandas — "
        "zero shuffle at any table size"
    )

    from scylla_cdc_source_connector_spark.audio_loudness import (
        normalize_loudness,
    )
    from scylla_cdc_source_connector_spark.audio_vad import split_speech_spans

    post_audio = cl.where("`cdc$operation` = 9").select(
        "clip_id", "bytes", "codec", "sr_hz"
    )
    r19 = audit(
        normalize_loudness(post_audio), "loudness normalization (one Arrow pass)"
    )
    assert r19["exchanges"] == 0, (
        "normalize_loudness measures and re-emits in ONE narrow Arrow stage"
    )
    r20 = audit(
        split_speech_spans(post_audio), "VAD utterance splitter (1->N)"
    )
    assert r20["exchanges"] == 0, (
        "split_speech_spans fans out inside the Arrow pass — no exchange"
    )

    from scylla_cdc_source_connector_spark.operators.kafka_records import (
        changelog_kafka_envelopes,
    )

    r21 = audit(
        changelog_kafka_envelopes(
            im_mod.read_changelog(spark, iloc, identifier_columns=["k"]),
            ["k"],
        ),
        "changelog -> Debezium envelopes (Iceberg wire-out)",
    )
    assert r21["exchanges"] == 1, (
        "changelog wire-out adds ZERO exchanges over pairing: the "
        "envelope hash-agg on (key, ordinal) reuses pairing's one "
        "(key, ordinal) HashPartitioning"
    )

    print("ALL PLAN INVARIANTS HOLD")
    spark.stop()


if __name__ == "__main__":
    main()
