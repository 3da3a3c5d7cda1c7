"""Corpus composition tests: speech-rate consistency gate + deterministic
stratified token-budget sampling (plans/sampling.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.plans.sampling import (
    speech_rate_check,
    stratified_sample,
)


def test_speech_rate_flags(spark):
    rows = [
        # 10 tokens over 5 s = 2 tok/s -> ok
        ("ok", " ".join(["w"] * 10), 5000),
        # 40 tokens over 2 s = 20 tok/s -> too_fast
        ("fast", " ".join(["w"] * 40), 2000),
        # 1 token over 10 s = 0.1 tok/s -> too_slow
        ("slow", "w", 10000),
        ("empty", "", 3000),
        ("nodur", "some words here", 0),
        ("nulldur", "some words here", None),
    ]
    df = spark.createDataFrame(rows, "clip_id string, transcript string, dur_ms int")
    out = {r["clip_id"]: r for r in speech_rate_check(df).collect()}
    assert out["ok"]["speech_rate_flag"] == "ok" and out["ok"]["speech_rate_ok"]
    assert out["ok"]["tokens_per_s_x100"] == 200
    assert out["fast"]["speech_rate_flag"] == "too_fast"
    assert out["slow"]["speech_rate_flag"] == "too_slow"
    assert out["empty"]["speech_rate_flag"] == "empty_transcript"
    assert out["nodur"]["speech_rate_flag"] == "no_duration"
    assert out["nulldur"]["speech_rate_flag"] == "no_duration"
    assert not out["fast"]["speech_rate_ok"]


def test_speech_rate_is_shuffle_free(spark):
    df = spark.createDataFrame(
        [("a", "w w w", 1000)], "clip_id string, transcript string, dur_ms int"
    )
    plan = speech_rate_check(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


@pytest.fixture(scope="module")
def corpus(spark):
    # 3 langs x 40 docs, token counts 1..40 per lang
    rows = [
        (f"{lang}-{i}", lang, i, f"text payload {lang} {i}")
        for lang in ("en", "fr", "de")
        for i in range(1, 41)
    ]
    return spark.createDataFrame(
        rows, "doc_id string, lang string, n_tokens int, text string"
    )


def test_stratified_budget_respected(spark, corpus):
    out = stratified_sample(
        corpus,
        ["lang"],
        budget_per_stratum=100,
        weight_col="n_tokens",
        id_cols=["doc_id"],
    )
    sums = {
        r["lang"]: r["s"]
        for r in out.groupBy("lang").agg(F.sum("n_tokens").alias("s")).collect()
    }
    assert set(sums) == {"en", "fr", "de"}
    for lang, s in sums.items():
        assert 0 < s <= 100, (lang, s)
    # full width survives
    assert set(out.columns) == {"doc_id", "lang", "n_tokens", "text"}


def test_stratified_deterministic_and_partition_invariant(spark, corpus):
    kw = dict(budget_per_stratum=100, weight_col="n_tokens", id_cols=["doc_id"])
    a = sorted(r["doc_id"] for r in stratified_sample(corpus, ["lang"], **kw).collect())
    b = sorted(r["doc_id"] for r in stratified_sample(corpus, ["lang"], **kw).collect())
    c = sorted(
        r["doc_id"]
        for r in stratified_sample(corpus.repartition(7), ["lang"], **kw).collect()
    )
    assert a == b == c and len(a) > 0
    # a different seed picks a different (but still budget-valid) sample
    d = sorted(
        r["doc_id"]
        for r in stratified_sample(corpus, ["lang"], seed=42, **kw).collect()
    )
    assert d != a


def test_stratified_row_count_quota_and_heavy_rows(spark):
    df = spark.createDataFrame(
        [("s1", f"d{i}", 10_000) for i in range(5)]
        + [("s2", "light", 3), ("s2", "heavy", 10_000)],
        "stratum string, doc_id string, n_tokens int",
    )
    # row-count quota (weight_col=None): exactly 2 rows per stratum
    rc = stratified_sample(
        df, ["stratum"], budget_per_stratum=2, id_cols=["doc_id"]
    )
    counts = {r["stratum"]: r["c"] for r in rc.groupBy("stratum").agg(F.count("*").alias("c")).collect()}
    assert counts == {"s1": 2, "s2": 2}

    # token budget smaller than any s1 row: the first-ranked row still
    # survives (stratum never silently vanishes)
    tb = stratified_sample(
        df, ["stratum"], budget_per_stratum=5, weight_col="n_tokens", id_cols=["doc_id"]
    )
    by_stratum: dict = {}
    for r in tb.collect():
        by_stratum.setdefault(r["stratum"], []).append(r["doc_id"])
    assert len(by_stratum["s1"]) == 1
    # s2: whether 'light' ranks first or second, the budget admits at most
    # one row beyond rank 1 only if cumulative <= 5
    assert 1 <= len(by_stratum["s2"]) <= 2


def test_stratified_validation(spark, corpus):
    with pytest.raises(ValueError, match="strata_cols"):
        stratified_sample(corpus, [], budget_per_stratum=10)


def test_stratified_payload_not_in_window_sort(spark, corpus):
    """The window/cumsum must run on the slim projection — the text
    payload joins back only after selection."""
    out = stratified_sample(
        corpus,
        ["lang"],
        budget_per_stratum=100,
        weight_col="n_tokens",
        id_cols=["doc_id"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    win = re.search(r"Window .*", plan)
    assert win is not None and "text" not in win.group(0)


# ---------------------------------------------------------------------------
# pack_duration_batches
# ---------------------------------------------------------------------------

def _pack_fixture(spark, n=400, seed=11):
    import random

    rng = random.Random(seed)
    rows = [(f"c{i:04d}", rng.randint(200, 28_000)) for i in range(n)]
    rows += [("over1", 90_000), ("nodur", 0), ("nulldur", None)]
    return spark.createDataFrame(rows, "clip_id string, dur_ms int"), rows


def test_pack_budget_is_a_hard_guarantee(spark):
    from scylla_cdc_source_connector_spark.plans.sampling import (
        pack_duration_batches,
    )

    df, _ = _pack_fixture(spark)
    out = pack_duration_batches(df, budget_ms=30_000, bucket_width_ms=2_000)
    rows = out.collect()
    by_flag = {}
    for r in rows:
        by_flag.setdefault(r["pack_flag"], []).append(r)
    assert len(by_flag["oversize"]) == 1 and len(by_flag["no_duration"]) == 2
    assert all(r["pack_key"] is None for r in by_flag["oversize"])
    packs = {}
    for r in by_flag["ok"]:
        packs.setdefault(r["pack_key"], []).append(r)
    # hard budget: every pack's PADDED cost (n * pack max) fits
    for key, members in packs.items():
        durs = [m["dur_ms"] for m in members]
        assert sum(durs) <= 30_000, (key, durs)
        assert len(members) * max(durs) <= 30_000, (key, durs)
        # one bucket per pack: padding waste bounded by bucket width
        assert max(durs) - min(durs) < 2_000
        # slots are 0..k-1 within the pack
        assert sorted(m["slot"] for m in members) == list(range(len(members)))
    # full packs: per-pack sum >= capacity * bucket lower edge (the
    # structural floor), and mean utilization is healthy on seeded data
    full = [
        members
        for members in packs.values()
        if len(members) == members[0]["pack_capacity"]
    ]
    assert full
    for ms in full:
        lo = ms[0]["bucket"] * 2_000
        assert sum(m["dur_ms"] for m in ms) >= len(ms) * lo
    mean_util = sum(sum(m["dur_ms"] for m in ms) for ms in full) / (
        30_000 * len(full)
    )
    assert mean_util > 0.55, mean_util


def test_pack_deterministic_and_sharded(spark):
    from scylla_cdc_source_connector_spark.plans.sampling import (
        pack_duration_batches,
    )

    df, _ = _pack_fixture(spark, n=300, seed=5)
    kw = dict(budget_ms=20_000, bucket_width_ms=1_000, n_shards=4)
    a = sorted(map(tuple, pack_duration_batches(df, **kw).collect()))
    b = sorted(map(tuple, pack_duration_batches(df, **kw).collect()))
    assert a == b
    ok = [r for r in pack_duration_batches(df, **kw).collect() if r["pack_flag"] == "ok"]
    # every ok row packed exactly once; shards partition each bucket
    assert len({r["clip_id"] for r in ok}) == len(ok)
    packs = {}
    for r in ok:
        packs.setdefault(r["pack_key"], []).append(r)
    for members in packs.values():
        assert sum(m["dur_ms"] for m in members) <= 20_000
        assert len({(m["bucket"], m["shard"]) for m in members}) == 1
    assert len({r["shard"] for r in ok}) == 4


def test_pack_max_clips_cap_and_validation(spark):
    from scylla_cdc_source_connector_spark.plans.sampling import (
        pack_duration_batches,
    )

    df = spark.createDataFrame(
        [(f"c{i}", 100) for i in range(50)], "clip_id string, dur_ms int"
    )
    out = pack_duration_batches(
        df, budget_ms=100_000, bucket_width_ms=1_000, max_clips_per_batch=8
    ).collect()
    packs = {}
    for r in out:
        packs.setdefault(r["pack_key"], []).append(r)
    assert max(len(v) for v in packs.values()) == 8
    with pytest.raises(ValueError):
        pack_duration_batches(df, budget_ms=0)
    with pytest.raises(ValueError):
        pack_duration_batches(df, budget_ms=10, n_shards=0)


def test_pack_matches_sql_oracle(spark):
    """The packing arithmetic is ANSI-SQL-reproducible: duckdb computes
    the identical assignment (n_shards=1 — the sharded variant differs
    only by the xxhash64 sub-split, pinned above)."""
    import duckdb

    from scylla_cdc_source_connector_spark.plans.sampling import (
        pack_duration_batches,
    )

    df, rows = _pack_fixture(spark, n=250, seed=23)
    budget, width = 25_000, 2_000
    got = sorted(
        (r["clip_id"], r["pack_flag"], r["pack_key"], r["slot"])
        for r in pack_duration_batches(
            df, budget_ms=budget, bucket_width_ms=width
        ).collect()
    )
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE clips AS SELECT * FROM (VALUES "
        + ", ".join(
            f"('{c}', {d if d is not None else 'NULL'})" for c, d in rows
        )
        + ") t(clip_id, dur_ms)"
    )
    oracle = con.sql(f"""
        WITH ok AS (
          SELECT clip_id, dur_ms,
                 CAST(FLOOR((dur_ms - 1) / {width}) AS BIGINT) AS bucket
          FROM clips WHERE dur_ms > 0 AND dur_ms <= {budget}
        ), r AS (
          SELECT clip_id, bucket,
                 GREATEST(1, CAST(FLOOR({budget} / ((bucket + 1) * {width})) AS BIGINT)) AS cap,
                 ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY dur_ms DESC, clip_id) AS rn
          FROM ok
        )
        SELECT clip_id, 'ok' AS flag,
               bucket || ':0:' || CAST(FLOOR((rn - 1) / cap) AS BIGINT) AS pack_key,
               (rn - 1) % cap AS slot
        FROM r
        UNION ALL
        SELECT clip_id,
               CASE WHEN dur_ms IS NULL OR dur_ms <= 0 THEN 'no_duration'
                    ELSE 'oversize' END,
               NULL, NULL
        FROM clips WHERE dur_ms IS NULL OR dur_ms <= 0 OR dur_ms > {budget}
    """).fetchall()
    assert got == sorted(oracle)


# ---------------------------------------------------------------------------
# temperature mixing
# ---------------------------------------------------------------------------

def _mix_fixture(spark):
    # three langs with 8:3:1 natural proportions (by token weight)
    rows = []
    for lang, n, w in (("en", 800, 10), ("de", 300, 10), ("yo", 100, 10)):
        rows += [(f"{lang}{i:04d}", lang, w) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id string, lang string, n_tokens int")


def test_temperature_budgets_math(spark):
    from scylla_cdc_source_connector_spark.plans.sampling import (
        temperature_budgets,
    )

    df = _mix_fixture(spark)
    # alpha=1: natural proportions
    b1 = temperature_budgets(
        df, ["lang"], total_budget=6000, alpha=1.0, weight_col="n_tokens"
    )
    assert b1[("en",)] == 4000 and b1[("de",)] == 1500 and b1[("yo",)] == 500
    # alpha=0: uniform -> tail stratum capped at its 1000 available,
    # surplus redistributed over the others
    b0 = temperature_budgets(
        df, ["lang"], total_budget=6000, alpha=0.0, weight_col="n_tokens"
    )
    assert b0[("yo",)] == 1000
    assert b0[("en",)] == b0[("de",)] == 2500
    assert sum(b0.values()) == 6000
    # 0<alpha<1 upsamples the tail vs natural, never past availability
    bt = temperature_budgets(
        df, ["lang"], total_budget=6000, alpha=0.5, weight_col="n_tokens"
    )
    assert bt[("yo",)] > 500 and bt[("yo",)] <= 1000
    assert bt[("en",)] < 4300
    assert sum(bt.values()) <= 6000
    # budget bigger than the corpus: everything, capped at availability
    ball = temperature_budgets(
        df, ["lang"], total_budget=1_000_000, alpha=0.5, weight_col="n_tokens"
    )
    assert ball == {("en",): 8000, ("de",): 3000, ("yo",): 1000}
    import pytest as _p

    with _p.raises(ValueError):
        temperature_budgets(df, ["lang"], total_budget=0)


def test_temperature_budgets_refuses_high_cardinality(spark):
    """A stratum column with more distinct values than MAX_STRATA raises
    instead of collecting every stratum to the driver."""
    from scylla_cdc_source_connector_spark.plans.sampling import (
        MAX_STRATA,
        temperature_budgets,
    )

    df = spark.range(MAX_STRATA + 1).withColumnRenamed("id", "lang")
    with pytest.raises(ValueError, match=f"more than {MAX_STRATA} strata"):
        temperature_budgets(df, ["lang"], total_budget=100)
    # exactly MAX_STRATA strata still plan (each capped at its one row)
    at_cap = temperature_budgets(
        df.limit(MAX_STRATA), ["lang"], total_budget=2 * MAX_STRATA
    )
    assert len(at_cap) == MAX_STRATA


def test_temperature_mix_selection(spark):
    from scylla_cdc_source_connector_spark.plans.sampling import (
        temperature_budgets,
        temperature_mix,
    )

    df = _mix_fixture(spark)
    out = temperature_mix(
        df,
        ["lang"],
        total_budget=6000,
        alpha=0.5,
        weight_col="n_tokens",
        id_cols=["doc_id"],
    )
    budgets = temperature_budgets(
        df, ["lang"], total_budget=6000, alpha=0.5, weight_col="n_tokens"
    )
    got = {
        r["lang"]: r["w"]
        for r in out.groupBy("lang")
        .agg(F.sum("n_tokens").alias("w"))
        .collect()
    }
    # each stratum fills its budget to within one row's weight
    for (lang,), b in budgets.items():
        assert b - 10 < got[lang] <= b, (lang, got[lang], b)
    # deterministic
    a = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in temperature_mix(
            df,
            ["lang"],
            total_budget=6000,
            alpha=0.5,
            weight_col="n_tokens",
            id_cols=["doc_id"],
        ).select("doc_id").collect()
    )
    assert a == b
