"""Corpus composition operators: transcript↔audio consistency gating and
deterministic stratified sampling under per-stratum token budgets.

The north-star input is (clip_id, bytes, sr_hz, dur_ms, codec,
transcript) pairs; a training mix built from connector output needs two
passes the reference has no analog for (its job ends at emitting rows —
ScyllaChangesConsumer.java hands records to Kafka verbatim):

  * `speech_rate_check` — the cheapest cross-modal QA there is: a
    transcript whose token rate is physically implausible for its audio
    duration (conversational speech sits ~1-4 words/s) signals a
    mislabeled pair, a truncated blob, or a transcript from a different
    clip.  Pure codegen over metadata — the audio bytes are never read.

  * `stratified_sample` — "give me at most N tokens per (lang, source)
    cell, deterministically": the standard data-mixing step before
    tokenizer/training runs.  Per stratum, rows are ranked by a seeded
    hash (reproducible, order-independent) and kept while the stratum's
    running token sum stays within budget — an exact quota, not a
    probabilistic `sampleBy` fraction (which over/under-shoots per
    partition and needs a pre-pass to estimate rates anyway).

Scale shape of `stratified_sample`: the window runs over a SLIM
projection (id, stratum, weight, hash) — the document/audio payload
never enters the sort; selected ids join back to the full rows as a
key-only semi-join.  One shuffle for the per-stratum window + the join's
exchanges on ids.  Hot strata skew the window partition; the mitigation
is the same budget: a stratum's sort input can be pre-truncated to
rows whose individual weight ≤ budget, and AQE skew handling splits
oversized partitions for the join side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from scylla_cdc_source_connector_spark.functions.text import tokens_expr

#: most strata temperature_budgets brings to the driver
MAX_STRATA = 10_000


def speech_rate_check(
    clips: DataFrame,
    *,
    text_col: str = "transcript",
    dur_col: str = "dur_ms",
    min_tokens_per_s: float = 0.5,
    max_tokens_per_s: float = 6.0,
) -> DataFrame:
    """Adds (n_transcript_tokens, tokens_per_s_x100, speech_rate_ok,
    speech_rate_flag) — flag is 'ok' / 'too_fast' / 'too_slow' /
    'empty_transcript' / 'no_duration'.

    Integer ×100 rate keeps the column oracle-hashable; bounds default to
    the generous conversational-speech envelope (0.5-6 tokens/s) so only
    physically implausible pairs flag."""
    toks = F.size(tokens_expr(F.col(text_col)))
    rate_x100 = F.when(
        F.col(dur_col) > 0, F.floor(toks * 100000 / F.col(dur_col)).cast("long")
    )
    flag = (
        F.when(F.col(dur_col).isNull() | (F.col(dur_col) <= 0), "no_duration")
        .when(toks == 0, "empty_transcript")
        .when(rate_x100 > int(max_tokens_per_s * 100), "too_fast")
        .when(rate_x100 < int(min_tokens_per_s * 100), "too_slow")
        .otherwise("ok")
    )
    return (
        clips.withColumn("n_transcript_tokens", toks)
        .withColumn("tokens_per_s_x100", rate_x100)
        .withColumn("speech_rate_flag", flag)
        .withColumn("speech_rate_ok", flag == F.lit("ok"))
    )


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    *,
    budget_per_stratum: int,
    weight_col: str | None = None,
    id_cols: list[str] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-stratum quota sample: keep rows, in seeded-hash
    order, while the stratum's cumulative weight stays ≤ budget.

    weight_col=None counts every row as weight 1 (a row-count quota);
    otherwise the column (e.g. a token count) is summed.  A single row
    heavier than the whole budget is dropped (it cannot fit), EXCEPT the
    stratum's first-ranked row when nothing lighter precedes it — so a
    stratum with only over-budget rows still contributes one row rather
    than silently vanishing; pass strict budgets downstream if that
    matters.  Rows keep their full width; the ordering/cumsum runs on a
    slim projection only (see module docstring).

    Determinism: the order is xxhash64(id_cols..., seed) — stable across
    partitioning, retries and cluster sizes; re-running on the same input
    yields the same sample (the property a reproducible data mix needs).
    """
    if not strata_cols:
        raise ValueError("strata_cols must be non-empty")
    ids = id_cols if id_cols is not None else [
        c for c in df.columns if c not in strata_cols
    ][:1]
    if not ids:
        raise ValueError("need id_cols (or at least one non-stratum column)")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    slim = df.select(
        *strata_cols,
        *ids,
        w.alias("__w"),
        F.xxhash64(*[F.col(c) for c in ids], F.lit(seed)).alias("__h"),
    )
    win = Window.partitionBy(*strata_cols).orderBy("__h", *ids)
    picked = (
        slim.withColumn("__cum", F.sum("__w").over(win))
        .withColumn("__rank", F.row_number().over(win))
        .where(
            (F.col("__cum") <= F.lit(budget_per_stratum))
            | (F.col("__rank") == 1)
        )
        .select(*ids)
    )
    return df.join(picked, on=ids, how="left_semi")


def pack_duration_batches(
    clips: DataFrame,
    *,
    budget_ms: int,
    bucket_width_ms: int = 1_000,
    max_clips_per_batch: int | None = None,
    n_shards: int = 1,
    id_col: str = "clip_id",
    dur_col: str = "dur_ms",
) -> DataFrame:
    """Duration-bucketed batch packing — the training-loader step that
    turns a clip corpus into fixed-duration-budget batches of
    near-homogeneous lengths (the "bucket by length, pack to a budget"
    sampler every ASR/TTS trainer ships; padding waste within a batch is
    bounded by the bucket width).

    Semantics (all integer arithmetic, so an ANSI-SQL oracle reproduces
    it bit-for-bit — pinned by tests/test_sampling.py):

      * bucket  = floor((dur-1) / bucket_width_ms)  — linear duration
        buckets; a batch only mixes clips from one bucket;
      * capacity = max(1, budget_ms div bucket_upper_edge)  (optionally
        capped by max_clips_per_batch) — counting against the bucket's
        UPPER edge makes the budget a hard guarantee: every emitted
        batch's total duration (even padded to the batch max) is
        <= budget_ms, with no sequential state;
      * within (bucket, shard): rows ordered by (dur desc, id) are cut
        into consecutive groups of `capacity` — pack_key
        "bucket:shard:k", slot = position within the pack.

    Rows that cannot be packed pass through with pack_key NULL and
    pack_flag 'oversize' (dur > budget) or 'no_duration' (NULL/<= 0);
    everything else is 'ok'.

    Scale shape: ONE shuffle — the row_number window over a SLIM
    (id, dur) projection; payloads never enter the sort (callers join
    the assignment back by id).  A single bucket holding most of the
    corpus would skew the window partition; `n_shards > 1` sub-splits
    every bucket by xxhash64(id) so no window partition exceeds
    ~corpus/n_shards while each pack stays within one shard (packing is
    order-free across packs, so sharding changes WHICH clips share a
    batch, never the budget guarantee).

    Reference analog: none — the connector stops at emitting rows; this
    is the engine-extension corpus-composition axis next to
    `stratified_sample`.
    """
    if budget_ms <= 0 or bucket_width_ms <= 0:
        raise ValueError("budget_ms and bucket_width_ms must be positive")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    d = F.col("__dur")
    flag = (
        F.when(d.isNull() | (d <= 0), F.lit("no_duration"))
        .when(d > budget_ms, F.lit("oversize"))
        .otherwise(F.lit("ok"))
    )
    slim = clips.select(
        F.col(id_col).alias("__id"), F.col(dur_col).cast("long").alias("__dur")
    ).withColumn("__flag", flag)
    ok = slim.where(F.col("__flag") == "ok")
    bucket = F.floor((F.col("__dur") - 1) / bucket_width_ms).cast("long")
    upper = (bucket + 1) * bucket_width_ms
    cap = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.lit(int(budget_ms)) / upper).cast("long"),
    )
    if max_clips_per_batch is not None:
        cap = F.least(cap, F.lit(int(max_clips_per_batch)).cast("long"))
    shard = (
        F.pmod(F.xxhash64("__id"), F.lit(n_shards)).cast("long")
        if n_shards > 1
        else F.lit(0).cast("long")
    )
    win = Window.partitionBy("__bucket", "__shard").orderBy(
        F.col("__dur").desc(), F.col("__id")
    )
    packed = (
        ok.withColumn("__bucket", bucket)
        .withColumn("__shard", shard)
        .withColumn("__cap", cap)
        .withColumn("__rn", F.row_number().over(win).cast("long"))
        .select(
            "__id",
            "__dur",
            "__flag",
            "__bucket",
            "__shard",
            "__cap",
            F.concat_ws(
                ":",
                F.col("__bucket"),
                F.col("__shard"),
                F.floor((F.col("__rn") - 1) / F.col("__cap")).cast("long"),
            ).alias("__pack"),
            ((F.col("__rn") - 1) % F.col("__cap")).alias("__slot"),
        )
    )
    rest = slim.where(F.col("__flag") != "ok").select(
        "__id",
        "__dur",
        "__flag",
        F.lit(None).cast("long").alias("__bucket"),
        F.lit(None).cast("long").alias("__shard"),
        F.lit(None).cast("long").alias("__cap"),
        F.lit(None).cast("string").alias("__pack"),
        F.lit(None).cast("long").alias("__slot"),
    )
    return packed.unionByName(rest).select(
        F.col("__id").alias(id_col),
        F.col("__dur").alias(dur_col),
        F.col("__flag").alias("pack_flag"),
        F.col("__bucket").alias("bucket"),
        F.col("__shard").alias("shard"),
        F.col("__cap").alias("pack_capacity"),
        F.col("__pack").alias("pack_key"),
        F.col("__slot").alias("slot"),
    )


def temperature_budgets(
    df: DataFrame,
    strata_cols: list[str],
    *,
    total_budget: int,
    alpha: float = 0.5,
    weight_col: str | None = None,
) -> dict[tuple, int]:
    """Per-stratum budgets for temperature-based data mixing — the
    standard multilingual/multi-source LLM recipe: sampling probability
    q_s ∝ p_s^alpha where p_s is the stratum's share of the corpus
    (alpha=1 keeps natural proportions, alpha=0 is uniform, alpha~0.3-0.7
    upsamples the tail the way published multilingual recipes do).

    A stratum's budget is capped at what it actually has; the surplus is
    redistributed over the uncapped strata by renormalizing q (iterated
    to a fixpoint — at most #strata rounds), so `sum(budgets) <=
    total_budget` with equality whenever the corpus is large enough.

    Driver-side math over ONE small aggregate (one row per stratum —
    strata are (lang, source)-sized, ≪ corpus; same C≪N defensibility as
    the IVF centroid collect; more than MAX_STRATA strata raise rather
    than flood the driver).  Returns {stratum tuple: budget}."""
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    if total_budget <= 0:
        raise ValueError("total_budget must be positive")
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    rows = (
        df.groupBy(*strata_cols)
        .agg(F.sum(w).alias("__w"))
        .limit(MAX_STRATA + 1)
        .collect()
    )
    if len(rows) > MAX_STRATA:
        raise ValueError(
            f"temperature_budgets: {strata_cols} has more than {MAX_STRATA} "
            "strata; stratify on coarser columns"
        )
    avail = {tuple(r[c] for c in strata_cols): float(r["__w"]) for r in rows}
    if not avail:
        return {}
    total_w = sum(avail.values())
    q = {s: (wv / total_w) ** alpha for s, wv in avail.items()}
    budgets: dict[tuple, int] = {}
    remaining = float(total_budget)
    live = dict(q)
    while live and remaining >= 1.0:
        z = sum(live.values())
        capped = False
        for s in list(live):
            want = remaining * live[s] / z
            if want >= avail[s]:
                budgets[s] = int(avail[s])
                del live[s]
                capped = True
        if capped:
            remaining = total_budget - sum(budgets.values())
            continue
        for s in live:
            budgets[s] = budgets.get(s, 0) + int(remaining * live[s] / z)
        break
    return budgets


def temperature_mix(
    df: DataFrame,
    strata_cols: list[str],
    *,
    total_budget: int,
    alpha: float = 0.5,
    weight_col: str | None = None,
    id_cols: list[str] | None = None,
    seed: int = 0,
) -> DataFrame:
    """Temperature-weighted mixture sample: `temperature_budgets` decides
    each stratum's quota, then rows are kept deterministically (seeded
    xxhash64 order, cumulative weight <= quota) — `stratified_sample`'s
    selection with PER-STRATUM budgets broadcast-joined in.

    Scale shape: one slim agg for the budgets (one row per stratum), one
    window over the slim (id, stratum, weight, hash) projection, a
    broadcast join of the tiny budget table, and a key-only semi-join
    back to the full rows — the document/audio payload never enters the
    sort."""
    if not strata_cols:
        raise ValueError("strata_cols must be non-empty")
    ids = id_cols if id_cols is not None else [
        c for c in df.columns if c not in strata_cols
    ][:1]
    if not ids:
        raise ValueError("need id_cols (or at least one non-stratum column)")
    budgets = temperature_budgets(
        df,
        strata_cols,
        total_budget=total_budget,
        alpha=alpha,
        weight_col=weight_col,
    )
    if not budgets:
        return df.limit(0)
    spark = df.sparkSession
    bdf = spark.createDataFrame(
        [(*s, b) for s, b in budgets.items()],
        df.select(*strata_cols).schema.add("__budget", "long"),
    )
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    slim = df.select(
        *strata_cols,
        *ids,
        w.alias("__w"),
        F.xxhash64(*[F.col(c) for c in ids], F.lit(seed)).alias("__h"),
    ).join(F.broadcast(bdf), on=strata_cols)
    win = Window.partitionBy(*strata_cols).orderBy("__h", *ids)
    picked = (
        slim.withColumn("__cum", F.sum("__w").over(win))
        .where(F.col("__cum") <= F.col("__budget"))
        .select(*ids)
    )
    return df.join(picked, on=ids, how="left_semi")
