"""Deterministic synthetic audio-clip changelog generator (FIXTURES.md F1/F2).

Synthesises, with a fixed seed and zero external data, the engine's input:
an append-only changelog of audio clip + transcript rows mirroring the
Scylla CDC log row model (base columns + cdc$ metadata columns; operation
codes per reference test CdcBatchPreimageMisalignmentIT.java:57-62, deleted
markers per ScyllaChangeRecordEmitter.java:42-47).

Event mix per FIXTURES.md F2: ~70% INSERT, ~20% UPDATE (with PRE/POST_IMAGE
rows), ~9% DELETE (with PRE_IMAGE), ~1% PARTITION_DELETE; ~1% hot clip_ids
(skew); a small fraction of type-grouped batches ([pre,pre,delta,delta,
post,post] — the CdcBatchPreimageMisalignmentIT ordering) and of exact
duplicates (exercising the replay drop); ≥2 generations with a
clean time boundary.

Everything is numpy/pandas vectorized so bench-scale generation (millions of
events) stays fast.  Audio waveforms are deterministic functions of
(clip_index, sr_hz, n_samples) so tests can recompute the reference PCM
without storing it (SNR ≥ 30 dB invariant).
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

from scylla_cdc_source_connector_spark import audio
from scylla_cdc_source_connector_spark.schemas import (
    NON_PK_COLUMNS,
    OP_PARTITION_DELETE,
    OP_POST_IMAGE,
    OP_PRE_IMAGE,
    OP_ROW_DELETE,
    OP_ROW_INSERT,
    OP_ROW_UPDATE,
)

BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs

_WORDS = (
    "signal noise audio clip stream shard window state batch delta image "
    "spark scylla cdc change record emit offset lineage watermark codec "
    "sample rate frame transcript speech tone wave hertz second"
).split()


def shard_of(clip_id: str, n_shards: int) -> int:
    """Deterministic shard for a clip — crc32, stable across processes
    (Python's hash() is salted).  Analog of Scylla's stream-id routing."""
    return zlib.crc32(clip_id.encode()) % n_shards


def clip_reference_pcm(clip_index: int, sr_hz: int, n_samples: int) -> np.ndarray:
    """Deterministic int16 waveform for a clip: two sines + seeded noise."""
    rng = np.random.default_rng(10_000_019 * (clip_index + 1))
    t = np.arange(n_samples, dtype=np.float64) / sr_hz
    f1 = 100.0 + (clip_index % 37) * 23.0
    f2 = 400.0 + (clip_index % 11) * 57.0
    wave = 0.55 * np.sin(2 * np.pi * f1 * t) + 0.25 * np.sin(2 * np.pi * f2 * t)
    wave += 0.02 * rng.standard_normal(n_samples)
    return np.clip(wave * 20000.0, -32768, 32767).astype(np.int16)


#: generator semantics version — part of FixtureSpec.content_hash, bump on
#: any change to make_clips / make_changelog output for the same spec
FIXTURE_GEN_VERSION = 1


@dataclass(frozen=True)
class FixtureSpec:
    n_events: int = 10_000
    n_clips: int = 1_000
    n_shards: int = 32
    n_generations: int = 2
    seed: int = 42
    mean_gap_ms: float = 10.0
    #: fraction of clips that are "hot" (skew dimension)
    hot_clip_frac: float = 0.01
    #: fraction of traffic that goes to hot clips
    hot_traffic_frac: float = 0.30
    #: clip duration bounds (kept short so bench-scale generation is cheap)
    min_dur_ms: int = 200
    max_dur_ms: int = 2_000
    dup_frac: float = 0.01
    grouped_batch_frac: float = 0.02
    null_out_frac: float = 0.05  # updates that set transcript to NULL

    def content_hash(self) -> str:
        """Stable short hash of the spec AND the generator version — the
        cache key for any parquet derived from this spec.  Bump
        FIXTURE_GEN_VERSION whenever make_clips/make_changelog semantics
        change, so stale cached fixtures can never silently feed checked
        queries (the commit-7bac807 bug class, prevented structurally)."""
        import dataclasses
        import hashlib

        payload = repr(
            (FIXTURE_GEN_VERSION, sorted(dataclasses.asdict(self).items()))
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


def make_clips(spec: FixtureSpec) -> pd.DataFrame:
    """F1 base table: clip_id, bytes, sr_hz, dur_ms, codec, transcript."""
    rng = np.random.default_rng(spec.seed)
    n = spec.n_clips
    idx = np.arange(n)
    sr = rng.choice(np.array([8000, 16000, 22050, 44100], dtype=np.int32), n)
    dur = rng.integers(spec.min_dur_ms, spec.max_dur_ms + 1, n).astype(np.int32)
    codecs = rng.choice(np.array(audio.SUPPORTED_CODECS), n)
    n_words = rng.integers(3, 41, n)
    word_pick = rng.integers(0, len(_WORDS), int(n_words.sum()))
    offs = np.concatenate([[0], np.cumsum(n_words)])
    transcripts = [
        " ".join(_WORDS[w] for w in word_pick[offs[i] : offs[i + 1]]) for i in range(n)
    ]
    blobs = []
    for i in range(n):
        n_samples = int(sr[i]) * int(dur[i]) // 1000
        pcm = clip_reference_pcm(i, int(sr[i]), n_samples)
        blobs.append(audio.encode(pcm, str(codecs[i])))
    return pd.DataFrame(
        {
            "clip_index": idx,
            "clip_id": [f"clip-{i:012d}" for i in idx],
            "bytes": blobs,
            "sr_hz": sr,
            "dur_ms": dur,
            "codec": codecs,
            "transcript": transcripts,
        }
    )


def _versioned(transcripts: pd.Series, versions: np.ndarray) -> pd.Series:
    out = transcripts.copy()
    mask = versions > 0
    if mask.any():
        out = out.where(~mask, out + pd.Series(versions, index=out.index).map(
            lambda v: f" v{v}"
        ))
    return out


def make_changelog(
    spec: FixtureSpec, clips: pd.DataFrame | None = None
) -> pd.DataFrame:
    """F2 changelog: one pandas row per CDC log row, arrival-ordered."""
    rng = np.random.default_rng(spec.seed + 1)
    if clips is None:
        clips = make_clips(spec)
    n = spec.n_events

    # --- delta events ------------------------------------------------------
    n_hot = max(1, int(spec.n_clips * spec.hot_clip_frac))
    is_hot = rng.random(n) < spec.hot_traffic_frac
    owner = np.where(
        is_hot, rng.integers(0, n_hot, n), rng.integers(0, spec.n_clips, n)
    )
    ops = rng.choice(
        np.array([OP_ROW_INSERT, OP_ROW_UPDATE, OP_ROW_DELETE, OP_PARTITION_DELETE]),
        n,
        p=[0.70, 0.20, 0.09, 0.01],
    ).astype(np.int32)

    gaps_us = rng.exponential(spec.mean_gap_ms * 1000.0, n)
    t_us = BASE_TS_US + np.cumsum(gaps_us).astype(np.int64)
    # generation = contiguous time epochs with a clean boundary
    gen = (np.arange(n) * spec.n_generations // n).astype(np.int32)
    # back-jitter ~2% of events by up to 25 s (late but inside the 30 s
    # confidence window), clamped to the generation start
    late = rng.random(n) < 0.02
    jitter = (rng.random(n) * 25_000_000).astype(np.int64)
    gen_start = t_us[np.searchsorted(gen, np.arange(spec.n_generations))]
    t_us = np.where(late, np.maximum(t_us - jitter, gen_start[gen]), t_us)
    # keep event times unique so (clip_id, cdc$time) identifies a change
    t_us = t_us + np.arange(n) % 7  # tiny deterministic skew, preserves order stats

    ev = pd.DataFrame(
        {
            "clip_index": owner,
            "op": ops,
            "t_us": t_us,
            "generation": gen,
            "arrival": np.arange(n, dtype=np.int64),
        }
    )
    ev = ev.merge(clips, on="clip_index", how="left")
    ev["shard"] = [shard_of(c, spec.n_shards) for c in ev["clip_id"]]
    ev["stream_id"] = ev["shard"].map(lambda s: f"s{s:04d}")

    # transcript version per clip = number of prior updates to that clip
    is_upd = ev["op"].values == OP_ROW_UPDATE
    upd_seq = np.zeros(len(ev), dtype=np.int64)
    upd_seq[is_upd] = (
        ev.loc[is_upd].groupby("clip_index").cumcount().values + 1
    )
    # carry version forward for non-update rows (for image construction)
    ver = (
        pd.Series(np.where(is_upd, upd_seq, np.nan), index=ev.index)
        .groupby(ev["clip_index"])
        .ffill()
        .fillna(0)
        .astype(np.int64)
    )
    ev["ver_after"] = np.where(is_upd, upd_seq, ver.values)
    ev["ver_before"] = np.where(is_upd, upd_seq - 1, ver.values)

    # updates that explicitly NULL the transcript
    nulled = is_upd & (rng.random(len(ev)) < spec.null_out_frac)
    ev["null_transcript"] = nulled

    # --- type-grouped batches (CdcBatchPreimageMisalignmentIT port) --------
    # pair some UPDATE deltas within a stream at the same cdc$time so the
    # expansion below yields [pre,pre,delta,delta,post,post] ordering
    upd_idx = ev.index[is_upd].values
    pick = upd_idx[rng.random(len(upd_idx)) < spec.grouped_batch_frac]
    grouped = ev.loc[pick].sort_values(["stream_id", "generation", "arrival"])
    for (_, _), grp in grouped.groupby(["stream_id", "generation"]):
        ids = grp.index.values
        for a, b in zip(ids[0::2], ids[1::2]):
            if ev.at[a, "clip_index"] != ev.at[b, "clip_index"]:
                ev.at[b, "t_us"] = ev.at[a, "t_us"]

    # --- expand deltas into CDC log rows (pre / delta / post) --------------
    base_cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]

    def _img(df: pd.DataFrame, op_code: int, ver_col: str) -> pd.DataFrame:
        img = df.copy()
        img["cdc$operation"] = np.int32(op_code)
        img["transcript"] = _versioned(img["transcript"], img[ver_col].values)
        if op_code == OP_POST_IMAGE:
            img.loc[img["null_transcript"], "transcript"] = None
        return img

    upd = ev[ev["op"] == OP_ROW_UPDATE]
    dele = ev[ev["op"].isin([OP_ROW_DELETE, OP_PARTITION_DELETE])]
    ins = ev[ev["op"] == OP_ROW_INSERT]

    pres = pd.concat(
        [_img(upd, OP_PRE_IMAGE, "ver_before"), _img(dele, OP_PRE_IMAGE, "ver_before")]
    )
    posts = pd.concat(
        [_img(upd, OP_POST_IMAGE, "ver_after"), _img(ins, OP_POST_IMAGE, "ver_after")]
    )

    deltas = ev.copy()
    deltas["cdc$operation"] = deltas["op"]
    # UPDATE delta carries only modified columns (transcript), others null
    m_upd = deltas["op"] == OP_ROW_UPDATE
    deltas.loc[m_upd, "transcript"] = _versioned(
        deltas.loc[m_upd, "transcript"], deltas.loc[m_upd, "ver_after"].values
    )
    deltas.loc[m_upd & deltas["null_transcript"], "transcript"] = None
    for c in ["bytes", "sr_hz", "dur_ms", "codec"]:
        deltas.loc[m_upd, c] = None
    # DELETE / PARTITION_DELETE delta carries only the PK
    m_del = deltas["op"].isin([OP_ROW_DELETE, OP_PARTITION_DELETE])
    for c in ["bytes", "sr_hz", "dur_ms", "codec", "transcript"]:
        deltas.loc[m_del, c] = None

    rows = pd.concat([pres, deltas, posts], ignore_index=True)

    # deleted markers: tri-state NULL-vs-unmodified (README.md:203-246 of ref)
    for c in NON_PK_COLUMNS:
        rows[f"cdc$deleted_{c}"] = False
    rows.loc[
        (rows["cdc$operation"] == OP_ROW_UPDATE) & rows["null_transcript"],
        "cdc$deleted_transcript",
    ] = True

    # ordering: within one (stream, cdc$time) batch the CDC log is
    # type-grouped — all PRE_IMAGEs, then deltas, then POST_IMAGEs, each
    # sub-ordered by clip (CdcBatchPreimageMisalignmentIT.java:21-98)
    op_rank = rows["cdc$operation"].map(
        {OP_PRE_IMAGE: 0, OP_ROW_UPDATE: 1, OP_ROW_INSERT: 1, OP_ROW_DELETE: 1,
         OP_PARTITION_DELETE: 1, OP_POST_IMAGE: 2}
    )
    rows = rows.assign(_rank=op_rank)
    # all rows of one (stream, cdc$time) write batch must be contiguous and
    # type-grouped, whatever event they came from
    rows["_batch_arrival"] = rows.groupby(["stream_id", "t_us"])["arrival"].transform(
        "min"
    )
    rows = rows.sort_values(
        ["_batch_arrival", "_rank", "clip_id", "arrival"], kind="stable"
    ).reset_index(drop=True)
    rows["cdc$batch_seq_no"] = (
        rows.groupby(["stream_id", "t_us"]).cumcount().astype(np.int32)
    )

    # --- exact duplicates (exercise the replay drop) -----------------------
    rng2 = np.random.default_rng(spec.seed + 2)
    delta_mask = rows["cdc$operation"].isin(
        [OP_ROW_INSERT, OP_ROW_UPDATE, OP_ROW_DELETE, OP_PARTITION_DELETE]
    )
    dup_rows = rows[delta_mask].sample(
        frac=spec.dup_frac, random_state=np.random.RandomState(spec.seed + 3)
    )
    rows = pd.concat([rows, dup_rows], ignore_index=True)

    out = pd.DataFrame(
        {
            "cdc$stream_id": rows["stream_id"],
            "cdc$time": pd.to_datetime(rows["t_us"], unit="us"),
            "cdc$time_us": rows["t_us"].astype(np.int64),
            "cdc$operation": rows["cdc$operation"].astype(np.int32),
            "cdc$batch_seq_no": rows["cdc$batch_seq_no"].astype(np.int32),
            "generation": rows["generation"].astype(np.int32),
        }
    )
    for c in base_cols:
        out[c] = rows[c].values
    out["sr_hz"] = out["sr_hz"].astype("Int32")
    out["dur_ms"] = out["dur_ms"].astype("Int32")
    for c in NON_PK_COLUMNS:
        out[f"cdc$deleted_{c}"] = rows[f"cdc$deleted_{c}"].astype(bool).values
    return out


def arrow_changelog_schema():
    """Canonical parquet/Arrow schema (µs timestamps — Spark's
    TimestampType; pandas' default ns timestamps are NOT readable under the
    declared Spark schema, so always write chunks through this)."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("cdc$stream_id", pa.string(), False),
            pa.field("cdc$time", pa.timestamp("us"), False),
            pa.field("cdc$time_us", pa.int64(), False),
            pa.field("cdc$operation", pa.int32(), False),
            pa.field("cdc$batch_seq_no", pa.int32(), False),
            pa.field("generation", pa.int32(), False),
            pa.field("clip_id", pa.string(), False),
            pa.field("bytes", pa.binary()),
            pa.field("sr_hz", pa.int32()),
            pa.field("dur_ms", pa.int32()),
            pa.field("codec", pa.string()),
            pa.field("transcript", pa.string()),
        ]
        + [pa.field(f"cdc$deleted_{c}", pa.bool_()) for c in NON_PK_COLUMNS]
    )


def write_changelog_chunk(
    pdf: pd.DataFrame, path: str, target_row_group_mb: int = 32
) -> None:
    """Write changelog rows to one parquet file in the canonical schema —
    one 'arrival chunk' ≙ one CDC time window of the reference's scan.

    Row groups are sized by BYTES, not rows: a row-count-sized group
    (the pyarrow default is 1Mi rows) over ~9-20 kB payload rows builds
    one multi-hundred-MB row group per file, and a parquet file with one
    giant row group is unsplittable — Spark assigns splits by byte range
    but a row group goes entirely to the task owning its midpoint, so a
    240 MB single-group chunk is scanned (and its downstream narrow
    stages run) by ONE task no matter what maxPartitionBytes says.
    Measured on the 8-chunk micro-batch bench: per-trigger envelope write
    2.4 s with one 258 MB row group vs the same bytes split 32-ways in
    the availableNow batch running 8× faster per byte.  ~32 MB groups
    keep every chunk splittable to the full executor count while staying
    well above the footer-overhead floor.  (Iceberg analog for the
    production table: write.parquet.row-group-size-bytes.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(
        pdf, schema=arrow_changelog_schema(), preserve_index=False
    )
    if len(pdf):
        rows_per_group = max(
            256,
            int(len(pdf) * target_row_group_mb * 1e6 / max(table.nbytes, 1)),
        )
    else:
        rows_per_group = 64_000
    pq.write_table(table, path, row_group_size=rows_per_group)


def write_changelog_parquet(path: str, spec: FixtureSpec) -> pd.DataFrame:
    """Materialize the changelog at `path` (parquet, arrival-ordered row
    groups).  In production this is an Iceberg table partitioned by
    (shard bucket, hours(cdc$time)); parquet stands in locally."""
    pdf = make_changelog(spec)
    write_changelog_chunk(pdf, path)
    return pdf
