"""ITU-R BS.1770-4 / EBU R128 loudness over audio payloads.

The corpus-QC gates in `audio_features.py` (spectral descriptors) and
`audio.py` (decode/SNR verdict) say nothing about *perceived level* —
the axis every speech-corpus spec actually writes down ("normalize to
-23 LUFS", "reject clips peaking above -1 dBTP").  This module computes
the three published R128 measurements per clip:

- **integrated loudness (LUFS)**: K-weighted mean-square over 400 ms
  gating blocks (75 % overlap), two-stage gated per BS.1770-4 — an
  absolute gate at -70 LUFS, then a relative gate 10 LU below the
  absolute-gated mean;
- **loudness range (LRA, LU)**: EBU Tech 3342 — the p95 - p10 spread of
  the short-term (3 s) loudness distribution, absolute gate -70 LUFS and
  relative gate 20 LU below the absolute-gated mean;
- **true peak (dBTP)**: 4x oversampled peak (FFT interpolation), the
  inter-sample overshoot a plain `max(abs(x))` misses.

Implementation notes (all public spec / textbook DSP):

- The K-weighting filter is specified as two biquads (high-shelf
  f0=1681.97 Hz +4 dB, high-pass f0=38.14 Hz); coefficients for any
  sample rate come from De Man's published tan-warped re-derivation of
  the spec's 48 kHz table ("Evaluation of implementations of the ITU-R
  BS.1770 loudness algorithm", reproduced bit-for-bit at 48 kHz by a
  test).  We apply the weighting in the FREQUENCY domain, once per
  CLIP: y = irfft(rfft(x_padded) * H) — circular convolution whose wrap
  the zero-pad tail absorbs (the 38 Hz high-pass's impulse response
  decays well inside the 0.125 s pad).  This avoids the sequential IIR
  recurrence (unvectorizable in numpy); every 400 ms gating block's
  mean square then falls out of one cumsum of y^2 in O(1) per block.
  The 997 Hz full-scale sine anchor (-3.01 LUFS) is pinned by tests to
  0.1 LU at 8/16/48 kHz.
- Short-term (3 s) loudness is composited from the 400 ms block powers
  (mean of the 27 blocks whose 100 ms hops tile the window) — a
  documented approximation with a slight taper at window edges.
- True peak is the BS.1770 Annex-2-shaped 4x polyphase FIR (64-tap
  Hann-windowed sinc, one np.convolve per row+phase so a row stays in
  cache across phases), floored at the sample-domain peak.

Reference analog: none — the connector never looks inside payload cells
(`ScyllaChangesConsumer.java` validates structurally); this is the
engine-extension quality axis over the BASELINE input_hint's audio
payload, next to `audio_features.extract_features`.

Scale shape (the 100-TB rule): identical to `audio_features.py` — one
`mapInPandas` narrow stage, one concat decode per same-codec group, one
batched rFFT per (codec, sample-rate) subgroup, per-clip aggregation via
segmented `reduceat`; the payload never crosses a shuffle.  Python-per-
row happens only for WAV container parsing (shared `_resolve_effective`).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from scylla_cdc_source_connector_spark.audio_features import (
    _RAW_CODECS,
    _decode_concat,
    _resolve_effective,
)

#: BS.1770-4 K-weighting prototype parameters (stage 1 high-shelf,
#: stage 2 high-pass) — published filter spec, sample-rate independent.
_SHELF_F0, _SHELF_GAIN_DB, _SHELF_Q = 1681.9744509742, 3.99984385397, 0.7071752369
_HP_F0, _HP_Q = 38.13547087602, 0.50032703732
#: gating per BS.1770-4 §10 / EBU Tech 3342
_ABS_GATE_LUFS = -70.0
_REL_GATE_LU = 10.0
_LRA_REL_GATE_LU = 20.0
_LUFS_OFFSET = -0.691
#: gating block = 400 ms, hop = 100 ms (75 % overlap); short-term = 3 s
_BLOCK_S, _HOP_S, _ST_S = 0.4, 0.1, 3.0
#: true-peak oversampling factor + edge margin (samples per side)
_TP_OVER, _TP_PAD = 4, 32

AUDIO_LOUDNESS_SCHEMA = (
    "clip_id string, decode_ok boolean, n_blocks int, "
    "lufs_integrated double, lra_lu double, true_peak_dbtp double"
)


#: the shelf's band-gain exponent from De Man's published re-derivation
#: of the BS.1770 coefficients (Vb = Vh^0.4997.. reproduces the spec's
#: 48 kHz table bit-for-bit; plain RBJ does not)
_SHELF_VB_EXP = 0.4996667741545416


def _deman_highshelf(sr: float):
    """BS.1770 stage-1 high-shelf for any sample rate (De Man's
    tan-warped parameterization; at 48 kHz this reproduces the
    coefficient table printed in BS.1770-4 itself)."""
    K = np.tan(np.pi * _SHELF_F0 / sr)
    Vh = 10.0 ** (_SHELF_GAIN_DB / 20.0)
    Vb = Vh**_SHELF_VB_EXP
    a0 = 1.0 + K / _SHELF_Q + K * K
    b = np.array([
        (Vh + Vb * K / _SHELF_Q + K * K) / a0,
        2.0 * (K * K - Vh) / a0,
        (Vh - Vb * K / _SHELF_Q + K * K) / a0,
    ])
    a = np.array([1.0, 2.0 * (K * K - 1.0) / a0, (1.0 - K / _SHELF_Q + K * K) / a0])
    return b, a


def _deman_highpass(sr: float):
    """BS.1770 stage-2 high-pass: the spec keeps the UN-normalized
    [1, -2, 1] numerator (slight broadband gain vs a textbook RBJ HP)."""
    K = np.tan(np.pi * _HP_F0 / sr)
    d = 1.0 + K / _HP_Q + K * K
    b = np.array([1.0, -2.0, 1.0])
    a = np.array([1.0, 2.0 * (K * K - 1.0) / d, (1.0 - K / _HP_Q + K * K) / d])
    return b, a


def _biquad_mag2(b: np.ndarray, a: np.ndarray, w: np.ndarray) -> np.ndarray:
    """|H(e^{jw})|^2 of one biquad at angular frequencies w."""
    z1 = np.exp(-1j * w)
    z2 = z1 * z1
    num = b[0] + b[1] * z1 + b[2] * z2
    den = a[0] + a[1] * z1 + a[2] * z2
    return (num.real**2 + num.imag**2) / (den.real**2 + den.imag**2)


def k_weight_mag2(sr: int, n_fft: int) -> np.ndarray:
    """Combined K-weighting |H|^2 at the rFFT bin frequencies of an
    n_fft-point transform at sample rate sr."""
    w = 2.0 * np.pi * np.arange(n_fft // 2 + 1, dtype=np.float64) / n_fft
    bs, as_ = _deman_highshelf(float(sr))
    bh, ah = _deman_highpass(float(sr))
    return _biquad_mag2(bs, as_, w) * _biquad_mag2(bh, ah, w)


def _segment_percentile(
    vals: np.ndarray,
    offsets: np.ndarray,
    counts: np.ndarray,
    q: float,
) -> np.ndarray:
    """Linear-interpolated per-segment percentile of the first counts[s]
    entries of each segment (vals already sorted ascending per segment,
    masked-out entries pushed to the tail as +inf)."""
    out = np.full(len(counts), np.nan)
    hasv = counts > 0
    if not hasv.any():
        return out
    pos = q * (counts[hasv] - 1)
    lo = np.floor(pos).astype(np.int64)
    hi = np.minimum(lo + 1, counts[hasv] - 1)
    frac = pos - lo
    base = offsets[hasv]
    out[hasv] = vals[base + lo] * (1 - frac) + vals[base + hi] * frac
    return out


def _gated_mean_db(
    z: np.ndarray,
    l_db: np.ndarray,
    clip_of: np.ndarray,
    n_clips: int,
    rel_gate_lu: float,
) -> np.ndarray:
    """Two-stage (absolute then relative) gated power mean per clip,
    returned in LUFS; NaN where no block survives the gates."""
    out = np.full(n_clips, np.nan)
    m_abs = l_db > _ABS_GATE_LUFS
    cnt_a = np.bincount(clip_of, weights=m_abs, minlength=n_clips)
    sum_a = np.bincount(clip_of, weights=z * m_abs, minlength=n_clips)
    has = cnt_a > 0
    if not has.any():
        return out
    mean_a = np.where(has, sum_a / np.maximum(cnt_a, 1), np.nan)
    with np.errstate(divide="ignore", invalid="ignore"):
        gamma_r = _LUFS_OFFSET + 10.0 * np.log10(mean_a) - rel_gate_lu
    m = m_abs & (l_db > gamma_r[clip_of])
    cnt = np.bincount(clip_of, weights=m, minlength=n_clips)
    s = np.bincount(clip_of, weights=z * m, minlength=n_clips)
    ok = cnt > 0
    with np.errstate(divide="ignore", invalid="ignore"):
        out[ok] = _LUFS_OFFSET + 10.0 * np.log10(s[ok] / cnt[ok])
    return out


def k_filter_complex(sr: int, n_fft: int) -> np.ndarray:
    """Combined K-weighting complex frequency response H(w) at the rFFT
    bin frequencies of an n_fft-point transform at sample rate sr — the
    full-signal filtering form (vs k_weight_mag2's power form)."""
    w = 2.0 * np.pi * np.arange(n_fft // 2 + 1, dtype=np.float64) / n_fft
    z1 = np.exp(-1j * w)
    z2 = z1 * z1
    bs, as_ = _deman_highshelf(float(sr))
    bh, ah = _deman_highpass(float(sr))
    hs = (bs[0] + bs[1] * z1 + bs[2] * z2) / (as_[0] + as_[1] * z1 + as_[2] * z2)
    hh = (bh[0] + bh[1] * z1 + bh[2] * z2) / (ah[0] + ah[1] * z1 + ah[2] * z2)
    return hs * hh


#: cap on rows x padded-length per stacked FFT chunk (float64 working set
#: ~32 MB for the matrix)
_CHUNK_ELEMS = 1 << 22


def _fast_fft_len(n: np.ndarray) -> np.ndarray:
    """Smallest {1,3,5}x2^k >= n (>= 1024) — pocketfft handles radix
    3/5 efficiently, and allowing them cuts the zero-pad inflation from
    a worst-case 2x (pure pow2) to ~1.25x."""
    n = np.maximum(np.asarray(n, dtype=np.int64), 1024)
    p2 = 1 << np.ceil(np.log2(n)).astype(np.int64)
    best = p2
    for mul in (3, 5):
        cand = mul << np.maximum(
            np.ceil(np.log2(n / mul)).astype(np.int64), 0
        )
        best = np.where((cand >= n) & (cand < best), cand, best)
    return best

#: 4x polyphase windowed-sinc interpolator for the true-peak meter (the
#: BS.1770 Annex 2 oversampled-peak shape): 64-tap Hann-windowed sinc,
#: 4 phases x 16 taps, per-phase DC gain normalized.  Worst-case
#: passband error vs ideal is ~0.16 dB up to 0.45 fs (pinned by the
#: sr/4 recovery test).
_TP_TAPS = 16


def _tp_phase_filters() -> np.ndarray:
    m = np.arange(_TP_OVER * _TP_TAPS)
    center = (_TP_OVER * _TP_TAPS - 1) / 2.0
    h = np.sinc((m - center) / _TP_OVER) * np.hanning(_TP_OVER * _TP_TAPS)
    hp = np.stack([h[p :: _TP_OVER] for p in range(_TP_OVER)], axis=1)
    return (hp / hp.sum(axis=0, keepdims=True)).astype(np.float32)


_TP_HP = _tp_phase_filters()


def _true_peak_rows(mat32: np.ndarray, n_valid: np.ndarray) -> np.ndarray:
    """Per-row 4x-oversampled peak of a float32 (B, <=n) matrix via the
    polyphase FIR, one `np.convolve` per (row, phase).  The per-ROW loop
    is deliberate: a row (~10k samples, ~40 kB) stays in L1/L2 across
    the 4 phase convolutions, so the corpus crosses DRAM once — the
    matrix-wide formulations (sliding-window matmul: 16x materialized
    copy; 64 shifted multiply-add passes; zero-padded-spectrum irfft:
    4x the base FFT) each re-stream the whole corpus several times and
    measured 3-25x slower under 32-way worker parallelism."""
    B = mat32.shape[0]
    out = np.empty(B, dtype=np.float64)
    for r in range(B):
        x = mat32[r, : max(int(n_valid[r]), 1) + _TP_TAPS]
        m = np.abs(x).max()
        if len(x) >= _TP_TAPS:
            for p in range(_TP_OVER):
                y = np.convolve(x, _TP_HP[:, p], mode="valid")
                m = max(m, np.abs(y).max())
        out[r] = m
    return out


def _group_loudness(pcm: np.ndarray, n_samples: np.ndarray, srs: np.ndarray):
    """Per-clip (n_blocks, lufs_integrated, lra_lu, true_peak_dbtp) for
    ONE concatenated same-codec group.

    Shape: clips are bucketed by next-pow2 padded length per sample rate
    and stacked, then per bucket-chunk: ONE rfft, K-filter applied in
    the frequency domain (full-signal filtering — no per-block FFTs, no
    75 %-overlap data expansion), ONE irfft back, and every 400 ms
    gating-block mean square falls out of a row-wise cumsum of y^2 in
    O(1) per block.  True peak is the Annex-2-shaped polyphase FIR as
    streaming shifted adds in float32 (_true_peak_rows) — no second FFT
    pass.  The first cut of this kernel did per-block non-pow2 rFFTs
    over 4x-overlapped gathers + a 4x irfft per coverage block; this
    shape measured ~5x faster on the bench corpus (see BENCH notes)."""
    c = len(n_samples)
    starts = np.zeros(c, dtype=np.int64)
    np.cumsum(n_samples[:-1], out=starts[1:])
    n_blocks = np.zeros(c, dtype=np.int64)
    lufs = np.full(c, np.nan)
    lra = np.full(c, np.nan)
    tp = np.full(c, np.nan)

    for sr in np.unique(srs):
        idx = np.flatnonzero(srs == sr)
        N = int(round(_BLOCK_S * sr))
        hop = int(round(_HOP_S * sr))
        ns = n_samples[idx]
        st0 = starts[idx]
        nb = np.where(ns >= N, 1 + (ns - N) // hop, 0)
        n_blocks[idx] = nb

        # ---- bucket by padded fast FFT length, chunk rows for memory ----
        pad = max(_TP_PAD, int(0.125 * sr))  # HP-filter circular-wrap tail
        Ls = _fast_fft_len(ns + pad)
        z_per_clip: list = [None] * len(idx)  # per-clip gating-block powers
        for L in np.unique(Ls):
            sub = np.flatnonzero(Ls == L)
            max_rows = max(1, _CHUNK_ELEMS // int(L))
            h_cplx = k_filter_complex(int(sr), int(L))
            for lo in range(0, len(sub), max_rows):
                rows = sub[lo : lo + max_rows]
                B = len(rows)
                n_max = int(ns[rows].max())
                mat = np.zeros((B, int(L)))
                for r, j in enumerate(rows):
                    mat[r, : ns[j]] = pcm[st0[j] : st0[j] + ns[j]]
                X = np.fft.rfft(mat, axis=1)
                y = np.fft.irfft(X * h_cplx, n=int(L), axis=1)[:, :n_max]
                cs = np.cumsum(y * y, axis=1)
                # block sum = cs[end] - cs[start-1]; O(1) per block
                for r, j in enumerate(rows):
                    if nb[j] > 0:
                        bst = np.arange(nb[j], dtype=np.int64) * hop
                        ends = bst + N - 1
                        sums = cs[r, ends]
                        nz = bst > 0
                        sums = sums - np.where(nz, cs[r, np.maximum(bst - 1, 0)], 0.0)
                        z_per_clip[j] = sums / N
                # ---- true peak: per-row polyphase FIR (float32) ----
                tp_lin = _true_peak_rows(
                    mat[:, : n_max + _TP_TAPS].astype(np.float32), ns[rows]
                )
                tp[idx[rows]] = 20.0 * np.log10(np.maximum(tp_lin, 1e-12))

        # ---- gating + LRA over the collected per-clip block powers ----
        total_b = int(nb.sum())
        if total_b > 0:
            has = np.flatnonzero(nb > 0)
            reps = nb[has]
            blk_of = np.repeat(np.arange(len(has)), reps)
            b0 = np.zeros(len(has), dtype=np.int64)
            np.cumsum(reps[:-1], out=b0[1:])
            z = np.concatenate([z_per_clip[j] for j in has])
            with np.errstate(divide="ignore"):
                l_db = _LUFS_OFFSET + 10.0 * np.log10(
                    np.maximum(z, 1e-30)
                )
            lufs[idx[has]] = _gated_mean_db(
                z, l_db, blk_of, len(has), _REL_GATE_LU
            )

            # ---- LRA: short-term 3 s composited from block powers ----
            w_st = int(round((_ST_S - _BLOCK_S) / _HOP_S)) + 1  # 27
            n_st = np.maximum(reps - (w_st - 1), 0)
            if n_st.sum() > 0:
                # per-clip moving mean of z over w_st consecutive blocks
                cz = np.concatenate([[0.0], np.cumsum(z)])
                st_of = np.repeat(np.arange(len(has)), n_st)
                s0 = np.zeros(len(has), dtype=np.int64)
                np.cumsum(n_st[:-1], out=s0[1:])
                j = np.arange(int(n_st.sum()), dtype=np.int64) - s0[st_of]
                a0 = b0[st_of] + j
                st_z = (cz[a0 + w_st] - cz[a0]) / w_st
                with np.errstate(divide="ignore"):
                    st_l = _LUFS_OFFSET + 10.0 * np.log10(
                        np.maximum(st_z, 1e-30)
                    )
                # abs gate, then relative gate 20 LU below gated mean
                m_abs = st_l > _ABS_GATE_LUFS
                cnt_a = np.bincount(st_of, weights=m_abs, minlength=len(has))
                sum_a = np.bincount(
                    st_of, weights=st_z * m_abs, minlength=len(has)
                )
                with np.errstate(divide="ignore", invalid="ignore"):
                    gamma = (
                        _LUFS_OFFSET
                        + 10.0 * np.log10(sum_a / np.maximum(cnt_a, 1))
                        - _LRA_REL_GATE_LU
                    )
                keep = m_abs & (st_l > gamma[st_of])
                kept_cnt = np.bincount(
                    st_of, weights=keep, minlength=len(has)
                ).astype(np.int64)
                sort_key = np.where(keep, st_l, np.inf)
                order = np.lexsort((sort_key, st_of))
                sorted_l = sort_key[order]
                p95 = _segment_percentile(sorted_l, s0, kept_cnt, 0.95)
                p10 = _segment_percentile(sorted_l, s0, kept_cnt, 0.10)
                lra[idx[has]] = p95 - p10

    return n_blocks, lufs, lra, tp


def _loudness_one(pdf: pd.DataFrame) -> pd.DataFrame:
    n = len(pdf)
    ok = np.zeros(n, dtype=bool)
    n_blocks = np.zeros(n, dtype=np.int64)
    lufs = np.full(n, np.nan)
    lra = np.full(n, np.nan)
    tp = np.full(n, np.nan)
    eff_raw, eff_codec, eff_sr, valid = _resolve_effective(pdf)
    for codec in _RAW_CODECS:
        sel = valid & (eff_codec == codec)
        if not sel.any():
            continue
        pos = np.flatnonzero(sel)
        pcm, lens = _decode_concat([bytes(eff_raw[i]) for i in pos], codec)
        nb, lu, lr, t = _group_loudness(pcm, lens, eff_sr[pos])
        n_blocks[pos] = nb
        lufs[pos], lra[pos], tp[pos] = lu, lr, t
        ok[pos] = True
    return pd.DataFrame(
        {
            "clip_id": pdf["clip_id"].values,
            "decode_ok": ok,
            "n_blocks": n_blocks.astype("int32"),
            "lufs_integrated": lufs,
            "lra_lu": lra,
            "true_peak_dbtp": tp,
        }
    )


def audio_loudness_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body; input columns: clip_id, bytes, codec, sr_hz."""
    for pdf in batches:
        yield _loudness_one(pdf)


def extract_loudness(df):
    """R128 loudness per clip: df(clip_id, bytes, codec, sr_hz) ->
    AUDIO_LOUDNESS_SCHEMA.  One narrow Arrow stage — no shuffle, the
    payload column is consumed where it is scanned."""
    return df.select("clip_id", "bytes", "codec", "sr_hz").mapInPandas(
        audio_loudness_batches, AUDIO_LOUDNESS_SCHEMA
    )


#: output of normalize_loudness: measurement + the gain-applied payload
NORMALIZE_SCHEMA = (
    "clip_id string, decode_ok boolean, lufs_in double, gain_db double, "
    "peak_limited boolean, true_peak_in_dbtp double, "
    "bytes binary, codec string, sr_hz int"
)


def normalize_loudness_batches(
    target_lufs: float = -23.0, ceiling_dbtp: float = -1.0
):
    """mapInPandas body factory for loudness normalization — the op every
    speech-data spec writes down ("normalize to -23 LUFS, never above
    -1 dBTP"): per clip, gain_db = target - integrated LUFS, CAPPED so
    the known true peak plus the gain stays under the ceiling
    (peak_limited=True when the cap engaged; a linear gain shifts dBTP
    exactly, so no second peak pass is needed).  ONE decode per clip:
    the same concatenated-group kernel measures R128 loudness and true
    peak, the gain applies as one vectorized multiply over the
    concatenated PCM (np.repeat of per-clip factors), and the payload
    re-emits as mono pcm_s16le at the clip's effective rate (WAV rows
    come back unwrapped/downmixed — the _resolve_effective policy).

    Clips the R128 gate leaves unmeasured (all below the -70 LUFS
    absolute gate) pass through at unit gain with lufs_in NaN;
    undecodable rows pass their original payload through untouched
    (decode_ok False), the pipeline's quarantine convention."""

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ok = np.zeros(n, dtype=bool)
            lufs_in = np.full(n, np.nan)
            gain_db = np.full(n, np.nan)
            limited = np.zeros(n, dtype=bool)
            tp_in = np.full(n, np.nan)
            out_bytes: list = [None] * n
            out_codec: list = list(
                np.asarray(pdf["codec"].values, dtype=object)
            )
            eff_raw, eff_codec, eff_sr, valid = _resolve_effective(pdf)
            raws = pdf["bytes"].values
            for i in np.flatnonzero(~valid):
                out_bytes[i] = (
                    bytes(raws[i]) if raws[i] is not None else None
                )
            for codec in _RAW_CODECS:
                sel = valid & (eff_codec == codec)
                if not sel.any():
                    continue
                pos = np.flatnonzero(sel)
                pcm, lens = _decode_concat(
                    [bytes(eff_raw[i]) for i in pos], codec
                )
                _nb, lu, _lr, t = _group_loudness(pcm, lens, eff_sr[pos])
                g = target_lufs - lu
                cap = ceiling_dbtp - t
                lim = g > cap
                g = np.where(lim, cap, g)
                g = np.where(np.isnan(g), 0.0, g)  # unmeasured: unit gain
                lim = np.where(np.isnan(lu), False, lim)
                factors = np.power(10.0, g / 20.0)
                scaled = pcm * np.repeat(
                    factors.astype(np.float32), lens
                )
                pcm16 = np.clip(
                    np.rint(scaled * 32768.0), -32768, 32767
                ).astype("<i2")
                offs = np.zeros(len(pos) + 1, dtype=np.int64)
                np.cumsum(lens, out=offs[1:])
                buf = pcm16.tobytes()
                for j, i in enumerate(pos):
                    out_bytes[i] = buf[offs[j] * 2 : offs[j + 1] * 2]
                    out_codec[i] = "pcm_s16le"
                ok[pos] = True
                lufs_in[pos] = lu
                gain_db[pos] = g
                limited[pos] = lim
                tp_in[pos] = t
            yield pd.DataFrame(
                {
                    "clip_id": pdf["clip_id"].values,
                    "decode_ok": ok,
                    "lufs_in": lufs_in,
                    "gain_db": gain_db,
                    "peak_limited": limited,
                    "true_peak_in_dbtp": tp_in,
                    "bytes": out_bytes,
                    "codec": out_codec,
                    "sr_hz": eff_sr.astype("int32"),
                }
            )

    return body


def normalize_loudness(df, target_lufs: float = -23.0, ceiling_dbtp: float = -1.0):
    """Loudness-normalize clips to `target_lufs` with a `ceiling_dbtp`
    true-peak cap: df(clip_id, bytes, codec, sr_hz) -> NORMALIZE_SCHEMA.
    One narrow Arrow stage, no shuffle; payload decoded exactly once."""
    return df.select("clip_id", "bytes", "codec", "sr_hz").mapInPandas(
        normalize_loudness_batches(target_lufs, ceiling_dbtp),
        NORMALIZE_SCHEMA,
    )
