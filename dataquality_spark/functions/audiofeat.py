"""Payload-level audio features over decoded PCM — pure numpy, no Spark.

The reference scores files from metadata only (/root/reference/backend/app/
services/metadata.py:419-433); an audio-native quality engine needs the
payload-level analogs of the same families — spectral shape for quality,
voice-activity for usable-speech ratio, and content fingerprints for
dedup of the AUDIO itself (not just the transcript).  Everything here is
public-knowledge DSP:

* spectral centroid / rolloff / flatness — standard MIR descriptors;
* energy-gate VAD — the classic frame-RMS threshold segmenter;
* band-energy sign fingerprint — the Haitsma & Kalker (2002) "robust
  audio fingerprint" shape: per-frame filterbank energies, one bit per
  adjacent-band comparison.  Sign-of-difference bits are invariant to
  amplitude scaling (a gain multiplies every band energy by the same
  factor), which is exactly the robustness a dedup pass needs against
  re-encoded / re-normalized copies of the same recording.

Every function is deterministic float64 arithmetic shared VERBATIM between
the Spark executors (mapInPandas batches) and the local DuckDB oracle
mirror (oracle/clips_cache) — the invariants pattern established by
clips_audio_invariants, so the distributed run and the oracle recompute
run literally the same code.
"""

from __future__ import annotations

import numpy as np
import zlib

from .audio import decode_wav_pcm16

# Fingerprint operating point.  17 log-spaced band edges over the speech
# band -> 16 sign bits per frame, one uint16 word per hop.
FP_FRAME = 1024
FP_HOP = 512
FP_N_BANDS = 17
FP_FMIN = 100.0
FP_FMAX = 4000.0
FP_N_CHUNKS = 8          # LSH bands over the frame-word sequence
FP_HAMMING_MAX = 0.15    # verify threshold: fraction of differing bits

# VAD operating point: 20 ms frames on a 10 ms hop, RMS gate at 0.05
# full-scale (planted speech tones sit at RMS ~0.35, seeded noise at ~0.01
# — an order of magnitude of margin on each side).
VAD_FRAME_MS = 20
VAD_HOP_MS = 10
VAD_RMS_THRESH = 0.05
VAD_MIN_SEG_FRAMES = 2


def frame_signal(x: np.ndarray, frame_len: int, hop: int) -> np.ndarray:
    """(n_frames, frame_len) view of x (zero-copy stride trick)."""
    if x.size < frame_len:
        return np.empty((0, frame_len), dtype=x.dtype)
    n_frames = 1 + (x.size - frame_len) // hop
    return np.lib.stride_tricks.as_strided(
        x,
        shape=(n_frames, frame_len),
        strides=(x.strides[0] * hop, x.strides[0]),
        writeable=False,
    )


def resample_linear(x: np.ndarray, sr_in: int, sr_out: int) -> np.ndarray:
    """Linear-interpolation resample (deterministic, library-free)."""
    if x.size == 0 or sr_in == sr_out:
        return x.astype(np.float64)
    n_out = int(x.size * sr_out / sr_in)
    t_out = np.arange(n_out, dtype=np.float64) / sr_out
    t_in = np.arange(x.size, dtype=np.float64) / sr_in
    return np.interp(t_out, t_in, x.astype(np.float64))


def spectral_features(x: np.ndarray, sr: int) -> dict:
    """Whole-signal spectral descriptors.

    dominant_hz is the peak rFFT magnitude bin excluding DC — for the
    clips corpus it must land on the planted tone (110 + 3*(i%200) Hz)
    to within one bin (sr / n_samples), which is the oracle's invariant.
    Silence (zero spectrum) reports dominant_hz = 0 and flatness = 1.
    """
    x = np.asarray(x, dtype=np.float64)
    n = int(x.size)
    if n == 0:
        return dict(n_samples=0, rms_db=-120.0, zcr=0.0, dominant_hz=0.0,
                    centroid_hz=0.0, rolloff85_hz=0.0, flatness=1.0)
    rms = float(np.sqrt(np.mean(x * x)))
    rms_db = 20.0 * np.log10(rms) if rms > 1e-6 else -120.0
    zcr = float(np.mean((x[1:] * x[:-1]) < 0.0)) if n > 1 else 0.0
    mag = np.abs(np.fft.rfft(x))
    power = mag * mag
    freqs = np.fft.rfftfreq(n, d=1.0 / sr)
    total = float(power[1:].sum())  # exclude DC everywhere
    if total <= 0.0:
        return dict(n_samples=n, rms_db=round(rms_db, 3), zcr=round(zcr, 4),
                    dominant_hz=0.0, centroid_hz=0.0, rolloff85_hz=0.0,
                    flatness=1.0)
    dom_bin = 1 + int(np.argmax(mag[1:]))
    dominant_hz = float(freqs[dom_bin])
    centroid_hz = float((freqs[1:] * power[1:]).sum() / total)
    cum = np.cumsum(power[1:])
    roll_idx = int(np.searchsorted(cum, 0.85 * total))
    rolloff85_hz = float(freqs[1 + min(roll_idx, power.size - 2)])
    p = power[1:] + 1e-20
    flatness = float(np.exp(np.mean(np.log(p))) / np.mean(p))
    return dict(
        n_samples=n,
        rms_db=round(rms_db, 3),
        zcr=round(zcr, 4),
        dominant_hz=round(dominant_hz, 3),
        centroid_hz=round(centroid_hz, 2),
        rolloff85_hz=round(rolloff85_hz, 2),
        flatness=round(flatness, 5),
    )


def active_runs(active: np.ndarray, min_seg_frames: int) -> list:
    """Run-length encode a boolean frame mask -> [(start, end)] frame
    spans of active runs at least min_seg_frames long."""
    n = int(active.size)
    if n == 0:
        return []
    edges = np.flatnonzero(np.diff(active.astype(np.int8)))
    starts = np.concatenate(([0], edges + 1))
    ends = np.concatenate((edges + 1, [n]))
    return [
        (int(s), int(e))
        for s, e in zip(starts, ends)
        if active[s] and (e - s) >= min_seg_frames
    ]


def speech_segments(
    x: np.ndarray,
    sr: int,
    frame_ms: int = VAD_FRAME_MS,
    hop_ms: int = VAD_HOP_MS,
    rms_thresh: float = VAD_RMS_THRESH,
    min_seg_frames: int = VAD_MIN_SEG_FRAMES,
) -> list:
    """One tuple per speech segment: (start_ms, end_ms, seg_rms) — the
    chunk-extraction primitive that turns a long clip into training-sized
    windows.  end_ms covers the last active frame's full span."""
    x = np.asarray(x, dtype=np.float64)
    frame_len = max(1, int(sr * frame_ms / 1000))
    hop = max(1, int(sr * hop_ms / 1000))
    frames = frame_signal(x, frame_len, hop)
    if frames.shape[0] == 0:
        return []
    rms = np.sqrt(np.mean(frames * frames, axis=1))
    out = []
    for s, e in active_runs(rms > rms_thresh, min_seg_frames):
        start_ms = float(s * hop_ms)
        end_ms = float((e - 1) * hop_ms + frame_ms)
        seg = x[s * hop:min((e - 1) * hop + frame_len, x.size)]
        seg_rms = float(np.sqrt(np.mean(seg * seg))) if seg.size else 0.0
        out.append((start_ms, end_ms, round(20.0 * np.log10(max(seg_rms, 1e-6)), 3)))
    return out


def vad_stats(
    x: np.ndarray,
    sr: int,
    frame_ms: int = VAD_FRAME_MS,
    hop_ms: int = VAD_HOP_MS,
    rms_thresh: float = VAD_RMS_THRESH,
    min_seg_frames: int = VAD_MIN_SEG_FRAMES,
) -> dict:
    """Energy-gate VAD: frame RMS above a full-scale threshold is speech.

    Returns the per-clip summary a quality filter consumes: fraction of
    speech frames, number of speech segments (runs of >= min_seg_frames
    active frames), and the longest segment's duration in ms.
    """
    x = np.asarray(x, dtype=np.float64)
    frame_len = max(1, int(sr * frame_ms / 1000))
    hop = max(1, int(sr * hop_ms / 1000))
    frames = frame_signal(x, frame_len, hop)
    n_frames = int(frames.shape[0])
    if n_frames == 0:
        return dict(n_frames=0, speech_ratio=0.0, n_segments=0,
                    longest_speech_ms=0.0)
    rms = np.sqrt(np.mean(frames * frames, axis=1))
    active = rms > rms_thresh
    runs = active_runs(active, min_seg_frames)
    segs = [e - s for s, e in runs]
    longest = max(segs) if segs else 0
    longest_ms = float((longest - 1) * hop_ms + frame_ms) if longest else 0.0
    return dict(
        n_frames=n_frames,
        speech_ratio=round(float(np.mean(active)), 4),
        n_segments=len(segs),
        longest_speech_ms=longest_ms,
    )


def band_fingerprint(
    x: np.ndarray,
    sr: int,
    frame_len: int = FP_FRAME,
    hop: int = FP_HOP,
    n_bands: int = FP_N_BANDS,
    fmin: float = FP_FMIN,
    fmax: float = FP_FMAX,
) -> np.ndarray:
    """Haitsma-Kalker band-energy sign fingerprint: uint16 word per frame.

    Per frame: Hann window -> rFFT power -> n_bands log-spaced band
    energies -> bit b = (E[b] > E[b+1]).  Amplitude-invariant by
    construction (a gain scales every E[b] identically).
    """
    x = np.asarray(x, dtype=np.float64)
    frames = frame_signal(x, frame_len, hop)
    if frames.shape[0] == 0:
        return np.empty(0, dtype=np.uint16)
    win = np.hanning(frame_len)
    power = np.abs(np.fft.rfft(frames * win, axis=1)) ** 2
    freqs = np.fft.rfftfreq(frame_len, d=1.0 / sr)
    edges = np.geomspace(fmin, min(fmax, sr / 2.0), n_bands)
    bins = np.searchsorted(freqs, edges)
    energies = np.stack(
        [power[:, bins[b]:max(bins[b] + 1, bins[b + 1])].sum(axis=1)
         for b in range(n_bands - 1)],
        axis=1,
    )  # (n_frames, n_bands-1)
    bits = (energies[:, :-1] > energies[:, 1:]).astype(np.uint16)
    weights = (1 << np.arange(bits.shape[1], dtype=np.uint16)).astype(np.uint16)
    return (bits * weights).sum(axis=1).astype(np.uint16)


def voiced_fingerprint(raw: bytes):
    """Decode -> silence gate -> band_fingerprint for one WAV payload.

    Returns (DecodedWav, uint16 words), or None when the payload does not
    decode or its RMS is at or below VAD_RMS_THRESH: silent clips would
    all share the all-zero fingerprint and form one quadratic collision
    bucket."""
    try:
        dec = decode_wav_pcm16(bytes(raw))
    except ValueError:
        return None
    x = dec.pcm.astype(np.float64) / 32767.0
    if not x.size or float(np.sqrt(np.mean(x * x))) <= VAD_RMS_THRESH:
        return None
    return dec, band_fingerprint(x, dec.sr_hz)


def fingerprint_chunks(words: np.ndarray, n_chunks: int = FP_N_CHUNKS) -> list:
    """LSH band keys: crc32 of each of n_chunks contiguous word runs.

    Two fingerprints of equal length that differ in only a few scattered
    bits share most chunk hashes — the banded equi-join recovers them
    without any all-pairs comparison (the text-dedup LSH shape applied
    to audio)."""
    n = int(words.size)
    if n == 0:
        return []
    bounds = np.linspace(0, n, min(n_chunks, n) + 1).astype(np.int64)
    return [
        int(zlib.crc32(np.ascontiguousarray(words[s:e]).tobytes()))
        for s, e in zip(bounds[:-1], bounds[1:])
        if e > s
    ]


def hamming_frac(a: np.ndarray, b: np.ndarray, n_bits: int = FP_N_BANDS - 1) -> float:
    """Fraction of differing fingerprint bits (equal-length word arrays)."""
    if a.size == 0 or a.size != b.size:
        return 1.0
    x = np.bitwise_xor(a.astype(np.uint16), b.astype(np.uint16))
    # popcount via 8-bit LUT on the two bytes of each word
    lut = np.array([bin(v).count("1") for v in range(256)], dtype=np.uint16)
    diff = lut[x & 0xFF] + lut[(x >> 8) & 0xFF]
    return float(diff.sum()) / float(n_bits * a.size)


def trim_zero_frames(pcm: np.ndarray, frame: int = FP_HOP) -> tuple:
    """Frame-quantized digital-silence trim: remove the longest leading /
    trailing runs of EXACTLY-zero samples, rounded DOWN to whole frames.

    The frame quantization is what makes the operator deterministic on
    noisy content: a true content edge can open with a handful of
    samples that quantize to zero (a sine zero-crossing), but never a
    whole frame of them — so rounding the zero-run down to frame
    multiples trims precisely the digital-silence padding and no
    content.  Returns (trimmed, lead_frames, trail_frames)."""
    x = np.asarray(pcm)
    nz = np.flatnonzero(x != 0)
    if nz.size == 0:
        lead = (x.size // frame) * frame
        return x[lead:], lead // frame, 0
    lead = (int(nz[0]) // frame) * frame
    trail = (int(x.size - 1 - nz[-1]) // frame) * frame
    end = x.size - trail
    return x[lead:end], lead // frame, trail // frame
