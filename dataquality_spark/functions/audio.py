"""WAV/PCM16 codec + batched audio statistics (pure numpy, no audio libs).

The reference extracts text from document bytes per row
(``backend/app/services/metadata.py:33-80``); our audio analog decodes the
``bytes`` column (WAV container, PCM16) and derives per-clip invariants
(decode_ok, sample count, RMS, clipping ratio, silence) that feed the
Accuracy / Accessibility / Integrity dimensions.  All functions are written
to run over numpy batches inside Arrow/pandas UDFs — zero per-row Python in
the Spark hot path beyond the unavoidable per-row header parse (44 bytes).

Real decode of compressed codecs (mp3/opus/flac) would need external audio
libraries that are not in this container; those paths are stubbed behind
``NotImplementedError`` in :func:`decode_clip` — the Spark-side plumbing
(schema, batching, UDF signature) is identical for them.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np

_RIFF = b"RIFF"
_WAVE = b"WAVE"
_FMT = b"fmt "
_DATA = b"data"

# Clipping threshold: samples at/over this magnitude count as clipped.
CLIP_THRESHOLD = 32700
# RMS (in float [-1,1] units) below which a clip counts as silent.
SILENCE_RMS = 1e-4

# --- G.711 mu-law companding (public ITU-T standard; pure numpy) ----------
# Classic Sun/G.711 segmented encoder: bias 0x84, 8 exponent segments,
# 4-bit mantissa, complemented output byte. Decode error for speech-level
# signals is ~38 dB SNR independent of level (the point of log companding),
# comfortably above the input_hint's 30 dB per-row floor.
MULAW_BIAS = 0x84
MULAW_CLIP = 32635
WAV_FMT_PCM = 1
WAV_FMT_MULAW = 7


def mulaw_compress(pcm: np.ndarray) -> np.ndarray:
    """int16 linear PCM -> uint8 mu-law bytes (vectorized G.711 encode)."""
    x = np.asarray(pcm, dtype=np.int32)
    sign = np.where(x < 0, 0x80, 0).astype(np.int32)
    mag = np.minimum(np.abs(x), MULAW_CLIP) + MULAW_BIAS
    # exponent = MSB position - 7, exactly: frexp gives mag = m * 2^e with
    # m in [0.5, 1), so MSB position = e - 1 (integer-exact, no log2 ties)
    _, e = np.frexp(mag.astype(np.float64))
    exponent = (e - 8).astype(np.int32)
    mantissa = (mag >> (exponent + 3)) & 0x0F
    return (~(sign | (exponent << 4) | mantissa) & 0xFF).astype(np.uint8)


def mulaw_expand(u: np.ndarray) -> np.ndarray:
    """uint8 mu-law bytes -> int16 linear PCM (vectorized G.711 decode)."""
    u = (~np.asarray(u, dtype=np.int32)) & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    mag = (((mantissa << 3) + MULAW_BIAS) << exponent) - MULAW_BIAS
    return np.where(sign != 0, -mag, mag).astype(np.int16)


def encode_wav_pcm16(samples: np.ndarray, sr_hz: int) -> bytes:
    """float[-1,1] or int16 samples -> mono WAV PCM16 little-endian bytes."""
    if samples.dtype != np.int16:
        pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
        pcm = np.round(pcm * 32767.0).astype(np.int16)
    else:
        pcm = samples
    data = pcm.astype("<i2").tobytes()
    n = len(data)
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        _RIFF,
        36 + n,
        _WAVE,
        _FMT,
        16,  # fmt chunk size
        1,  # PCM format code
        1,  # mono
        sr_hz,
        sr_hz * 2,  # byte rate
        2,  # block align
        16,  # bits per sample
        _DATA,
        n,
    )
    return header + data


class DecodedWav(NamedTuple):
    sr_hz: int
    pcm: np.ndarray  # int16


def _parse_wav(raw: bytes) -> tuple[int, int, int, int, bytes]:
    """RIFF chunk walk -> (fmt_code, channels, bits, sr_hz, data bytes).
    Raises ValueError on malformed input."""
    if raw is None or len(raw) < 44:
        raise ValueError("too short for a WAV header")
    if raw[0:4] != _RIFF or raw[8:12] != _WAVE:
        raise ValueError("not a RIFF/WAVE container")
    pos, n = 12, len(raw)
    fmt_code = channels = bits = sr = None
    data: bytes | None = None
    while pos + 8 <= n:
        cid = raw[pos : pos + 4]
        (csz,) = struct.unpack_from("<I", raw, pos + 4)
        body = pos + 8
        if cid == _FMT and body + 16 <= n:
            fmt_code, channels, sr = struct.unpack_from("<HHI", raw, body)
            (bits,) = struct.unpack_from("<H", raw, body + 14)
        elif cid == _DATA:
            if body + csz > n:
                raise ValueError("truncated data chunk")
            data = raw[body : body + csz]
        pos = body + csz + (csz & 1)
    if fmt_code is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return int(fmt_code), int(channels), int(bits), int(sr), data


def decode_wav_pcm16(raw: bytes) -> DecodedWav:
    """Parse a mono PCM16 WAV container. Raises ValueError on malformed input."""
    fmt_code, channels, bits, sr, data = _parse_wav(raw)
    if fmt_code != WAV_FMT_PCM or bits != 16 or channels != 1:
        raise ValueError(f"unsupported wav: fmt={fmt_code} bits={bits} ch={channels}")
    pcm = np.frombuffer(data, dtype="<i2")
    return DecodedWav(int(sr), pcm)


def decode_wav_mulaw(raw: bytes) -> DecodedWav:
    """Parse a mono 8-bit G.711 mu-law WAV (fmt code 7) and expand to
    int16 linear PCM. Raises ValueError on malformed input."""
    fmt_code, channels, bits, sr, data = _parse_wav(raw)
    if fmt_code != WAV_FMT_MULAW or bits != 8 or channels != 1:
        raise ValueError(f"unsupported wav: fmt={fmt_code} bits={bits} ch={channels}")
    return DecodedWav(int(sr), mulaw_expand(np.frombuffer(data, dtype=np.uint8)))


def encode_wav_mulaw(samples: np.ndarray, sr_hz: int) -> bytes:
    """float[-1,1] or int16 samples -> mono 8-bit mu-law WAV (fmt code 7)."""
    if samples.dtype != np.int16:
        pcm = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
        pcm = np.round(pcm * 32767.0).astype(np.int16)
    else:
        pcm = samples
    data = mulaw_compress(pcm).tobytes()
    n = len(data)
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        _RIFF,
        36 + n,
        _WAVE,
        _FMT,
        16,
        WAV_FMT_MULAW,
        1,  # mono
        sr_hz,
        sr_hz,  # byte rate: 1 byte/sample
        1,  # block align
        8,  # bits per sample
        _DATA,
        n,
    )
    return header + data


def decode_clip(raw: bytes, codec: str) -> DecodedWav:
    """Codec-dispatched decode: pcm_s16le and pcm_mulaw WAV are decodable
    in-container (pure numpy); compressed codecs need external libs."""
    if codec == "pcm_s16le":
        return decode_wav_pcm16(raw)
    if codec == "pcm_mulaw":
        return decode_wav_mulaw(raw)
    if codec in ("mp3", "opus", "flac", "aac"):
        # Plumbing is real (same schema/UDF path); decoder libs absent here.
        raise NotImplementedError(f"codec {codec!r} requires an external decoder")
    raise ValueError(f"unknown codec {codec!r}")


class AudioStats(NamedTuple):
    decode_ok: bool
    n_samples: int
    header_sr_hz: int
    rms: float
    clip_ratio: float
    is_silent: bool


def audio_stats(raw: bytes, codec: str) -> AudioStats:
    """Per-clip audio invariants; never raises (decode failure -> decode_ok=False)."""
    try:
        dec = decode_clip(raw, codec)
    except (ValueError, NotImplementedError, struct.error):
        return AudioStats(False, 0, 0, 0.0, 0.0, True)
    x = dec.pcm.astype(np.float64) / 32768.0
    n = x.size
    if n == 0:
        return AudioStats(True, 0, dec.sr_hz, 0.0, 0.0, True)
    rms = float(np.sqrt(np.mean(x * x)))
    clip_ratio = float(np.mean(np.abs(dec.pcm) >= CLIP_THRESHOLD))
    return AudioStats(True, n, dec.sr_hz, rms, clip_ratio, rms < SILENCE_RMS)


def audio_stats_batch(raws, codecs) -> dict[str, np.ndarray]:
    """Batch audio stats for a pandas/Arrow UDF: iterables of bytes+codec ->
    dict of column arrays (decode_ok, n_samples, header_sr_hz, rms,
    clip_ratio, is_silent)."""
    m = len(raws)
    out = {
        "decode_ok": np.zeros(m, dtype=bool),
        "n_samples": np.zeros(m, dtype=np.int64),
        "header_sr_hz": np.zeros(m, dtype=np.int64),  # unsigned 32-bit field
        "rms": np.zeros(m, dtype=np.float64),
        "clip_ratio": np.zeros(m, dtype=np.float64),
        "is_silent": np.ones(m, dtype=bool),
    }
    for i, (raw, codec) in enumerate(zip(raws, codecs)):
        s = audio_stats(raw, codec)
        out["decode_ok"][i] = s.decode_ok
        out["n_samples"][i] = s.n_samples
        out["header_sr_hz"][i] = s.header_sr_hz
        out["rms"][i] = s.rms
        out["clip_ratio"][i] = s.clip_ratio
        out["is_silent"][i] = s.is_silent
    return out


def snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    """SNR of decoded (float, [-1,1]) vs reference float waveform, in dB."""
    ref = np.asarray(reference, dtype=np.float64)
    dec = np.asarray(decoded, dtype=np.float64)
    if ref.shape != dec.shape:
        return float("-inf")
    noise = ref - dec
    p_sig = float(np.sum(ref * ref))
    p_noise = float(np.sum(noise * noise))
    if p_noise == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return 10.0 * np.log10(p_sig / p_noise)
