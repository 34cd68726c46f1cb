"""Materialized pure-Python inputs for the clips/media DuckDB oracles.

The clips catalog queries run over DETERMINISTIC generated data, so their
DuckDB oracles can be real: this module generates the same clips locally
(pure pandas/numpy — no Spark) and writes the *intermediate* frames to
parquet files whose paths are baked into the oracle SQL strings:

* ``enriched_{VERSION}_n{N}.parquet`` — the per-row enrichment signals
  (model outputs, token lists, hashed-BoW vectors, content hashes).  The
  oracle then re-derives EVERYTHING downstream in SQL: exact-group
  windows, exhaustive near-dup pairs (token-set Jaccard gate + BoW cosine
  — an all-pairs recompute the distributed LSH funnel must match exactly,
  which also verifies the funnel's recall), the 17-dimension policy CASE
  tree, overall/action/keep.  Spark's distributed ``enrich`` is checked
  against this pure-Python enrichment bit-for-bit, and Spark's
  dedup+policy against the SQL recompute.
* one file per :class:`PerClip` check (SNR, spectral tone, VAD,
  fingerprint pairs, transcode, chunks, loudness, alignment, mixed-codec
  decode) — the check's row function run over its generated clips.  The
  Spark query ships the SAME row function to its executors
  (``queries._per_clip``), and the oracle re-derives the planted
  expectations (decode failures, tone matches, segment counts, clipping
  verdicts) from clip-index arithmetic.
* ``media_{VERSION}_…parquet`` — the multimodal extractor's outputs
  recomputed locally over identically-constructed media bytes, and
  ``doc_models_{VERSION}_sf001.parquet`` — the real scorer models over the
  driver's documents table.

Files live in ``$DQ_ORACLE_CACHE`` (default ``/tmp/dq_oracle_cache``) and
are keyed by ``VERSION``, not by content: bump ``VERSION`` whenever a row
function or the enrichment semantics change, or a stale file is read back.
They are written atomically (tmp + rename), so the Spark query fn and
``oracle_sql()`` can both "ensure" them in any order.
"""

from __future__ import annotations

import os
import zlib
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd

from ..datagen.clips import (
    DEFAULT_RUN_TS,
    clips_pdf,
    mixed_codec_row_for,
    reference_waveform,
    row_for,
)
from ..functions import audiofeat as af
from ..functions.audio import decode_clip, decode_wav_pcm16, encode_wav_pcm16

VERSION = "v2"
CACHE_DIR = os.environ.get("DQ_ORACLE_CACHE", "/tmp/dq_oracle_cache")

N_LABELS = 4000      # clips_quality_labels corpus size
N_PAIRS = 2000       # clips_duplicate_pairs corpus size
N_MEDIA_CLIPS = 300  # media_feature_extract: audio rows
N_MEDIA_BLOBS = 200  # media_feature_extract: image/video rows
NORM_PEAK = 0.70794578438413791  # -3 dBFS = 10^(-3/20) target peak


def cache_path(stem: str, n: int) -> str:
    return os.path.join(CACHE_DIR, f"{stem}_{VERSION}_n{n}.parquet")


def enriched_path(n: int) -> str:
    return cache_path("enriched", n)


def media_path() -> str:
    return os.path.join(
        CACHE_DIR, f"media_{VERSION}_{N_MEDIA_CLIPS}_{N_MEDIA_BLOBS}.parquet"
    )


def _atomic_write(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    os.replace(tmp, path)


class PerClip(NamedTuple):
    """One per-clip check, declared once for both engines: ``rows`` maps
    one generated clip's ``inputs`` columns to its output rows, and runs
    verbatim on the Spark executors and in the local oracle mirror."""

    stem: str | None  # cache-file stem; None when it writes no cache
    n: int            # clips generated, indexes 0..n-1
    rows: Callable[..., list]
    ddl: str          # Spark output schema; its names are the frame columns
    inputs: tuple[str, ...] = ("clip_id", "bytes")
    clip: Callable[[int], dict] = row_for  # clip index -> generated row

    @property
    def columns(self) -> list[str]:
        return [col.split()[0] for col in self.ddl.split(",")]

    @property
    def path(self) -> str:
        return cache_path(self.stem, self.n)


def frame(spec: PerClip) -> pd.DataFrame:
    """The check's rows over its clips, computed locally."""
    rows = []
    for i in range(spec.n):
        r = spec.clip(i)
        rows.extend(spec.rows(*(r[c] for c in spec.inputs)))
    return pd.DataFrame(rows, columns=spec.columns)


def ensure(spec: PerClip) -> str:
    """Write the check's oracle input unless it is cached; returns its path."""
    path = spec.path
    if not os.path.exists(path):
        _atomic_write(frame(spec), path)
    return path


# ----------------------------------------------------------------- enriched

def ensure_enriched(n: int) -> str:
    """Generate + enrich n clips locally; write the signals parquet."""
    path = enriched_path(n)
    if os.path.exists(path):
        return path
    from ..functions.langid import get_model as get_langid
    from ..functions.minhash import unpack_bow
    from ..functions.perplexity import get_model as get_charlm
    from ..operators.enrich import enrich_batch

    pdf = clips_pdf(n)
    enr = enrich_batch(pdf, get_langid(), get_charlm())
    run_date = DEFAULT_RUN_TS.date()
    enr["age_days"] = np.asarray(
        [(run_date - ts.date()).days for ts in pdf["ingest_ts"]],
        dtype=np.int32,
    )
    # unpack the packed float32 blob so DuckDB sees a FLOAT[] list column
    enr["bow_vec"] = [unpack_bow(b).tolist() for b in enr["bow"]]
    # the Spark enriched schema deliberately drops the raw token strings
    # (operators/enrich.py — only tok_hashes ride the shuffle); the DuckDB
    # exhaustive-recompute oracle still wants them, so re-tokenize here on
    # the oracle side only (n is small and the parquet is cached).
    from ..functions.texthash import tokenize

    enr["tokens"] = [tokenize(t or "") for t in pdf["transcript"].tolist()]
    _atomic_write(enr[[
        "clip_id", "sr_hz", "dur_ms", "codec", "decode_ok", "n_samples",
        "header_sr_hz", "clip_ratio", "is_silent", "lang", "lang_conf", "ppl",
        "pii_hits", "toxic_hits", "n_chars", "n_tokens", "n_distinct",
        "alpha_space_ratio", "t_hash", "tokens", "bow_vec", "age_days",
    ]], path)
    return path


# --------------------------------------------------------------- invariants

def _snr(idx: int, dec) -> tuple[float, int]:
    """(snr_db, snr_pass) of a decoded clip against the analytic reference
    waveform recomputed from its index (input_hint: >= 30 dB; silent
    references pass by the zero-power rule)."""
    sig = dec.pcm.astype(np.float64) / 32767.0  # invert encode scale
    ref = reference_waveform(idx, int(len(sig) * 1000 / dec.sr_hz))
    m = min(len(ref), len(sig))
    noise = ref[:m] - sig[:m]
    p_sig = float(np.mean(ref[:m] ** 2))
    p_noise = float(np.mean(noise**2)) or 1e-12
    snr = 10.0 * np.log10(p_sig / p_noise) if p_sig > 0 else 99.0
    return round(float(snr), 2), int(snr >= 30.0 or p_sig == 0)


def snr_row(clip_id: str, raw: bytes) -> tuple[int, float, int]:
    """(decode_ok, snr_db, snr_pass) for one clip — decode the WAV bytes,
    recompute the analytic reference waveform from the clip index, SNR in
    dB (input_hint: >= 30 dB per decodable row).  Shared by the Spark
    ``clips_audio_invariants`` executors and the local oracle mirror, so
    the two sides run literally the same arithmetic."""
    idx = int(clip_id.split("_")[1])
    try:
        dec = decode_wav_pcm16(bytes(raw))
    except ValueError:
        return 0, 0.0, 0
    return (1, *_snr(idx, dec))


# -------------------------------------------------------------------- media

def blob_bytes(idx: int) -> bytes:
    """Mirror of the Spark-SQL blob constructor in media_feature_extract:
    cast(concat_ws('', transform(sequence(1,64), i -> char(65 + pmod(id*i,
    26)))) as binary)."""
    return bytes(65 + (idx * i) % 26 for i in range(1, 65))


def ensure_media() -> str:
    path = media_path()
    if os.path.exists(path):
        return path
    from ..functions.multimodal import FEATURE_DIM, _fake_decode, _fake_feature

    rows = []
    for i in range(N_MEDIA_CLIPS):
        r = row_for(i)
        try:
            dec = decode_wav_pcm16(r["bytes"])
            rows.append((r["clip_id"], 0, 0, int(dec.pcm.size),
                         zlib.crc32(r["bytes"]),
                         float(_fake_feature(r["bytes"])[0]), FEATURE_DIM))
        except ValueError:
            rows.append((r["clip_id"], 0, 0, 0, 0, None, 0))
    for i in range(N_MEDIA_BLOBS):
        raw = blob_bytes(i)
        w, hgt, nf = _fake_decode(raw)
        nf = 1 if i % 2 == 0 else nf  # image rows are single-frame
        rows.append((f"img_{i:09d}", w, hgt, nf, zlib.crc32(raw),
                     float(_fake_feature(raw)[0]), FEATURE_DIM))
    pdf = pd.DataFrame(
        rows,
        columns=["media_id", "width", "height", "n_frames", "content_hash",
                 "f0_raw", "feature_dim"],
    )
    _atomic_write(pdf, path)
    return path


# ---------------------------------------------------------- audio features

def spectral_row(clip_id: str, raw: bytes) -> tuple:
    """Per-clip spectral descriptors + the planted-tone invariant.

    tone_match asserts the measured dominant rFFT bin equals the planted
    tone (110 + 3*(i%200) Hz, datagen/clips.py:reference_waveform) to
    within one bin at BOTH the native 16 kHz and after a linear resample
    to 8 kHz — i.e. the whole decode -> FFT -> resample path is verified
    against index arithmetic, not against itself.  Decode failures emit
    zeros (the invariants-row convention).  Shared verbatim by the Spark
    executors and the local oracle mirror."""
    idx = int(clip_id.split("_")[1])
    try:
        dec = decode_wav_pcm16(bytes(raw))
    except ValueError:
        return (clip_id, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0)
    x = dec.pcm.astype(np.float64) / 32767.0
    sf = af.spectral_features(x, dec.sr_hz)
    x8 = af.resample_linear(x, dec.sr_hz, 8000)
    s8 = af.spectral_features(x8, 8000)
    planted = 110.0 + 3.0 * (idx % 200)
    bin16 = dec.sr_hz / max(sf["n_samples"], 1)
    bin8 = 8000.0 / max(s8["n_samples"], 1)
    tone_match = int(
        abs(sf["dominant_hz"] - planted) <= bin16
        and abs(s8["dominant_hz"] - planted) <= bin8
    )
    return (
        clip_id, 1, sf["n_samples"], sf["rms_db"], sf["zcr"],
        sf["dominant_hz"], sf["centroid_hz"], sf["rolloff85_hz"],
        sf["flatness"], s8["dominant_hz"], tone_match,
    )


def _gapped_pcm(clip_id: str, raw: bytes):
    """(float PCM, sr_hz) of a clip with the planted silence gap — samples
    [0.4n, 0.6n) zeroed when index i % 3 == 0 — or None when the bytes do
    not decode.  The gap makes VAD segment counts index-derivable."""
    idx = int(clip_id.split("_")[1])
    try:
        dec = decode_wav_pcm16(bytes(raw))
    except ValueError:
        return None
    x = dec.pcm.astype(np.float64) / 32767.0
    if idx % 3 == 0:
        x[int(0.4 * x.size):int(0.6 * x.size)] = 0.0
    return x, dec.sr_hz


def vad_row(clip_id: str, raw: bytes) -> tuple:
    """Energy-VAD summary with a planted silence gap: clips with index
    i % 3 == 0 get samples [0.4n, 0.6n) zeroed after decode, so the
    expected segment count is index-derivable (0 silent / 2 gapped / 1
    otherwise) — the oracle checks the segmenter against arithmetic, not
    against itself.  Shared verbatim by executors and the oracle mirror."""
    got = _gapped_pcm(clip_id, raw)
    if got is None:
        return (clip_id, 0, 0, 0.0, 0, 0.0)
    v = af.vad_stats(*got)
    return (
        clip_id, 1, v["n_frames"], v["speech_ratio"], v["n_segments"],
        v["longest_speech_ms"],
    )


def scaled_pcm16(pcm) -> "np.ndarray":
    """The deterministic near-dup audio copy: 0.7x gain, requantized to
    PCM16.  Band-energy sign bits are amplitude-invariant, so the copy's
    fingerprint differs from the original's only by rare quantization-
    noise bit flips (measured max hamming 0.004 vs the 0.15 verify
    threshold).  Shared by the Spark corpus builder and the oracle."""
    import numpy as np

    return np.clip(
        np.round(pcm.astype(np.float64) * 0.7), -32768, 32767
    ).astype(np.int16)


def shifted_scaled_pcm16(pcm, s_words: int) -> "np.ndarray":
    """The time-shifted near-dup copy: `s_words` fingerprint hops of
    digital-silence leader prepended, then the 0.7x requantization.  The
    shift is a whole number of FP_HOP frames, so every content frame of
    the copy is sample-identical (pre-gain) to a frame of the original —
    the copy's fingerprint is the original's shifted by exactly s_words
    positions, modulo the same rare quantization bit flips as
    scaled_pcm16.  Shared by the Spark fan-out and the numpy oracle."""
    import numpy as np

    from ..functions import audiofeat as af

    pad = np.zeros(s_words * af.FP_HOP, dtype=np.int16)
    return scaled_pcm16(np.concatenate([pad, np.asarray(pcm, dtype=np.int16)]))


def fp_pair_row(clip_id: str, raw: bytes) -> tuple:
    """(clip_1, clip_2, hamming, eligible) for one clip index: the
    original vs its scaled requantized copy.  hamming is the exact
    fraction of differing fingerprint bits — integer popcount over the
    xor'd words divided by 16*n_words, bit-identical to the Spark-side
    native `aggregate(zip_with(...bit_count(x ^ y)...))` expression."""
    suffix = clip_id.split("_")[1]
    got = af.voiced_fingerprint(raw)
    if got is None:
        return (clip_id, f"dupc_{suffix}", 0.0, 0)
    dec, fa = got
    xs = scaled_pcm16(dec.pcm).astype(np.float64) / 32767.0
    fb = af.band_fingerprint(xs, dec.sr_hz)
    return (clip_id, f"dupc_{suffix}", af.hamming_frac(fa, fb), 1)


def scaled_copy_rows(clip_id: str, raw: bytes) -> list:
    """(clip_id, bytes) for a clip and for its 'dupc_' copy — decoded,
    scaled_pcm16, re-encoded: the corpus clips_fingerprint_dups runs its
    funnel over.  An undecodable clip keeps its row but gets no copy."""
    rows = [(clip_id, bytes(raw))]
    try:
        dec = decode_wav_pcm16(bytes(raw))
    except ValueError:
        return rows
    copy = encode_wav_pcm16(scaled_pcm16(dec.pcm), dec.sr_hz)
    return rows + [(f"dupc_{clip_id.split('_')[1]}", copy)]


def offset_fp_rows(clip_id: str, raw: bytes) -> list:
    """(fp_id, n_words, words) for a voiced clip and for its 'shft_' copy
    (4 + i%5 fingerprint hops of leader silence, then the 0.7x
    requantization — shifted_scaled_pcm16): the corpus the offset
    matcher of clips_offset_align_dups runs over.  Silent and undecodable
    clips emit no rows."""
    got = af.voiced_fingerprint(raw)
    if got is None:
        return []
    dec, w = got
    suffix = clip_id.split("_")[1]
    shifted = shifted_scaled_pcm16(dec.pcm, 4 + int(suffix) % 5)
    w2 = af.band_fingerprint(shifted.astype(np.float64) / 32767.0, dec.sr_hz)
    return [
        (fid, int(words.size), [int(v) for v in words])
        for fid, words in ((clip_id, w), (f"shft_{suffix}", w2))
    ]


def trim_row(clip_id: str, raw: bytes) -> list:
    """(clip_id, lead_frames, trail_frames, restored) for a padded variant
    of the clip — 4 + i%5 leading and 2 + i%3 trailing fingerprint hops of
    digital silence — after the frame-quantized exact-zero trim;
    `restored` is crc32 equality between the trimmed variant and the
    identically-trimmed original.  Undecodable clips emit no row."""
    try:
        dec = decode_wav_pcm16(bytes(raw))
    except ValueError:
        return []
    i = int(clip_id.split("_")[1])
    s, t = 4 + i % 5, 2 + i % 3
    padded = np.concatenate([
        np.zeros(s * af.FP_HOP, dtype=np.int16),
        dec.pcm,
        np.zeros(t * af.FP_HOP, dtype=np.int16),
    ])
    trm, lead, trail = af.trim_zero_frames(padded)
    base, _, _ = af.trim_zero_frames(dec.pcm)
    restored = int(zlib.crc32(trm.tobytes()) == zlib.crc32(base.tobytes()))
    return [(clip_id, lead, trail, restored)]


def transcode_row(clip_id: str, raw: bytes) -> tuple:
    """The write-path audio transform: decode -> linear resample to 8 kHz
    -> peak-normalize to -3 dBFS -> requantize -> re-encode WAV.  Emits
    the transformed payload's crc32 (a bit-exact check of the WHOLE
    decode/resample/normalize/encode chain), the gain applied, and the
    achieved peak.  Silent clips get unity gain.  Shared verbatim by the
    Spark executors and the oracle mirror."""
    try:
        dec = decode_wav_pcm16(bytes(raw))
    except ValueError:
        return (clip_id, 0, 0, 0, 0.0, 0.0, 0)
    x = dec.pcm.astype(np.float64) / 32767.0
    y = af.resample_linear(x, dec.sr_hz, 8000)
    peak = float(np.max(np.abs(y))) if y.size else 0.0
    gain = NORM_PEAK / peak if peak > 0 else 1.0
    y = np.clip(y * gain, -1.0, 1.0)
    out = encode_wav_pcm16(y, 8000)
    pcm_out = np.frombuffer(out[44:], dtype="<i2")
    out_peak = float(np.max(np.abs(pcm_out)) / 32767.0) if pcm_out.size else 0.0
    return (
        clip_id, 1, 8000, int(y.size),
        round(20.0 * float(np.log10(gain)), 3) if gain > 0 else 0.0,
        round(out_peak, 4),
        zlib.crc32(out),
    )


def chunk_rows(clip_id: str, raw: bytes) -> list:
    """Chunk extraction: one row per VAD speech segment (the gapped-clip
    convention from vad_row applies, so segment counts stay index-
    derivable: 0 silent / 2 gapped / 1 plain; decode failures emit no
    rows).  Shared verbatim by executors and the oracle mirror."""
    got = _gapped_pcm(clip_id, raw)
    if got is None:
        return []
    return [
        (clip_id, j, s, e, r)
        for j, (s, e, r) in enumerate(af.speech_segments(*got))
    ]


def _pcm_loudness(pcm_int: "np.ndarray") -> tuple:
    """(peak, rms_db, crest_db, clip_ratio, is_clipped) from int16 PCM.

    clip_ratio counts saturated codes (|code| >= 32767 — the negative rail
    saturates at -32768, which abs() still catches); is_clipped uses the
    1% ratio the policy's Accuracy dimension gates on (operators/
    scoring.py, metadata.py:419-433)."""
    x = pcm_int.astype(np.float64) / 32767.0
    if x.size == 0:
        return (0.0, -120.0, 0.0, 0.0, 0)
    peak = float(np.max(np.abs(x)))
    rms = float(np.sqrt(np.mean(x * x)))
    clip_ratio = float(np.mean(np.abs(pcm_int.astype(np.int32)) >= 32767))
    rms_db = 20.0 * np.log10(rms) if rms > 1e-6 else -120.0
    crest_db = 20.0 * np.log10(peak / rms) if rms > 1e-6 and peak > 0 else 0.0
    return (
        round(peak, 4), round(rms_db, 3), round(crest_db, 3),
        round(clip_ratio, 5), int(clip_ratio > 0.01),
    )


def loudness_rows(clip_id: str, raw: bytes) -> list:
    """Two rows per clip — the original and a 4x-gain requantized 'hot4'
    variant — so the clipping detector sees both sides of the 1% gate on
    every index: the hot copy of any voiced clip MUST clip (tone amplitude
    0.5 -> 2.0 saturates ~2/3 of samples), the original must NOT except
    the planted k=26 clipped case, silence never clips, and decode
    failures emit zeroed rows.  All expectations are index-derivable,
    which is what the DuckDB oracle re-derives.  Shared verbatim by the
    Spark executors and the local oracle mirror."""
    try:
        dec = decode_wav_pcm16(bytes(raw))
    except ValueError:
        zero = (0.0, -120.0, 0.0, 0.0, 0)
        return [
            (clip_id, "orig", 0) + zero,
            (clip_id, "hot4", 0) + zero,
        ]
    hot = np.clip(
        np.round(dec.pcm.astype(np.float64) * 4.0), -32768, 32767
    ).astype(np.int16)
    return [
        (clip_id, "orig", 1) + _pcm_loudness(dec.pcm),
        (clip_id, "hot4", 1) + _pcm_loudness(hot),
    ]


DOC_SF_DIR = "/root/testdata/sf0.01"  # the driver's correctness scale


def doc_models_path() -> str:
    return os.path.join(CACHE_DIR, f"doc_models_{VERSION}_sf001.parquet")


def ensure_doc_models() -> str:
    """Run the REAL scorer models (hashed-char-trigram langid NB +
    interpolated-backoff char-LM perplexity) locally over the driver's
    sf0.01 documents table and persist their outputs — the oracle input
    for doc_model_scores, which runs the same broadcast models
    distributed. Unlike doc_langid_vote / doc_char_bigram_ppl (their
    SQL-expressible stand-ins), this checks the actual model path."""
    path = doc_models_path()
    if os.path.exists(path):
        return path
    import pyarrow.parquet as pq

    from ..functions.langid import get_model as get_langid
    from ..functions.perplexity import get_model as get_charlm

    docs = pq.read_table(
        os.path.join(DOC_SF_DIR, "documents.parquet"),
        columns=["doc_id", "text"],
    ).to_pandas()
    texts = docs["text"].tolist()
    langs, confs = get_langid().predict_batch(texts)
    ppl = get_charlm().perplexity_batch(texts)
    out = pd.DataFrame(
        {
            "doc_id": docs["doc_id"].values,
            "lang_pred": langs,
            "lang_conf": confs,
            "ppl": ppl,
        }
    )
    _atomic_write(out, path)
    return path


def align_rows(clip_id: str, raw: bytes, transcript: str) -> list:
    """Proportional word-to-segment alignment (the forced-alignment stub
    an ASR data-prep pipeline runs before per-segment training pairs):
    whitespace words are split across the clip's VAD speech segments in
    proportion to segment duration, boundaries by integer floor over
    cumulative speech milliseconds — w_end_i = floor(W * cum_i / D).
    By construction the ranges partition [0, W): seg 0 starts at 0,
    the last segment ends at W, ranges are contiguous and monotone —
    invariants the DuckDB oracle RE-DERIVES in SQL rather than trusts.
    Gapped/silent/undecodable conventions follow chunk_rows."""
    got = _gapped_pcm(clip_id, raw)
    if got is None:
        return []
    segs = af.speech_segments(*got)
    if not segs:
        return []
    words = [w for w in (transcript or "").split() if w]
    n_w = len(words)
    # VAD emits hop-aligned times (exact multiples of 10 ms) as floats;
    # integer ms keep the boundary arithmetic exact
    seg_ms = [(int(s), int(e)) for s, e, _r in segs]
    total = sum(e - s for s, e in seg_ms)
    rows, cum, prev_end = [], 0, 0
    for j, (s, e) in enumerate(seg_ms):
        cum += e - s
        w_end = (n_w * cum) // total if total > 0 else 0
        rows.append((clip_id, j, s, e, prev_end, w_end))
        prev_end = w_end
    return rows


def mixed_codec_row(clip_id: str, raw: bytes, codec: str) -> tuple:
    """(clip_id, codec, decode_ok, n_samples, snr_db, snr_pass) for one
    mixed-codec clip: codec-dispatched decode (PCM16 or G.711 mu-law —
    functions/audio.decode_clip), SNR vs the analytic reference waveform
    recomputed from the clip index.  Exercises the codec dispatch seam
    with a REAL second codec path (mu-law expands in pure numpy); 'mp3'
    rows still hit the honest NotImplementedError gate and are
    error-routed.  Mu-law companding error is ~35-38 dB SNR — above the
    input_hint's 30 dB floor, which snr_pass asserts per row.  Shared
    verbatim by the Spark executors and the local oracle mirror."""
    idx = int(clip_id.split("_")[1])
    try:
        dec = decode_clip(bytes(raw), codec)
    except (ValueError, NotImplementedError):
        return (clip_id, codec, 0, 0, 0.0, 0)
    return (clip_id, codec, 1, int(dec.pcm.size), *_snr(idx, dec))


# ------------------------------------------------------- the per-clip checks

INVARIANTS = PerClip(
    "invariants", 1000, lambda cid, raw: [(cid, *snr_row(cid, raw))],
    "clip_id string, decode_ok int, snr_db double, snr_pass int",
)
SPECTRAL = PerClip(
    "spectral", 800, lambda cid, raw: [spectral_row(cid, raw)],
    "clip_id string, decode_ok int, n_samples int, rms_db double, "
    "zcr double, dominant_hz double, centroid_hz double, "
    "rolloff85_hz double, flatness double, dominant_hz_8k double, "
    "tone_match int",
)
VAD = PerClip(
    "vad", 900, lambda cid, raw: [vad_row(cid, raw)],
    "clip_id string, decode_ok int, n_frames int, "
    "speech_ratio double, n_segments int, longest_speech_ms double",
)
# The cache only: the Spark side of clips_fingerprint_dups is the
# fingerprint funnel over every clip plus its scaled copy.
FP_PAIRS = PerClip(
    "fp_pairs", 500, lambda cid, raw: [fp_pair_row(cid, raw)],
    "clip_1 string, clip_2 string, hamming double, eligible int",
)
TRANSCODE = PerClip(
    "transcode", 700, lambda cid, raw: [transcode_row(cid, raw)],
    "clip_id string, decode_ok int, out_sr int, out_n_samples int, "
    "gain_db double, out_peak double, out_crc32 bigint",
)
CHUNKS = PerClip(
    "chunks", 600, chunk_rows,
    "clip_id string, seg_idx bigint, start_ms double, "
    "end_ms double, seg_rms_db double",
)
LOUDNESS = PerClip(  # 2 rows per clip: the original and its hot4 variant
    "loudness", 800, loudness_rows,
    "clip_id string, variant string, decode_ok int, peak double, "
    "rms_db double, crest_db double, clip_ratio double, is_clipped int",
)
ALIGN = PerClip(
    "align", 500, align_rows,
    "clip_id string, seg_idx int, start_ms int, end_ms int, "
    "w_start int, w_end int",
    inputs=("clip_id", "bytes", "transcript"),
)
MIXED = PerClip(
    "mixed", 600, lambda cid, raw, codec: [mixed_codec_row(cid, raw, codec)],
    "clip_id string, codec string, decode_ok int, "
    "n_samples bigint, snr_db double, snr_pass int",
    inputs=("clip_id", "bytes", "codec"), clip=mixed_codec_row_for,
)
# No cache of their own: the fingerprint corpus is checked through
# FP_PAIRS, and the trim and offset oracles are closed-form SQL over
# clip-index arithmetic.
FP_CORPUS = PerClip(  # 2 rows per decodable clip: the original and its copy
    None, FP_PAIRS.n, scaled_copy_rows, "clip_id string, bytes binary",
)
TRIM = PerClip(
    None, 160, trim_row,
    "clip_id string, lead_frames int, trail_frames int, restored int",
)
OFFSET_FP = PerClip(  # 2 rows per voiced clip: the original and its shift
    None, 180, offset_fp_rows,
    "fp_id string, n_words int, words array<int>",
)


def ensure_all() -> None:
    """Materialize every oracle input (no-op when cached)."""
    ensure_enriched(N_LABELS)
    ensure_enriched(N_PAIRS)
    ensure_media()
    ensure_doc_models()
    for spec in (INVARIANTS, SPECTRAL, VAD, FP_PAIRS, TRANSCODE, CHUNKS,
                 LOUDNESS, ALIGN, MIXED):
        ensure(spec)
