"""Deterministic synthetic clips table (FIXTURES.md §1).

Schema (BASELINE.json input_hint, plus the sanctioned auxiliary ingest_ts):

    clip_id:string, bytes:binary (WAV PCM16 mono), sr_hz:int, dur_ms:int,
    codec:string, transcript:string, ingest_ts:timestamp

Planted label-driving cases, assigned purely by ``index % 100`` so any
process generating row *i* produces byte-identical output (parallel Spark
generation == local generation):

    k in [0,5)   hot duplicate cluster: ~5% of ALL rows share one transcript
                 (exercises duplicate-cluster skew / salting)
    k in {5,6}   near-dup pair A (30 tokens, 1 token edited ≈ 3% edit)
    k in {7,8}   near-dup pair B
    k in [9,12)  wrong-language transcript (xx corpus)
    k in [12,15) gibberish / high-perplexity transcript
    k in {15,16} PII strings (SSN / email+phone); 16 also a toxic word
    k in {17,18} empty / whitespace-only transcript
    k in {19,20} length-ratio outliers (too few / too many chars per second)
    k in {21,22} stale rows (ingest age 45 days > 30-day timeliness rule)
    k = 23       invalid sr_hz (44101) + garbage bytes (decode fails)
    k = 24       unknown codec ("mp3") + header dur mismatch
    k = 25       silent audio
    k = 26       clipped audio
    k = 27       dur_ms field off by 500ms vs actual samples
    k in [28,100) normal unique English rows

Audio is a seeded sine+noise mix quantized to PCM16; the float reference
waveform is recomputable from the index alone (:func:`reference_waveform`),
which is how tests assert the decoded-PCM SNR ≥ 30 dB invariant without
storing the float signal.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

import numpy as np
import pandas as pd

from ..functions.audio import encode_wav_pcm16
from . import corpus

DEFAULT_SEED = 42
DEFAULT_RUN_TS = dt.datetime(2026, 1, 15, 12, 0, 0)
SR = 16000
HOT_TEXT = corpus.sentence(7, 7, 30)  # the pathological identical cluster

CLIPS_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, "
    "codec string, transcript string, ingest_ts timestamp"
)


def _dur_ms(i: int, k: int) -> int:
    return 300 + (37 * (i % 97) + 13 * k) % 1200


def transcript_for(i: int, seed: int = DEFAULT_SEED) -> str:
    b, k = divmod(i, 100)
    if k < 5:
        return HOT_TEXT
    if k in (5, 6, 7, 8):
        pair = 0 if k < 7 else 1
        base = corpus.sentence(seed, 10_000_000 + 2 * b + pair, 30)
        if k in (6, 8):  # edited member: replace one token
            toks = base.split(" ")
            pos = b % len(toks)
            toks[pos] = corpus.EN_WORDS[(b * 31 + k) % len(corpus.EN_WORDS)] + "x"
            return " ".join(toks)
        return base
    if k < 12:
        return corpus.sentence(seed, 20_000_000 + i, 24, corpus.XX_WORDS)
    if k < 15:
        return corpus.gibberish(seed, 30_000_000 + i, 20)
    if k == 15:
        s = corpus.sentence(seed, 40_000_000 + i, 20)
        return s + " my ssn is 123-45-6789 thanks"
    if k == 16:
        s = corpus.sentence(seed, 40_000_000 + i, 20)
        return s + " email me at jdoe@example.com or call 415-555-0134 you frakking tool"
    if k == 17:
        return ""
    if k == 18:
        return "   "
    if k == 19:
        return "the water"  # far too short for its duration
    if k == 20:
        return corpus.sentence(seed, 50_000_000 + i, 400)  # far too long
    # 21..22 stale (normal text), 23..27 audio/meta issues (normal text),
    # 28+ normal unique rows
    return corpus.sentence(seed, 60_000_000 + i, 14 + (i % 20))


def reference_waveform(i: int, dur_ms: int, sr_hz: int = SR) -> np.ndarray:
    """Float waveform in [-1,1] for clip index i (pre-quantization truth)."""
    k = i % 100
    n = int(sr_hz * dur_ms / 1000)
    if k == 25:  # silent
        return np.zeros(n, dtype=np.float64)
    t = np.arange(n, dtype=np.float64) / sr_hz
    freq = 110.0 + 3.0 * (i % 200)
    amp = 1.4 if k == 26 else 0.5  # k=26: clipped on quantization
    rng = np.random.default_rng(np.uint64(corpus._mix(1_000_003 * i + 17)))
    noise = 0.01 * rng.standard_normal(n)
    x = amp * np.sin(2 * np.pi * freq * t) + noise
    return np.clip(x, -1.0, 1.0)


def row_for(i: int, seed: int = DEFAULT_SEED, run_ts: dt.datetime = DEFAULT_RUN_TS) -> dict:
    k = i % 100
    dur = _dur_ms(i, k)
    sr = 44101 if k == 23 else SR
    codec = "mp3" if k == 24 else "pcm_s16le"
    if k == 23:
        raw = b"\x00\x01garbage-not-a-wav" + bytes(64)
    else:
        raw = encode_wav_pcm16(reference_waveform(i, dur), SR)
    dur_field = dur + 500 if k in (24, 27) else dur
    age_days = 45 if k in (21, 22) else (i % 20)
    return {
        "clip_id": f"clip_{i:012d}",
        "bytes": raw,
        "sr_hz": sr,
        "dur_ms": dur_field,
        "codec": codec,
        "transcript": transcript_for(i, seed),
        "ingest_ts": run_ts - dt.timedelta(days=age_days),
    }


def clips_pdf(
    n: int, seed: int = DEFAULT_SEED, run_ts: dt.datetime = DEFAULT_RUN_TS, start: int = 0
) -> pd.DataFrame:
    """Local pandas generation (oracle / unit tests / small golden runs)."""
    return pd.DataFrame([row_for(i, seed, run_ts) for i in range(start, start + n)])


def clips_df(spark, n: int, seed: int = DEFAULT_SEED, run_ts: dt.datetime = DEFAULT_RUN_TS,
             n_files: int | None = None, row=row_for):
    """Distributed generation: spark.range(n) -> mapInPandas(row).

    Generation itself parallelizes across executors — at 10^12 rows nothing
    ever materializes on the driver. ``row`` builds clip i
    (:func:`row_for`, or :func:`mixed_codec_row_for` for the mixed-codec
    corpus).
    """
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame([row(int(i), seed, run_ts) for i in pdf["id"]])

    # ~500 clips (~14 MB of WAV) per output file: a 40k-clip input yields 80
    # splits, so a 32-core scan always has >2 task waves (a 20x56MB layout
    # capped every run at 20-way parallelism regardless of cores). The 100TB
    # production input has tens of thousands of splits; this makes the
    # sandbox input's granularity match its shape, not its size.
    # ``n_files`` overrides when the caller knows the core count the table
    # will be scanned with (a ~14 MB parquet file is one row group, so file
    # count is the scan's hard parallelism ceiling).
    parts = n_files or max(8, min(1024, n // 500))
    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, schema=CLIPS_SCHEMA)


def write_clips_parquet(spark, path: str, n: int, seed: int = DEFAULT_SEED,
                        n_files: int | None = None) -> None:
    clips_df(spark, n, seed, n_files=n_files).write.mode("overwrite").parquet(path)


# ------------------------------------------------------- mixed-codec corpus

MULAW_MOD = 3  # clips with i % MULAW_MOD == 2 are mu-law encoded


def mixed_codec_row_for(
    i: int, seed: int = DEFAULT_SEED, run_ts: dt.datetime = DEFAULT_RUN_TS
) -> dict:
    """row_for with every third clip re-encoded as 8-bit G.711 mu-law
    (codec 'pcm_mulaw', WAV fmt code 7) from the SAME reference waveform —
    the mixed-codec ingest shape a real speech corpus has. The planted
    k=23 (garbage bytes) and k=24 ('mp3', undecodable here) rows keep
    their original payloads so the error-routing cases survive."""
    from ..functions.audio import encode_wav_mulaw

    r = row_for(i, seed, run_ts)
    k = i % 100
    if k not in (23, 24) and i % MULAW_MOD == 2:
        r["bytes"] = encode_wav_mulaw(reference_waveform(i, _dur_ms(i, k)), SR)
        r["codec"] = "pcm_mulaw"
    return r

