"""Seeded benchmark inputs and the expectations each one must produce.

Every input is a directory of clips parquet files built from the engine's
public generator helpers only (``datagen.clips``, ``oracle.clips_cache``,
``functions.audio``), in a child process, and cached under
``perfbench/.work/inputs`` keyed by (workload, seed, size).  Beside the
files, ``expect.json`` records what a correct run must output:

* ``is_dup`` and ``keep`` counts come from ``oracle.policy.label_frame``,
  run on each file.  Every planted duplicate relation either lies inside
  one file (the near-dup pairs of one 100-row period) or is an exact group
  with at least two members in every file (the hot cluster, "the water"),
  so the per-file oracle equals the whole-corpus oracle.
* ``dup_pairs`` follows from the planted layout: an exact group of size n
  gives n-1 star edges, and a near-dup pair gives one verified pair.
* ``fp_pairs`` is every pair of fingerprints that the frame-aligned
  matcher's rule accepts (equal length, one shared chunk hash at the same
  index, hamming within ``FP_HAMMING_MAX``), found by brute force over the
  fingerprints of ``functions.audiofeat``; it includes every planted
  scaled copy of a voiced original.  ``offset_pairs`` follows from the
  planted copies: every voiced original pairs with its copy when it has
  at least ``OFF_MIN_WORDS`` fingerprint words.

Run as ``python3 perfbench/inputs.py <workload> <seed> <dir>``.
"""

from __future__ import annotations

import datetime as dt
import json
import multiprocessing
import os
import shutil
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import hostenv  # noqa: E402

VERSION = 3
# PERFBENCH_TINY=1 shrinks every input for the smoke test
TINY = os.environ.get("PERFBENCH_TINY") == "1"
N_FILES = 2 if TINY else 16   # input files per corpus (scan splits)
# flagship defaults to bench.py's sf0.01 corpus (5,000 clips);
# PERFBENCH_FLAGSHIP_CLIPS=20000 gives its sf0.1 default, for comparison
FLAGSHIP_CLIPS = 400 if TINY else int(os.environ.get("PERFBENCH_FLAGSHIP_CLIPS", 5000))
SIZES = {                     # clips per corpus
    "flagship": FLAGSHIP_CLIPS,
    "audio_dedup": 64 * N_FILES,   # originals; half of them get a copy
}

CLIP_FIELDS = ("clip_id", "bytes", "sr_hz", "dur_ms", "codec",
               "transcript", "ingest_ts")


def run_ts() -> dt.datetime:
    from dataquality_spark.datagen.clips import DEFAULT_RUN_TS

    return DEFAULT_RUN_TS


def cache_dir(workload: str, seed: int) -> str:
    size = SIZES[workload]
    return os.path.join(hostenv.WORK, "inputs",
                        f"{workload}-s{seed}-n{size}-f{N_FILES}-v{VERSION}")


# ----------------------------------------------------------------- writing

def _arrow_schema():
    import pyarrow as pa

    return pa.schema([
        ("clip_id", pa.string()), ("bytes", pa.binary()),
        ("sr_hz", pa.int32()), ("dur_ms", pa.int32()),
        ("codec", pa.string()), ("transcript", pa.string()),
        ("ingest_ts", pa.timestamp("us", tz="UTC")),
    ])


def _write(rows: list[dict], path: str) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(rows, columns=list(CLIP_FIELDS))
    table = pa.Table.from_pandas(pdf, schema=_arrow_schema(), preserve_index=False)
    pq.write_table(table, path)


# -------------------------------------------------------------- audio copies

def _audio_rows(seed: int, start: int, n: int):
    """Originals [start, start+n) plus planted copies: (i+seed)%4==1 gets a
    0.7x requantized copy (``dupc_``), (i+seed)%4==3 a time-shifted one
    (``shft_``).  The datagen clipped rows (k=26) are left out: clipped
    tones of one frequency fingerprint alike.  Returns the rows, the
    planted frame-aligned pairs and the planted offset pairs."""
    import numpy as np

    from dataquality_spark.datagen.clips import row_for
    from dataquality_spark.functions import audiofeat as af
    from dataquality_spark.functions.audio import decode_wav_pcm16, encode_wav_pcm16
    from dataquality_spark.operators.audiodedup import OFF_MIN_WORDS
    from dataquality_spark.oracle.clips_cache import scaled_pcm16, shifted_scaled_pcm16

    rows, fp_pairs, off_pairs = [], 0, 0
    for i in range(start, start + n):
        if i % 100 == 26:
            continue
        r = row_for(i, seed)
        rows.append(r)
        copy = (i + seed) % 4
        if copy not in (1, 3):
            continue
        try:
            dec = decode_wav_pcm16(r["bytes"])
        except ValueError:
            continue
        x = dec.pcm.astype(np.float64) / 32767.0
        voiced = x.size and float(np.sqrt(np.mean(x * x))) > af.VAD_RMS_THRESH
        n_words = 1 + (x.size - af.FP_FRAME) // af.FP_HOP if x.size >= af.FP_FRAME else 0
        if copy == 1:
            prefix, pcm = "dupc", scaled_pcm16(dec.pcm)
            fp_pairs += bool(voiced)
        else:
            prefix, pcm = "shft", shifted_scaled_pcm16(dec.pcm, 4 + i % 5)
        off_pairs += bool(voiced) and n_words >= OFF_MIN_WORDS
        rows.append({**r, "clip_id": f"{prefix}_{i:012d}",
                     "bytes": encode_wav_pcm16(pcm, dec.sr_hz)})
    return rows, fp_pairs, off_pairs


def _fingerprints(rows: list[dict]) -> list[tuple]:
    """(clip_id, words, chunk hashes) of every clip the frame-aligned
    matcher fingerprints: decodable and above the silence gate."""
    import numpy as np

    from dataquality_spark.functions import audiofeat as af
    from dataquality_spark.functions.audio import decode_wav_pcm16

    out = []
    for r in rows:
        try:
            dec = decode_wav_pcm16(r["bytes"])
        except ValueError:
            continue
        x = dec.pcm.astype(np.float64) / 32767.0
        if not x.size or float(np.sqrt(np.mean(x * x))) <= af.VAD_RMS_THRESH:
            continue
        words = af.band_fingerprint(x, dec.sr_hz)
        out.append((r["clip_id"], [int(w) for w in words], af.fingerprint_chunks(words)))
    return out


def _fp_pair_count(fps: list[tuple]) -> int:
    """Pairs the frame-aligned matcher must report, by brute force over
    every pair of equal length: a shared chunk hash at one index, then
    differing bits / (16 * words) within FP_HAMMING_MAX."""
    import numpy as np

    from dataquality_spark.functions import audiofeat as af

    by_len: dict[int, list[tuple]] = {}
    for fp in fps:
        by_len.setdefault(len(fp[1]), []).append(fp)
    bits = np.array([bin(v).count("1") for v in range(1 << 16)], dtype=np.int64)
    pairs = 0
    for n, group in by_len.items():
        if n == 0:
            continue
        words = np.array([g[1] for g in group], dtype=np.int64)
        chunks = np.array([g[2] for g in group], dtype=np.int64)
        for a in range(len(group) - 1):
            shared = (chunks[a + 1:] == chunks[a]).any(axis=1)
            diff = bits[words[a + 1:] ^ words[a]].sum(axis=1)
            ham = diff.astype(np.float64) / (16.0 * float(n))
            pairs += int((shared & (ham <= af.FP_HAMMING_MAX)).sum())
    return pairs


# ----------------------------------------------------------------- oracle

def _oracle(rows: list[dict]) -> dict:
    """Per-file oracle labels: keep and is_dup per clip, with transcripts."""
    import pandas as pd

    from dataquality_spark.oracle.policy import label_frame

    pdf = pd.DataFrame(rows, columns=list(CLIP_FIELDS))
    lab = label_frame(pdf, run_ts())
    return {
        "clip_id": pdf["clip_id"].tolist(),
        "transcript": pdf["transcript"].tolist(),
        "is_dup": lab["is_dup"].astype(bool).tolist(),
        "keep": lab["keep"].astype(bool).tolist(),
    }


def _flagship_families(start: int, n: int) -> list[list[str]]:
    """datagen.clips plants near-dup pairs at k in {5,6} and {7,8} of each
    100-row period; the pairs whose members both lie in [start, start+n)."""
    return [[f"clip_{i:012d}", f"clip_{i + 1:012d}"]
            for i in range(start, start + n - 1) if i % 100 in (5, 7)]


def _chunk(job: tuple) -> dict:
    """One input file: build its rows, write it, label it."""
    workload, seed, start, n, path = job
    from dataquality_spark.datagen.clips import row_for

    out: dict = {}
    if workload == "audio_dedup":
        rows, out["fp_planted"], out["offset_pairs"] = _audio_rows(seed, start, n)
        out["fingerprints"] = _fingerprints(rows)
    else:
        rows = [row_for(i, seed) for i in range(start, start + n)]
        out["families"] = _flagship_families(start, n)
        out["oracle"] = _oracle(rows)
    _write(rows, path)
    out["n_rows"] = len(rows)
    return out


def _pair_count(oracle: dict, families: list[list[str]]) -> tuple[int, int]:
    """Planted-layout duplicate_pairs count, as (exact-group star edges,
    verified near-dup pairs).  An exact group gives one star edge per
    member other than its representative; a near-dup family counts the
    pairs between its distinct transcripts."""
    groups: dict[str, list[bool]] = {}
    for text, dup in zip(oracle["transcript"], oracle["is_dup"]):
        groups.setdefault(text, []).append(dup)
    edges = sum(len(d) - 1 for d in groups.values() if any(d) and len(d) >= 2)
    text_of = dict(zip(oracle["clip_id"], oracle["transcript"]))
    dup_of = dict(zip(oracle["clip_id"], oracle["is_dup"]))
    near = 0
    for fam in families:
        d = len({text_of[c] for c in fam if dup_of[c]})
        near += d * (d - 1) // 2
    return edges, near


def _merge(parts: list[dict], key: str) -> dict:
    return {k: sum((p[key][k] for p in parts), []) for k in parts[0][key]}


def _expect(workload: str, parts: list[dict]) -> dict:
    exp: dict = {"workload": workload, "n_rows": sum(p["n_rows"] for p in parts)}
    if workload == "audio_dedup":
        exp["fp_planted"] = sum(p["fp_planted"] for p in parts)
        exp["fp_pairs"] = _fp_pair_count(sum((p["fingerprints"] for p in parts), []))
        exp["offset_pairs"] = sum(p["offset_pairs"] for p in parts)
        return exp
    o = _merge(parts, "oracle")
    exp["is_dup"] = sum(o["is_dup"])
    exp["keep"] = sum(o["keep"])
    exact, near = _pair_count(o, sum((p["families"] for p in parts), []))
    exp["dup_pairs"], exp["near_pairs"] = exact + near, near
    return exp


def _jobs(workload: str, seed: int, out: str) -> list[tuple]:
    """One job per file; file j holds clips [j*n/F, (j+1)*n/F), as
    spark.range splits them."""
    clips = os.path.join(out, "clips")
    os.makedirs(clips, exist_ok=True)
    n = SIZES[workload]
    cut = [j * n // N_FILES for j in range(N_FILES + 1)]
    return [(workload, seed, cut[j], cut[j + 1] - cut[j],
             os.path.join(clips, f"part-{j:05d}.parquet"))
            for j in range(N_FILES)]


def _pool(jobs: list[tuple]) -> list[dict]:
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(min(len(jobs), hostenv.cores())) as pool:
        return pool.map(_chunk, jobs, chunksize=1)


def build(workload: str, seed: int, out: str) -> None:
    """Generate one (workload, seed) input into ``out`` (atomically)."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    parts = _pool(_jobs(workload, seed, tmp))
    with open(os.path.join(tmp, "expect.json"), "w") as f:
        json.dump(_expect(workload, parts), f, indent=1)
    os.replace(tmp, out)


if __name__ == "__main__":
    build(sys.argv[1], int(sys.argv[2]), sys.argv[3])
