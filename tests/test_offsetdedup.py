"""Offset-invariant audio near-dup detection (operators/audiodedup.py
offset_align_pairs).

The hard check lives in the driver gate: clips_offset_align_dups is
oracle-checked against a closed-form DuckDB expectation derived purely
from clip-index arithmetic.  These tests add (a) an INDEPENDENT numpy
implementation of the whole matcher whose output must equal the Spark
DAG's bit-exactly (pairs, offsets, overlaps, hamming), (b) unit
semantics the catalog corpus never exercises (negative offsets, the
inverted-index df-cap), and (c) the plan guards: no cartesian pair
generation, no audio bytes in any shuffle.
"""

from __future__ import annotations

import collections
import re

import numpy as np
import pandas as pd

from dataquality_spark.functions import audiofeat as af


def _numpy_matcher(fps: dict, min_votes: int, min_words: int,
                   max_hamming: float, cap: int) -> list:
    """Independent reference implementation (dict/Counter, no Spark)."""
    idx = collections.defaultdict(list)
    for cid, w in fps.items():
        big = (w[:-1].astype(np.int64) << 16) | w[1:].astype(np.int64)
        for j, key in enumerate(big):
            if key != 0:
                idx[int(key)].append((cid, j))
    votes = collections.Counter()
    for key, posts in idx.items():
        if len(posts) > cap:
            continue
        for ca, pa in posts:
            for cb, pb in posts:
                if ca < cb:
                    votes[(ca, cb, pb - pa)] += 1
    best = {}
    for (a, b, off), v in votes.items():
        cur = best.get((a, b))
        if cur is None or v > cur[1] or (v == cur[1] and off < cur[0]):
            best[(a, b)] = (off, v)
    out = []
    for (a, b), (off, v) in best.items():
        if v < min_votes:
            continue
        wa, wb = fps[a], fps[b]
        sa, sb = max(-off, 0), max(off, 0)
        ov = min(len(wa) - sa, len(wb) - sb)
        if ov < min_words:
            continue
        h = af.hamming_frac(wa[sa:sa + ov], wb[sb:sb + ov])
        if h <= max_hamming:
            out.append((a, b, int(off), int(ov), float(h)))
    return sorted(out)


def _corpus_fps(n: int) -> tuple[dict, dict]:
    """Original + shifted-copy fingerprints for clip indexes [0, n)."""
    from dataquality_spark.datagen.clips import row_for
    from dataquality_spark.functions.audio import decode_wav_pcm16
    from dataquality_spark.oracle.clips_cache import shifted_scaled_pcm16

    fps, planted = {}, {}
    for i in range(n):
        r = row_for(i)
        try:
            dec = decode_wav_pcm16(bytes(r["bytes"]))
        except ValueError:
            continue
        x = dec.pcm.astype(np.float64) / 32767.0
        if not x.size or float(np.sqrt(np.mean(x * x))) <= af.VAD_RMS_THRESH:
            continue
        s = 4 + i % 5
        w = af.band_fingerprint(x, dec.sr_hz)
        shifted = shifted_scaled_pcm16(dec.pcm, s)
        w2 = af.band_fingerprint(shifted.astype(np.float64) / 32767.0, dec.sr_hz)
        sid = "shft_" + r["clip_id"].split("_")[1]
        if w.size >= 2:
            fps[r["clip_id"]] = w
        if w2.size >= 2:
            fps[sid] = w2
        planted[(r["clip_id"], sid)] = (s, int(w.size))
    return fps, planted


def _spark_pairs(spark, fps: dict, **kw) -> list:
    from dataquality_spark.operators.audiodedup import offset_align_pairs

    rows = [(cid, int(w.size), [int(v) for v in w]) for cid, w in fps.items()]
    fp = spark.createDataFrame(
        pd.DataFrame(rows, columns=["fp_id", "n_words", "words"]),
        schema="fp_id string, n_words int, words array<int>",
    )
    return sorted(
        (r.clip_1, r.clip_2, r.offset_words, r.overlap_words, r.hamming)
        for r in offset_align_pairs(fp, **kw).collect()
    )


def test_spark_matches_independent_numpy_matcher(spark):
    """The Spark DAG and the dict/Counter implementation must agree
    bit-exactly on a 60-clip corpus with planted shifted copies."""
    from dataquality_spark.operators.audiodedup import (
        OFF_BIGRAM_CAP,
        OFF_MAX_HAMMING,
        OFF_MIN_VOTES,
        OFF_MIN_WORDS,
    )

    fps, planted = _corpus_fps(60)
    want = _numpy_matcher(fps, OFF_MIN_VOTES, OFF_MIN_WORDS,
                          OFF_MAX_HAMMING, OFF_BIGRAM_CAP)
    got = _spark_pairs(spark, fps)
    assert got == want
    # and the matcher recovers exactly the eligible planted pairs at
    # their exact planted offsets
    eligible = {(a, b): so for (a, b), so in planted.items()
                if so[1] >= OFF_MIN_WORDS}
    assert {(a, b) for a, b, *_ in got} == set(eligible)
    for a, b, off, ov, _h in got:
        assert (off, ov) == eligible[(a, b)]


def test_negative_offset_detected(spark):
    """When the LEXICALLY EARLIER id is the padded one, the modal offset
    is negative and the aligned verify still matches (general sign
    handling, which the catalog corpus never exercises)."""
    from dataquality_spark.datagen.clips import row_for
    from dataquality_spark.functions.audio import decode_wav_pcm16
    from dataquality_spark.oracle.clips_cache import shifted_scaled_pcm16

    r = row_for(40)  # long, voiced clip
    dec = decode_wav_pcm16(bytes(r["bytes"]))
    w = af.band_fingerprint(dec.pcm.astype(np.float64) / 32767.0, dec.sr_hz)
    shifted = shifted_scaled_pcm16(dec.pcm, 6)
    w2 = af.band_fingerprint(shifted.astype(np.float64) / 32767.0, dec.sr_hz)
    # "aaa_padded" sorts BEFORE "zzz_orig"
    got = _spark_pairs(spark, {"aaa_padded": w2, "zzz_orig": w})
    assert len(got) == 1
    a, b, off, ov, h = got[0]
    assert (a, b) == ("aaa_padded", "zzz_orig")
    assert off == -6
    assert ov == int(w.size)
    assert h <= 0.05


def test_short_fingerprints_post_nothing(spark):
    """0-word and 1-word fingerprints have no bigram: they post no key,
    fail no task, and leave a real shifted pair beside them unchanged."""
    from dataquality_spark.datagen.clips import row_for
    from dataquality_spark.functions.audio import decode_wav_pcm16
    from dataquality_spark.oracle.clips_cache import shifted_scaled_pcm16

    dec = decode_wav_pcm16(bytes(row_for(40)["bytes"]))
    w = af.band_fingerprint(dec.pcm.astype(np.float64) / 32767.0, dec.sr_hz)
    shifted = shifted_scaled_pcm16(dec.pcm, 5)
    w2 = af.band_fingerprint(shifted.astype(np.float64) / 32767.0, dec.sr_hz)
    pair = {"orig": w, "shft": w2}
    want = _spark_pairs(spark, pair)
    assert len(want) == 1
    short = {"a_empty": np.empty(0, dtype=np.uint16),
             "a_one": w[:1].copy(), "z_one": w2[5:6].copy()}
    assert _spark_pairs(spark, {**pair, **short}) == want


def test_bigram_cap_drops_hot_keys(spark):
    """A key hotter than the df-cap contributes no votes: 40 clips that
    share one constant bigram everywhere (a boilerplate jingle) must
    produce zero pairs when that key's posting list exceeds the cap."""
    word = 7
    key = (word << 16) | word
    fps = {}
    rng = np.random.default_rng(1)
    for i in range(40):
        # 20 shared-jingle words + 20 clip-unique random words
        w = np.concatenate([
            np.full(20, word, dtype=np.uint16),
            rng.integers(1, 60000, size=20).astype(np.uint16),
        ])
        fps[f"c{i:03d}"] = w
    got = _spark_pairs(spark, fps, bigram_cap=30)
    # the jingle key appears 19x per clip * 40 clips >> cap, so with the
    # unique tails random, no pair reaches 8 consistent-offset votes
    assert got == []
    assert key == (7 << 16) | 7  # (documents the constructed hot key)


def test_offset_align_plan_shape(spark):
    """No cartesian/broadcast-nested-loop pair generation; audio bytes
    never enter any shuffle (they are consumed by the fan-out
    mapInPandas on the scan partitions)."""
    from dataquality_spark.plan_utils import exchange_inputs, formatted_plan
    from dataquality_spark.queries import CATALOG

    df = CATALOG["clips_offset_align_dups"].run(spark, "/root/testdata/sf0.001")
    raw = formatted_plan(df)
    assert "CartesianProduct" not in raw
    assert "BroadcastNestedLoopJoin" not in raw
    plan = formatted_plan(df, execute=True)
    for inp in exchange_inputs(plan):
        assert not re.search(r"\bbytes#", inp), (
            f"audio bytes entered a shuffle: {inp[:120]}"
        )
