"""Audio-content near-duplicate detection over PCM payloads.

The text-dedup LSH funnel shape (operators/dedup.py) applied to the audio
itself: per clip an Arrow batch computes the Haitsma-Kalker band-energy
sign fingerprint (functions/audiofeat.py — amplitude-invariant uint16
word per 512-sample hop) plus crc32 chunk keys; candidate pairs come from
a banded equi-join on (n_words, chunk_idx, chunk_hash) — never all-pairs
— and verification is a NATIVE zip_with/bit_count hamming expression, so
no Python runs anywhere past the fingerprint map.

Both matchers read the same fingerprint frame: the offset-invariant
matcher derives its bigram posting keys natively from ``words``, so a
clip's payload crosses into Python and is decoded exactly once per
persisted fingerprint frame.

100 TB shape:
* the audio bytes are consumed on the scan partitions and never shuffle —
  only ~100-byte fingerprint rows move;
* the banded join is a plain equi-join AQE can re-plan (skew-join/ broadcast);
* silence is gated out up front (all-zero fingerprints would otherwise
  form a quadratic collision bucket — the audio analog of the hot
  transcript cluster);
* the verify filter runs inside whole-stage codegen (bit_count over the
  xor'd words), emitting only pairs within the hamming budget.

Semantics provenance: the reference's near-dup decision gates on metadata
similarity then verifies content (metadata.py:560-597); this operator is
the payload-level analog for re-encoded / re-normalized copies of the
same recording.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import audiofeat as af


def audio_fingerprints(clips: DataFrame) -> DataFrame:
    """clip_id/bytes -> (fp_id, n_words, words array<int>, chunks
    array<bigint>) slim fingerprint rows; undecodable and silent clips
    are dropped (error routing happens upstream in the enrich pass)."""
    import pandas as pd

    def fps(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid, raw in zip(pdf["clip_id"], pdf["bytes"]):
                got = af.voiced_fingerprint(raw)
                if got is None:
                    continue
                words = got[1]
                rows.append((
                    cid,
                    int(words.size),
                    [int(w) for w in words],
                    af.fingerprint_chunks(words),
                ))
            yield pd.DataFrame(rows, columns=["fp_id", "n_words", "words", "chunks"])

    return clips.select("clip_id", "bytes").mapInPandas(
        fps,
        schema="fp_id string, n_words int, words array<int>, chunks array<bigint>",
    )


def fingerprint_pairs(fp: DataFrame) -> DataFrame:
    """Banded-LSH candidate generation + native hamming verify over a
    fingerprint frame (caller persists `fp` if it is expensive — it is
    consumed three times)."""
    chunk = fp.select(
        "fp_id", "n_words", F.posexplode("chunks").alias("chunk_idx", "chunk_hash")
    )
    cand = (
        chunk.alias("a")
        .join(
            chunk.alias("b"),
            on=[
                F.col("a.n_words") == F.col("b.n_words"),
                F.col("a.chunk_idx") == F.col("b.chunk_idx"),
                F.col("a.chunk_hash") == F.col("b.chunk_hash"),
                F.col("a.fp_id") < F.col("b.fp_id"),
            ],
        )
        .select(F.col("a.fp_id").alias("id_a"), F.col("b.fp_id").alias("id_b"))
        .distinct()
    )
    hamming = (
        F.expr(
            "CAST(aggregate(zip_with(wa, wb, (x, y) -> bit_count(x ^ y)), "
            "0, (s, v) -> s + v) AS DOUBLE)"
        )
        / (16.0 * F.col("nw").cast("double"))
    )
    return (
        cand.join(fp.select(F.col("fp_id").alias("id_a"),
                            F.col("words").alias("wa"),
                            F.col("n_words").alias("nw")), "id_a")
        .join(fp.select(F.col("fp_id").alias("id_b"),
                        F.col("words").alias("wb")), "id_b")
        .select(
            F.col("id_a").alias("clip_1"),
            F.col("id_b").alias("clip_2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= af.FP_HAMMING_MAX)
    )


# ---------------------------------------------------------------------------
# Offset-invariant matching (time-shifted copies)
# ---------------------------------------------------------------------------
#
# The chunk-hash banding above only recovers copies that are frame-aligned:
# a re-published clip with a few hundred milliseconds of leader silence (a
# DAW export, a concatenated ad bumper, a padded upload) shares NO chunk
# hash with its source, because every fingerprint word shifts by
# shift/FP_HOP positions.  The classic fix (Haitsma-Kalker / Shazam) is an
# inverted index over local fingerprint features with OFFSET VOTING: every
# shared feature votes for the relative alignment `pos_b - pos_a`, a true
# time-shifted copy concentrates its votes on one modal offset, and a
# final hamming verify runs over the overlap at that alignment.
OFF_BIGRAM_CAP = 64    # df-cap: drop inverted-index keys hotter than this
OFF_MIN_VOTES = 8      # modal-offset votes required to form a candidate
OFF_MIN_WORDS = 14     # min aligned overlap (words); 13 possible votes
                       # leaves a 5-vote margin over OFF_MIN_VOTES for
                       # quantization bit-flip losses (measured ~1 bit per
                       # 224: oracle/clips_cache.py scaled_pcm16 notes)
OFF_MAX_HAMMING = 0.05  # verify: bit-flip budget at the aligned overlap


def offset_fingerprints(clips: DataFrame) -> DataFrame:
    """The fingerprint frame the offset-invariant matcher reads: exactly
    ``audio_fingerprints(clips)``, so when that frame is persisted the
    matcher's internal ``cached()`` resolves to it and both matchers
    share one decode."""
    return audio_fingerprints(clips)


def offset_align_pairs(fp: DataFrame, bigram_cap: int = OFF_BIGRAM_CAP) -> DataFrame:
    """Modal-offset candidate generation + native aligned-hamming verify.

    Stages (all equi-joins / keyed aggregations — no all-pairs, no
    global window):

    1. posting list: (fp_id, pos, key) with
       ``key = words[pos] << 16 | words[pos + 1]``, derived natively
       from ``words`` (rows with ``n_words < 2`` post nothing).  A single
       16-bit word is too collision-prone to index (65k distinct values
       over billions of frames); the 32-bit bigram carries enough
       noise-driven temporal structure to make buckets sparse.  Zero
       keys (digital silence) are dropped — the audio analog of
       stop-words, which would otherwise form one quadratic bucket out
       of every silent leader;
    2. df-cap: keys appearing in > bigram_cap postings are dropped (hot
       boilerplate features — jingles, dial tones — would otherwise
       create a near-quadratic bucket; a true copy pair still has
       plenty of rarer keys to vote with);
    3. offset voting: self-equi-join on key (fp_id_a < fp_id_b),
       groupBy (a, b, offset = pos_b - pos_a) -> votes;
    4. modal offset per pair: row_number over (pair) ordered by
       (votes desc, offset asc) — deterministic tie-break;
    5. verify: join the two word arrays back, hamming over the aligned
       overlap as a native zip_with/bit_count expression inside
       whole-stage codegen.

    100 TB: bytes never reach this operator (the fingerprint map
    consumed them on the scan partitions); postings are 3-column slim
    rows; every join is an equi-join AQE can re-plan for skew; the
    df-cap bounds the worst bucket.  ``fp`` is consumed FOUR times
    (postings twice via the self-join, df-cap counts, both verify
    sides), so it is persisted here through caching.cached().  When the
    caller already holds ``cached(audio_fingerprints(clips))``, this
    resolves to that live frame and the offset matcher decodes nothing;
    otherwise it persists the fingerprint map once.  Released by the
    standard release_all lifecycle.  Returns (clip_1, clip_2,
    offset_words, overlap_words, hamming)."""
    from ..caching import cached

    fp = cached(fp)
    bigrams = F.expr(
        "zip_with(slice(words, 1, n_words - 1), slice(words, 2, n_words - 1), "
        "(x, y) -> shiftleft(CAST(x AS BIGINT), 16) | CAST(y AS BIGINT))"
    )
    posts = (
        fp.filter(F.col("n_words") >= 2)
        .select("fp_id", F.posexplode(bigrams).alias("pos", "key"))
        .filter(F.col("key") != 0)
    )

    key_ok = posts.groupBy("key").count().filter(F.col("count") <= bigram_cap)
    posts = posts.join(key_ok.select("key"), "key")

    votes = (
        posts.alias("a")
        .join(
            posts.alias("b"),
            on=[
                F.col("a.key") == F.col("b.key"),
                F.col("a.fp_id") < F.col("b.fp_id"),
            ],
        )
        .select(
            F.col("a.fp_id").alias("id_a"),
            F.col("b.fp_id").alias("id_b"),
            (F.col("b.pos") - F.col("a.pos")).alias("off"),
        )
        .groupBy("id_a", "id_b", "off")
        .agg(F.count("*").alias("votes"))
    )
    modal = (
        votes.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id_a", "id_b").orderBy(
                    F.col("votes").desc(), F.col("off").asc()
                )
            ),
        )
        .filter((F.col("rn") == 1) & (F.col("votes") >= OFF_MIN_VOTES))
        .drop("rn")
    )

    sa = fp.select(F.col("fp_id").alias("id_a"), F.col("words").alias("wa"),
                   F.col("n_words").alias("na"))
    sb = fp.select(F.col("fp_id").alias("id_b"), F.col("words").alias("wb"),
                   F.col("n_words").alias("nb"))
    aligned = (
        modal.join(sa, "id_a").join(sb, "id_b")
        .withColumn("skip_a", F.greatest(-F.col("off"), F.lit(0)))
        .withColumn("skip_b", F.greatest(F.col("off"), F.lit(0)))
        .withColumn(
            "overlap",
            F.least(F.col("na") - F.col("skip_a"), F.col("nb") - F.col("skip_b")),
        )
        .filter(F.col("overlap") >= OFF_MIN_WORDS)
        .withColumn(
            "hamming",
            F.expr(
                "CAST(aggregate(zip_with("
                "  slice(wa, skip_a + 1, overlap),"
                "  slice(wb, skip_b + 1, overlap),"
                "  (x, y) -> bit_count(x ^ y)), 0, (s, v) -> s + v) AS DOUBLE)"
            ) / (16.0 * F.col("overlap").cast("double")),
        )
        .filter(F.col("hamming") <= OFF_MAX_HAMMING)
    )
    return aligned.select(
        F.col("id_a").alias("clip_1"),
        F.col("id_b").alias("clip_2"),
        F.col("off").alias("offset_words"),
        F.col("overlap").alias("overlap_words"),
        "hamming",
    )
