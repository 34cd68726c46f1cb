"""Per-clip enrichment stage: one fused ``mapInPandas`` pass.

Computes every per-row signal the policy needs — audio invariants (PCM
decode), language ID, perplexity, PII/toxicity scrub, tokenization, MinHash
signature + LSH band hashes, hashed-BoW vector — in a single Arrow-batched
pass over the clips table.  Design points:

* **bytes never shuffle**: this is a map-only stage; the binary column is
  consumed here and dropped from the output, so the dedup/report shuffles
  downstream carry only slim columns (SURVEY §4 column-pruning discipline).
* **models are broadcast**: langid weight matrix + char-LM tables are Spark
  broadcast variables, deserialized once per executor (north rule:
  "fastText-langid stage broadcast to executors inside pandas/Arrow UDFs").
* **zero per-row Python in Spark**: everything below operates on numpy /
  list batches inside the Arrow batch loop; the per-row work is the
  unavoidable string/byte-level math of the scorers themselves.

Replaces the reference's sequential per-file loop
(``backend/app/services/metadata.py:250-464``: extract -> LLM analyze ->
embed -> validate), with the LLM swapped for deterministic scorers per the
north rule.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.audio import audio_stats_batch
from ..functions.langid import get_model as get_langid
from ..functions.minhash import signature_frame
from ..functions.perplexity import get_model as get_charlm
from ..functions.pii import scrub_batch

ENRICHED_SCHEMA = (
    "clip_id string, sr_hz int, dur_ms int, codec string, transcript string, "
    "ingest_ts timestamp, decode_ok boolean, n_samples bigint, "
    "header_sr_hz bigint, rms double, clip_ratio double, is_silent boolean, "
    "lang string, lang_conf double, ppl double, pii_hits int, toxic_hits int, "
    "scrubbed_transcript string, n_chars int, n_tokens int, n_distinct int, "
    "alpha_space_ratio double, t_hash bigint, "
    "tok_hashes array<bigint>, minhash_sig binary, bands array<bigint>, "
    "bow binary"
)


def _alpha_space_ratio(t: str) -> float:
    if not t:
        return 0.0
    ok = sum(1 for ch in t if ch.isalpha() or ch == " ")
    return ok / len(t)


def enrich_batch(pdf: pd.DataFrame, langid_model, char_lm) -> pd.DataFrame:
    """Pure-pandas enrichment of one Arrow batch (also used by the oracle
    path and unit tests directly — identical code on both sides)."""
    from ..functions.texthash import text_hash64

    texts = pdf["transcript"].tolist()
    astats = audio_stats_batch(pdf["bytes"].tolist(), pdf["codec"].tolist())
    langs, confs = langid_model.predict_batch(texts)
    ppl = char_lm.perplexity_batch(texts)
    scrubbed, pii_hits, toxic_hits = scrub_batch(texts)
    sigf = signature_frame(texts)
    toks = sigf["tokens"]
    out = pd.DataFrame(
        {
            "clip_id": pdf["clip_id"].values,
            "sr_hz": pdf["sr_hz"].values,
            "dur_ms": pdf["dur_ms"].values,
            "codec": pdf["codec"].values,
            "transcript": texts,
            "ingest_ts": pdf["ingest_ts"].values,
            "decode_ok": astats["decode_ok"],
            "n_samples": astats["n_samples"],
            "header_sr_hz": astats["header_sr_hz"],
            "rms": astats["rms"],
            "clip_ratio": astats["clip_ratio"],
            "is_silent": astats["is_silent"],
            "lang": langs,
            "lang_conf": confs,
            "ppl": ppl,
            "pii_hits": np.asarray(pii_hits, dtype=np.int32),
            "toxic_hits": np.asarray(toxic_hits, dtype=np.int32),
            "scrubbed_transcript": scrubbed,
            "n_chars": np.asarray([len(t or "") for t in texts], dtype=np.int32),
            "n_tokens": np.asarray([len(t) for t in toks], dtype=np.int32),
            "n_distinct": np.asarray([len(set(t)) for t in toks], dtype=np.int32),
            "alpha_space_ratio": np.asarray(
                [_alpha_space_ratio(t or "") for t in texts], dtype=np.float64
            ),
            # signed-64 wrap: stable content hash for exact-dup grouping
            "t_hash": np.asarray(
                [text_hash64(t or "") for t in texts], dtype=np.uint64
            ).astype(np.int64),
            # NOTE: the raw token strings are deliberately NOT emitted —
            # every downstream consumer (MinHash banding, exact-Jaccard
            # verify, scoring) works on the sorted distinct ``tok_hashes``;
            # an array<string> column per row would ride the repartition
            # shuffle, the cache, and every Arrow boundary for nothing.
            "tok_hashes": sigf["tok_hashes"],
            "minhash_sig": sigf["minhash_sig"],
            "bands": sigf["bands"],
            "bow": sigf["bow"],
        }
    )
    return out


def enrich(df: DataFrame, run_ts: dt.datetime) -> DataFrame:
    """clips DataFrame -> enriched DataFrame (+ age_days, no bytes)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((get_langid(), get_charlm()))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        langid_model, char_lm = bc.value
        for pdf in batches:
            if len(pdf):
                yield enrich_batch(pdf, langid_model, char_lm)

    out = df.mapInPandas(run, schema=ENRICHED_SCHEMA)
    # C9: age in days vs the injected run timestamp (deterministic — the
    # reference's utcnow at metadata.py:267-272 becomes an explicit literal).
    return out.withColumn(
        "age_days",
        F.datediff(F.lit(run_ts.date()), F.to_date("ingest_ts")).cast("int"),
    )
