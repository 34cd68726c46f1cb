"""17-dimension quality scoring + keep/drop policy.

The dimension list and every policy constant mirror the reference exactly:

* canonical 17 dimensions — ``backend/app/services/metadata.py:153-158``
* score clamp to [0,100], default 50          — ``metadata.py:171-178`` (P1)
* timeliness: age > 30 days -> min(score, 60) — ``metadata.py:387-417`` (P2)
* overall = round(mean of 17 scores)          — ``metadata.py:419-421`` (P3)
* action: >=85 KEEP / >=70 REVIEW / >=60 QUARANTINE / else DISCARD
                                              — ``metadata.py:425-433`` (P4)

The reference gets the per-dimension scores from an LLM; per the north rule
we derive them from deterministic signals (audio stats, langid, perplexity,
PII scrub, dedup) computed upstream.  Every rule below is written twice:

* ``*_expr`` — a native Spark Column (pure ``F.when`` trees, so the whole
  policy stays inside WholeStageCodegen — no Python in this stage), and
* ``py_dimension_scores`` — the pure-Python mirror used by the oracle.

Rounding note (SURVEY §7.3): Python ``round`` is banker's, Spark ``F.round``
is HALF_UP.  They cannot disagree here: the mean of 17 integers hits an
exact .5 only if 2*sum == 17*(2m+1), impossible for integer sum (odd*odd is
odd).  Both sides therefore compute round(sum/17.0) identically.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DIMENSIONS = [
    "Accuracy", "Completeness", "Consistency", "Timeliness", "Validity",
    "Uniqueness", "Reliability", "Relevance", "Accessibility", "Precision",
    "Integrity", "Conformity", "Interpretability", "Traceability",
    "Credibility", "Fitness_for_Use", "Value",
]

# P4 thresholds — metadata.py:425-433
ACTION_KEEP, ACTION_REVIEW, ACTION_QUARANTINE = 85, 70, 60
# P2 — metadata.py:398-407
TIMELINESS_MAX_AGE_DAYS, TIMELINESS_CAP = 30, 60

VALID_SR_HZ = (8000, 16000, 22050, 24000, 44100, 48000)
KNOWN_CODEC = "pcm_s16le"
CLIP_RATIO_MAX = 0.01
CPS_MIN, CPS_MAX = 40.0, 1000.0      # chars-per-second sanity band
REPETITION_MAX = 0.5
ALPHA_SPACE_MIN = 0.8
LANG_CONF_MIN = 0.6
PPL_GOOD, PPL_OK = 150.0, 250.0
DUR_MISMATCH_MS = 100.0
CLIP_ID_RE = re.compile(r"^clip_\d{12}$")
EXPECTED_LANG = "en"
CREDIBILITY_DEFAULT = 80


# ---------------------------------------------------------------- Spark side

def _cps() -> Column:
    """Transcript chars per second of declared duration; 0.0 when the
    duration is 0, as in the mirror (ANSI division by zero fails the job)."""
    return F.when(F.col("dur_ms") == 0, F.lit(0.0)).otherwise(
        F.col("n_chars") / (F.col("dur_ms") / F.lit(1000.0))
    )


def _dur_dec() -> Column:
    """Decoded duration in ms at the header's sample rate; 0.0 when the
    header says 0 Hz, as in the mirror."""
    return F.when(F.col("header_sr_hz") == 0, F.lit(0.0)).otherwise(
        F.col("n_samples") * F.lit(1000.0) / F.col("header_sr_hz")
    )


def dimension_score_exprs() -> dict[str, Column]:
    """name -> int Column for each of the 17 dimensions (native exprs only)."""
    c = F.col
    fit_bad = (
        (c("n_tokens") == 0)
        | (c("ppl") > PPL_OK)
        | (c("lang") != EXPECTED_LANG)
        | c("is_silent")
        | ~c("decode_ok")
    )
    return {
        "Accuracy": F.when(~c("decode_ok"), 50)
        .when(c("is_silent"), 0)
        .when(c("clip_ratio") > CLIP_RATIO_MAX, 40)
        .otherwise(90),
        "Completeness": F.when(c("n_tokens") == 0, 0)
        .when((_cps() < CPS_MIN) | (_cps() > CPS_MAX), 40)
        .otherwise(90),
        "Consistency": F.when(c("n_tokens") == 0, 50)
        .when(
            (1.0 - c("n_distinct") / c("n_tokens")) > REPETITION_MAX, 40
        )
        .otherwise(90),
        # P2: base 90, capped at 60 when the ingest age exceeds 30 days —
        # min(existing, 60), exactly metadata.py:398-407.
        "Timeliness": F.when(
            c("age_days") > TIMELINESS_MAX_AGE_DAYS,
            F.least(F.lit(90), F.lit(TIMELINESS_CAP)),
        ).otherwise(90),
        "Validity": F.when(c("n_chars") == 0, 50)
        .when(c("alpha_space_ratio") >= ALPHA_SPACE_MIN, 90)
        .otherwise(40),
        "Uniqueness": F.when(c("is_dup"), 0).otherwise(100),
        "Reliability": F.when(
            c("sr_hz").isin(*VALID_SR_HZ) & (c("codec") == KNOWN_CODEC), 90
        ).otherwise(30),
        "Relevance": F.when(
            (c("lang") == EXPECTED_LANG) & (c("lang_conf") >= LANG_CONF_MIN), 90
        )
        .when(c("lang") == EXPECTED_LANG, 70)
        .otherwise(20),
        "Accessibility": F.when(c("decode_ok"), 95).otherwise(0),
        "Precision": F.when(c("sr_hz").isin(*VALID_SR_HZ), 90).otherwise(30),
        "Integrity": F.when(~c("decode_ok"), 50)
        .when(F.abs(_dur_dec() - c("dur_ms")) > DUR_MISMATCH_MS, 30)
        .otherwise(90),
        "Conformity": F.when(c("codec") == KNOWN_CODEC, 90).otherwise(30),
        "Interpretability": F.when(c("ppl") <= PPL_GOOD, 90)
        .when(c("ppl") <= PPL_OK, 70)
        .otherwise(25),
        "Traceability": F.when(
            c("clip_id").rlike(r"^clip_[0-9]{12}$"), 95
        ).otherwise(40),
        "Credibility": F.lit(CREDIBILITY_DEFAULT),
        "Fitness_for_Use": F.when(fit_bad, 30).otherwise(85),
        "Value": F.when((c("pii_hits") > 0) | (c("toxic_hits") > 0), 10).otherwise(
            90
        ),
    }


def dimension_evidence_exprs() -> dict[str, Column]:
    """Short deterministic evidence strings (reference record shape,
    metadata.py:437-451); computed natively with format_string.

    Float interpolations round to the printed precision BEFORE formatting:
    ``%.Nf`` alone is engine-dependent at exact decimal midpoints of the
    binary double (Java Formatter HALF_UP vs C/fmt round-half-even — e.g.
    331.25 prints '331.3' vs '331.2'), while formatting an already-rounded
    double is unambiguous everywhere. This pins HALF_UP tie semantics and
    makes the text bit-reproducible across engines (the DuckDB oracle in
    queries.clips_evidence_strings recomputes it with printf(round(...)))."""
    c = F.col
    return {
        "Accuracy": F.format_string(
            "decode_ok=%s silent=%s clip_ratio=%.4f",
            c("decode_ok").cast("string"), c("is_silent").cast("string"),
            F.round(c("clip_ratio"), 4),
        ),
        "Completeness": F.format_string(
            "n_tokens=%d chars_per_sec=%.1f", c("n_tokens"), F.round(_cps(), 1)
        ),
        "Consistency": F.format_string(
            "distinct=%d of %d tokens", c("n_distinct"), c("n_tokens")
        ),
        "Timeliness": F.when(
            c("age_days") > TIMELINESS_MAX_AGE_DAYS,
            F.format_string(
                "Timeliness score adjusted: upload age %d days exceeds 30-day threshold",
                c("age_days"),
            ),
        ).otherwise(
            F.format_string("Timeliness satisfied: upload age %d days", c("age_days"))
        ),
        "Validity": F.format_string(
            "alpha_space_ratio=%.3f", F.round(c("alpha_space_ratio"), 3)
        ),
        "Uniqueness": F.when(c("is_dup"), F.lit("near-duplicate detected")).otherwise(
            F.lit("no duplicate found")
        ),
        "Reliability": F.format_string("sr_hz=%d codec=%s", c("sr_hz"), c("codec")),
        "Relevance": F.format_string(
            "lang=%s conf=%.3f", c("lang"), F.round(c("lang_conf"), 3)
        ),
        "Accessibility": F.when(c("decode_ok"), F.lit("audio decodable")).otherwise(
            F.lit("audio decode failed")
        ),
        "Precision": F.format_string("sr_hz=%d", c("sr_hz")),
        "Integrity": F.format_string(
            "decoded_ms=%.0f declared_ms=%d", F.round(_dur_dec(), 0), c("dur_ms"),
        ),
        "Conformity": F.format_string("codec=%s", c("codec")),
        "Interpretability": F.format_string("perplexity=%.1f", F.round(c("ppl"), 1)),
        "Traceability": F.format_string("clip_id=%s", c("clip_id")),
        "Credibility": F.lit("default source trust"),
        "Fitness_for_Use": F.format_string(
            "lang=%s ppl=%.1f n_tokens=%d", c("lang"), F.round(c("ppl"), 1),
            c("n_tokens")
        ),
        "Value": F.format_string(
            "pii_hits=%d toxic_hits=%d", c("pii_hits"), c("toxic_hits")
        ),
    }


def with_dimensions(df: DataFrame, include_evidence: bool = True) -> DataFrame:
    """Attach ``dimensions`` struct<name: struct<score:int, evidence:string>>
    plus flat ``score_<name>`` ints (kept flat for cheap downstream math)."""
    scores = dimension_score_exprs()
    ev = dimension_evidence_exprs() if include_evidence else {}
    df = df.withColumns({f"score_{name}": expr.cast("int")
                         for name, expr in scores.items()})
    fields = []
    for name in DIMENSIONS:
        inner = [F.col(f"score_{name}").alias("score")]
        inner.append(
            (ev[name] if include_evidence else F.lit("")).alias("evidence")
        )
        fields.append(F.struct(*inner).alias(name))
    return df.withColumn("dimensions", F.struct(*fields))


def with_policy(df: DataFrame) -> DataFrame:
    """P3 overall + P4 action + binary keep label, all native."""
    total = None
    for name in DIMENSIONS:
        col = F.col(f"score_{name}")
        total = col if total is None else total + col
    overall = F.round(total / F.lit(float(len(DIMENSIONS))), 0).cast("int")
    df = df.withColumn("overall_quality_score", overall)
    action = (
        F.when(F.col("overall_quality_score") >= ACTION_KEEP, "KEEP")
        .when(F.col("overall_quality_score") >= ACTION_REVIEW, "REVIEW")
        .when(F.col("overall_quality_score") >= ACTION_QUARANTINE, "QUARANTINE")
        .otherwise("DISCARD")
    )
    return df.withColumns({"recommended_action": action, "keep": action == "KEEP"})


# --------------------------------------------------------------- oracle side

def py_dimension_scores(s: dict) -> dict[str, int]:
    """Pure-Python mirror of :func:`dimension_score_exprs` over a signal dict.

    Used by the oracle (``oracle/policy.py``) — kept adjacent to the Spark
    exprs so the two renderings of each rule are reviewable side by side.
    """
    cps = s["n_chars"] / (s["dur_ms"] / 1000.0) if s["dur_ms"] else 0.0
    repetition = 1.0 - s["n_distinct"] / s["n_tokens"] if s["n_tokens"] else 0.0
    dur_dec = (
        s["n_samples"] * 1000.0 / s["header_sr_hz"] if s["header_sr_hz"] else 0.0
    )
    fit_bad = (
        s["n_tokens"] == 0
        or s["ppl"] > PPL_OK
        or s["lang"] != EXPECTED_LANG
        or s["is_silent"]
        or not s["decode_ok"]
    )
    return {
        "Accuracy": 50 if not s["decode_ok"] else (
            0 if s["is_silent"] else (40 if s["clip_ratio"] > CLIP_RATIO_MAX else 90)
        ),
        "Completeness": 0 if s["n_tokens"] == 0 else (
            40 if (cps < CPS_MIN or cps > CPS_MAX) else 90
        ),
        "Consistency": 50 if s["n_tokens"] == 0 else (
            40 if repetition > REPETITION_MAX else 90
        ),
        "Timeliness": min(90, TIMELINESS_CAP)
        if s["age_days"] > TIMELINESS_MAX_AGE_DAYS
        else 90,
        "Validity": 50 if s["n_chars"] == 0 else (
            90 if s["alpha_space_ratio"] >= ALPHA_SPACE_MIN else 40
        ),
        "Uniqueness": 0 if s["is_dup"] else 100,
        "Reliability": 90
        if (s["sr_hz"] in VALID_SR_HZ and s["codec"] == KNOWN_CODEC)
        else 30,
        "Relevance": 90
        if (s["lang"] == EXPECTED_LANG and s["lang_conf"] >= LANG_CONF_MIN)
        else (70 if s["lang"] == EXPECTED_LANG else 20),
        "Accessibility": 95 if s["decode_ok"] else 0,
        "Precision": 90 if s["sr_hz"] in VALID_SR_HZ else 30,
        "Integrity": 50 if not s["decode_ok"] else (
            30 if abs(dur_dec - s["dur_ms"]) > DUR_MISMATCH_MS else 90
        ),
        "Conformity": 90 if s["codec"] == KNOWN_CODEC else 30,
        "Interpretability": 90 if s["ppl"] <= PPL_GOOD else (
            70 if s["ppl"] <= PPL_OK else 25
        ),
        "Traceability": 95 if CLIP_ID_RE.match(s["clip_id"] or "") else 40,
        "Credibility": CREDIBILITY_DEFAULT,
        "Fitness_for_Use": 30 if fit_bad else 85,
        "Value": 10 if (s["pii_hits"] > 0 or s["toxic_hits"] > 0) else 90,
    }


def py_overall(scores: dict[str, int]) -> int:
    """P3 — round(mean of 17), default 50 if empty (metadata.py:419-421)."""
    if not scores:
        return 50
    return int(round(sum(scores.values()) / float(len(scores))))


def py_action(overall: int) -> str:
    """P4 — metadata.py:425-433."""
    if overall >= ACTION_KEEP:
        return "KEEP"
    if overall >= ACTION_REVIEW:
        return "REVIEW"
    if overall >= ACTION_QUARANTINE:
        return "QUARANTINE"
    return "DISCARD"
