"""Scalable near-duplicate detection (reference J1-J5 / P5-P6).

The reference runs a single-threaded O(n^2) nested loop over all successful
files — metadata-similarity gate >= 0.7, then embedding cosine >= 0.95
(``backend/app/services/metadata.py:514-624``).  At 10^12 rows that is
impossible; this operator keeps the *decision rule* exact while making the
*search* scale.  The funnel, cheapest-per-pair first, with the per-pair
payload attached only after banding has shrunk the pair count:

1. **Exact-group collapse** (skew defusal): group by transcript content hash
   with a map-side-combinable ``min/count`` agg — the pathological "5% of all
   rows identical" hot cluster never enters the pairwise stage.  Members of a
   group of size >= 2 are duplicates by definition (gate=1, cos=1) and are
   reported as linear star edges (rep, member) instead of the reference's
   quadratic all-pairs (documented deviation; the full pair set is the
   transitive closure within each equal-transcript group).
2. **MinHash/LSH banding** over one representative per group: explode slim
   (band_idx, band_hash, lang) rows — heavy payloads never enter this
   shuffle — and equi-self-join on the band key.  ``lang`` rides in the join
   key because the reference's gate needs 0.5*exact-type-match and 0.5 < 0.7
   makes cross-lang duplicates impossible (P6, metadata.py:213-243).
3. **One attach, then the native exact Jaccard**: two equi-joins attach
   each side's sorted-distinct token-hash array, packed 64-perm MinHash
   signature (512 B) and hashed-BoW vector (1 KB) together (Catalyst
   picks broadcast/shuffle-hash; AQE splits skew), and
   ``array_intersect``/``size`` compute the exact set Jaccard inside
   whole-stage codegen before the token arrays are dropped.
4. **One Arrow pass and the rule in one place**: ONE vectorized pass
   computes, per pair, the Jaccard estimate (the fraction of agreeing
   signature slots) and the float64 einsum cosine, passing the exact
   Jaccard through.  est sigma ~= sqrt(J(1-J)/64) ~= 0.06; pairs under
   EST_PREFILTER cannot reach the exact gate (J >= 0.4) and are dropped.
   Each survivor then carries the exact gate (0.5 + 0.5*J) and
   ``is_duplicate`` (gate >= 0.7 and cos >= 0.95) in one persisted frame
   of decided pairs that both reports and the flags filter.  The payload
   is not held back for later survivors: after the MIN_SHARED_BANDS
   filter the estimate drops few candidates (measured 7 of 1,371 at
   5,000 clips, 95 of 20,280 at 20,000), and the token arrays are small
   next to the signature and BoW (~390 B a pair against ~3 KB at 5,000
   clips), so a second attach round would cost two joins for no saved
   traffic.  Exact set Jaccard decides the gate, so the decision is
   exact on every surviving pair — LSH banding and the estimate
   prefilter affect recall only (SURVEY §7.3), and both sit multiple
   sigma below what a true duplicate (cos >= 0.95 implies near-identical
   token sets) can evade.

One body (:func:`_dedup`) runs every stage for both :func:`dedup` and
:func:`dedup_increment`: the full run is the increment with every clip
new.  Its flag step returns the input rows with ``is_dup``/``dup_of``
attached, read off the one join of the rows to their exact groups, so the
pipeline scores them without joining flags back.

``similarity_pairs`` reporting — a deliberate, documented deviation: the
reference appends EVERY compared pair to its report unconditionally before
the gate check (metadata.py:592-599), which is the O(n^2) pair list itself
and cannot exist at scale.  This operator reports the pairs whose
(estimated or exact) gate reaches the 0.7 decision threshold, with exact
gate values on the verified pairs and the 64-slot signature estimate
elsewhere.  Every ``is_duplicate`` pair is guaranteed present (both
reports filter the same frame of decided pairs, and the similarity
report keeps a verified pair regardless of its estimated gate), so the
two outputs can never disagree.

Hot band buckets are defused by BUCKET_CAP star edges (see
:func:`_band_windows`); AQE skew-join handles residual skew in the payload
attach joins.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import cached

# P5 thresholds — metadata.py:536, :599; README.md:50-53
DUP_GATE_MIN = 0.7
DUP_COS_MIN = 0.95
LANG_UNKNOWN = "und"
# Prefilter on the 64-slot MinHash estimate of Jaccard.  The exact gate
# needs J >= 0.4 (gate = 0.5 + 0.5*J >= 0.7); at J = 0.4 the estimator's
# sigma is ~0.061, so 0.25 sits 2.5 sigma below the gate.  Recall-only:
# pairs dropped here can never flip a keep/drop decision that the exact
# path would have flipped the other way (precision stays exact).
EST_PREFILTER = 0.25
# Candidates must agree on >= 2 of the 16 LSH bands (see the filter site).
# Edge case this trades away: a repetitive transcript can reach cos >= 0.95
# on hashed-TF vectors with set-Jaccard only ~0.45, where P(>= 2 of 16
# bands) drops to ~14% — such pairs are under-recalled.  Accepted as part
# of the documented recall-only approximation; the synthetic corpus and
# golden suite contain no such pair, and production tuning would lower
# this to 1 (or exempt high-max-token-frequency rows) if they mattered.
MIN_SHARED_BANDS = 2
# Band buckets larger than this emit linear star edges instead of all
# pairs (duplicate-cluster skew defusal; see the candidate-generation site).
BUCKET_CAP = 128


class DedupResult(NamedTuple):
    flagged: DataFrame      # input rows + is_dup (not null), dup_of (rep or null)
    duplicate_pairs: DataFrame   # clip_1 < clip_2, sims (0-100, 2dp)
    similarity_pairs: DataFrame  # gate >= 0.7 pairs + cosine (P5 reporting)

    @property
    def flags(self) -> DataFrame:
        """clip_id, is_dup, dup_of: the slim projection of ``flagged``."""
        return self.flagged.select("clip_id", "is_dup", "dup_of")


def _eligible_col() -> F.Column:
    # Reference gate requires a non-empty doc type + token overlap; rows with
    # unknown language or no tokens can never reach gate >= 0.7.
    return (F.col("lang") != LANG_UNKNOWN) & (F.col("n_tokens") > 0)


def exact_groups(enriched: DataFrame, *aggs: F.Column) -> DataFrame:
    """t_hash -> (rep_id, group_size, *aggs); map-side combinable,
    skew-safe. The representative is the group's min clip_id."""
    return enriched.groupBy("t_hash").agg(
        F.min("clip_id").alias("rep_id"), F.count("*").alias("group_size"), *aggs
    )


def _attach_both(pairs: DataFrame, feats: DataFrame, cols: list[str]) -> DataFrame:
    """pairs(id_a, id_b, ...) x feats(clip_id, *cols) -> + <col>_a, <col>_b
    for each col, via two equi-joins (Catalyst picks the strategy, AQE
    handles skew)."""
    def side(s: str) -> DataFrame:
        return feats.select(F.col("clip_id").alias(f"id_{s}"),
                            *(F.col(c).alias(f"{c}_{s}") for c in cols))

    return pairs.join(side("a"), "id_a").join(side("b"), "id_b")


def _est_cos(pairs: DataFrame) -> DataFrame:
    """One vectorized Arrow pass over each pair's (sig, bow) blobs: the
    MinHash-agreement estimate of Jaccard and the hashed-BoW cosine, with
    the exact ``jaccard`` passed through."""

    def est_cos(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            sig_a, sig_b, bow_a, bow_b = (
                np.frombuffer(b"".join(pdf[col]), dtype=dtype).reshape(len(pdf), -1)
                for col, dtype in (("minhash_sig_a", "<u8"), ("minhash_sig_b", "<u8"),
                                   ("bow_a", "<f4"), ("bow_b", "<f4"))
            )
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].values,
                    "id_b": pdf["id_b"].values,
                    "jaccard": pdf["jaccard"].values,
                    "est_jaccard": (sig_a == sig_b).mean(axis=1),
                    # float64 accumulation: keeps the dot bit-comparable with
                    # the float64 list-arithmetic the DuckDB oracle runs on
                    # the same float32 vector values (clips_duplicate_pairs
                    # correctness gate).
                    "cos": np.einsum("ij,ij->i", bow_a.astype(np.float64),
                                     bow_b.astype(np.float64)),
                }
            )

    return pairs.mapInPandas(
        est_cos,
        schema="id_a string, id_b string, jaccard double, est_jaccard double, "
               "cos double",
    )


def _band_windows(exploded: DataFrame) -> DataFrame:
    """Per-bucket size and leader over exploded (clip_id, lang, is_new,
    band_idx, band_hash) rows; ``leader`` is the struct (clip_id, is_new)
    of the bucket's min clip_id.

    Duplicate-cluster skew defusal (north rule): a planted hot cluster
    puts thousands of near-identical clips into ONE band bucket, and the
    all-pairs self-join would emit C(k,2) rows from a single non-splittable
    join key (one task emitting 10^7+ pairs serializes the whole stage —
    measured: 8-core wall time doubled at 640k clips).  Buckets over
    BUCKET_CAP therefore emit linear star edges (bucket leader, member)
    instead of all pairs: at that size the bucket is a tight duplicate
    cluster (random band collisions measured p99.9 = 35 members), every
    member matches the leader, and the flags/transitive semantics match
    the exact-group star-edge deviation documented above.  Buckets at or
    under the cap keep exact all-pairs.

    Size/leader come from a WINDOW over the band key, not a groupBy +
    join-back: one exchange instead of three, and the band self-join then
    reuses the window's hash partitioning (both sides derive from the
    same frame), so candidate generation runs exchange-free after the
    single band-key shuffle.  Giving up AQE skew-splitting on that join is
    safe BY CONSTRUCTION: only bsize <= BUCKET_CAP rows enter it, so the
    worst key's join work is bounded at C(cap, 2) per band — the cap, not
    AQE, is the skew defusal here."""
    bw = Window.partitionBy("band_idx", "band_hash", "lang")
    return exploded.withColumns({
        "bsize": F.count("*").over(bw),
        "leader": F.min(F.struct("clip_id", "is_new")).over(bw),
    })


def _verify(cand: DataFrame, feats: DataFrame) -> DataFrame:
    """Funnel stages 3-4 over candidate pairs (id_a < id_b): one persisted
    frame of decided pairs (clip_1, clip_2, est_jaccard, cos, gate,
    is_duplicate) — ``gate`` exact (P6), ``is_duplicate`` the P5 rule —
    that both reports and the flags filter.

    The exact Jaccard runs before the Arrow pass, in codegen: per-clip
    hash arrays are distinct and ``array_intersect`` returns distinct
    elements, so |A∩B| is exact.  Joins and not a cogroup
    (``applyInPandas``), which would send the whole tokens table through
    the Arrow boundary twice (~26 s of wall at 640k clips / 8 cores)."""
    j = _attach_both(cand, feats, ["tok_hashes", "minhash_sig", "bow"])
    a_h, b_h = F.col("tok_hashes_a"), F.col("tok_hashes_b")
    inter = F.size(F.array_intersect(a_h, b_h)).cast("double")
    union = F.size(a_h).cast("double") + F.size(b_h).cast("double") - inter
    jaccard = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    est = _est_cos(
        j.withColumn("jaccard", jaccard).drop("tok_hashes_a", "tok_hashes_b")
    ).filter(F.col("est_jaccard") >= EST_PREFILTER)
    # P6: lang equality is guaranteed by the band join key -> 0.5 + 0.5*jac
    gate = F.lit(0.5) + F.lit(0.5) * F.col("jaccard")
    return cached(
        est.select(
            F.col("id_a").alias("clip_1"), F.col("id_b").alias("clip_2"),
            "est_jaccard", "cos", gate.alias("gate"),
        ).withColumn(
            "is_duplicate",
            (F.col("cos") >= DUP_COS_MIN) & (F.col("gate") >= DUP_GATE_MIN),
        )
    )


def _dedup(marked: DataFrame) -> DedupResult:
    """The one dedup body: flag the rows of ``marked`` whose ``is_new`` is
    true against all of its rows, and report only pairs touching a new
    row.  :func:`dedup` marks every row new (Catalyst folds the literal out
    of every filter above the caches; the cached ``feats`` carry it as a
    column that passes every row), :func:`dedup_increment` a landed slice.

    ``marked`` joins the exact groups once, on ``t_hash``, keeping every
    column: the representatives' features, the star edges and the flagged
    rows are filters of that one frame.  A join and not a window over
    ``t_hash``, because a window puts a whole hot exact-duplicate cluster
    into one task, while the aggregate combines map-side and AQE can split
    the skewed side of a join.  The representative's and the band leader's
    new-ness come from the same aggregate and window as their ids
    (``min(struct(clip_id, is_new))``; clip ids are unique).

    Semantics are append-only: a new row that matches an existing
    representative is flagged as the duplicate; the existing row stays
    canonical (its historical flag is not rewritten — same asymmetry as
    the star-edge deviation).  Candidate generation joins ``new-side bands
    × all bands``, so for a small slice the join and everything downstream
    scale with |new| × collision rate, not |corpus|²."""
    # groups feeds the one membership join; feats feed the band explode
    # and both sides of the one attach; the decided pairs (_verify) feed
    # both reports and the flags — without a persist each consumer re-runs
    # the upstream agg/joins (measured ~2x on the whole dedup stage). Slim
    # columns only; MEMORY_AND_DISK spills at scale.
    # Every persist goes through caching.cached() so callers can
    # caching.release_all() once outputs are materialized (paired
    # persist/unpersist lifecycle — bench, scaling job, catalog runner and
    # the pytest fixture all release).
    rep = F.min(F.struct("clip_id", "is_new"))
    groups = cached(exact_groups(marked, rep["is_new"].alias("rep_is_new")))
    rows = marked.withColumn("eligible", _eligible_col()).join(groups, "t_hash")

    # exact duplicates as linear star edges (rep, member) touching a new row
    exact_pairs = rows.filter(
        F.col("eligible") & (F.col("group_size") >= 2)
        & (F.col("clip_id") != F.col("rep_id"))
        & (F.col("is_new") | F.col("rep_is_new"))
    ).select(
        F.col("rep_id").alias("clip_1"),
        F.col("clip_id").alias("clip_2"),
        F.lit(100.0).alias("metadata_similarity"),
        F.lit(100.0).alias("similarity"),
        F.lit(True).alias("is_duplicate"),
    )

    # --- LSH candidates over the eligible representatives ------------------
    feats = cached(
        rows.filter(F.col("eligible") & (F.col("clip_id") == F.col("rep_id")))
        .select("clip_id", "lang", "is_new", "tok_hashes", "bow", "bands",
                "minhash_sig")
    )
    exploded = _band_windows(feats.select(
        "clip_id", "lang", "is_new",
        F.posexplode("bands").alias("band_idx", "band_hash"),
    ))
    small = exploded.filter(F.col("bsize") <= BUCKET_CAP)
    big_edges = (
        exploded.filter(
            (F.col("bsize") > BUCKET_CAP)
            & (F.col("clip_id") != F.col("leader.clip_id"))
            & (F.col("is_new") | F.col("leader.is_new"))
        )
        # leader = min(clip_id) in the bucket -> leader < member
        .select(F.col("leader.clip_id").alias("id_a"),
                F.col("clip_id").alias("id_b"), "band_idx")
    )
    # new-side × all-side band join: output is only pairs touching new
    a = small.filter(F.col("is_new")).alias("a")
    b = small.alias("b")
    small_pairs = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.lang") == F.col("b.lang"))
        # a new×new pair is emitted once, from its smaller id's side
        & (~F.col("b.is_new") | (F.col("a.clip_id") < F.col("b.clip_id"))),
    ).select(
        F.least("a.clip_id", "b.clip_id").alias("id_a"),      # A8 normalize
        F.greatest("a.clip_id", "b.clip_id").alias("id_b"),
        F.col("a.band_idx").alias("band_idx"),
    )
    cand = (
        # small and big buckets are disjoint: no (pair, band) is emitted twice
        small_pairs.unionByName(big_edges)
        .groupBy("id_a", "id_b")  # A8 pair dedup across bands, counting
        .agg(F.count("*").alias("n_bands"))
        # Multi-band rule: a true duplicate (cos >= 0.95 -> J ~ 0.9) matches
        # a 4-row band with p = J^4 ~ 0.66 and >= 2 of 16 bands with
        # p > 0.9999996; single-band pairs are ~85% of candidates at test SF
        # and are overwhelmingly hash noise (measured: 7.7M of 9.0M at 160k
        # clips). This prunes them before any per-pair payload attaches.
        .filter(F.col("n_bands") >= MIN_SHARED_BANDS)
        .select("id_a", "id_b")
    )
    pairs = _verify(cand, feats)

    # --- P5 reporting: one select over the decided pairs --------------------
    # similarity_pairs keeps the pairs whose estimated gate reaches 0.7 and
    # every verified pair, even one whose estimate dips under 0.7 (possible
    # for repetitive transcripts: exact set-Jaccard just above 0.4), so the
    # two reports can never disagree on membership.  A verified pair
    # reports its exact gate, every other pair the estimate.
    near = F.col("is_duplicate")
    est_gate = F.lit(0.5) + F.lit(0.5) * F.col("est_jaccard")

    def report(keep: F.Column) -> DataFrame:
        return pairs.filter(keep).select(
            "clip_1", "clip_2",
            # C7 percent formatting — metadata.py:595-596
            F.round(F.when(near, F.col("gate")).otherwise(est_gate) * 100.0, 2)
            .alias("metadata_similarity"),
            F.round(F.col("cos") * 100.0, 2).alias("similarity"),
            "is_duplicate",
        )

    verified = report(near)
    similarity_pairs = report((est_gate >= DUP_GATE_MIN) | near).orderBy(
        F.desc("similarity"), "clip_1", "clip_2"
    )  # O2
    duplicate_pairs = exact_pairs.unionByName(verified).orderBy(
        F.desc("similarity"), "clip_1", "clip_2"
    )  # O3

    # --- flags: a clip is a duplicate when its exact group has >= 2 members
    # or its representative is in a verified near-dup pair (symmetric
    # attachment, metadata.py:608-617).  Broadcast by plan, not by AQE at
    # run time: two ids per verified pair, and AQE's choice depended on
    # whether the rows' shuffle had started before the decided pairs were
    # materialized, so the rows were shuffled on rep_id in some runs only.
    near_rep_ids = F.broadcast(
        verified.select(
            F.explode(F.array("clip_1", "clip_2")).alias("rep_id")
        )
        .distinct()
        .withColumn("rep_near_dup", F.lit(True))
    )
    is_dup = F.coalesce(F.col("eligible") & (
        (F.col("group_size") >= 2)
        | F.coalesce(F.col("rep_near_dup"), F.lit(False))
    ), F.lit(False))
    keep = [c for c in marked.columns if c not in ("is_new", "is_dup", "dup_of")]
    flagged = (
        rows.filter(F.col("is_new"))
        .join(near_rep_ids, "rep_id", "left")
        .select(
            *keep,
            is_dup.alias("is_dup"),
            F.when(is_dup & (F.col("clip_id") != F.col("rep_id")),
                   F.col("rep_id")).alias("dup_of"),
        )
    )
    return DedupResult(flagged, duplicate_pairs, similarity_pairs)


def dedup(enriched: DataFrame) -> DedupResult:
    """Near-dup detection over a whole corpus: the increment with every
    clip new."""
    return _dedup(enriched.withColumn("is_new", F.lit(True)))


def dedup_increment(enriched_all: DataFrame, new_ids: DataFrame) -> DedupResult:
    """Incremental near-dup detection: flag a NEW slice of clips against
    the full corpus without recomputing corpus×corpus pairs.

    The production shape for continuously-landing data: the committed
    enriched table (checkpoint.py) holds every prior slice; each new batch
    only needs pairs that TOUCH a new row.

    ``new_ids``: single-column ``clip_id`` frame naming the new slice.
    Returns a :class:`DedupResult` whose ``flagged`` rows are ONLY the new
    rows; both pair outputs contain only pairs touching a new row, and
    equal the full run's outputs restricted to those pairs.

    Verified in tests/test_dedup_incremental.py: incremental flags and
    pairs == the full run's restricted to the new slice, on a corpus whose
    planted duplicate clusters straddle the old/new boundary.
    """
    new = new_ids.select("clip_id").withColumn("is_new", F.lit(True))
    return _dedup(
        enriched_all.join(new, "clip_id", "left").fillna({"is_new": False})
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over an undirected pair graph by iterative
    min-label propagation (the Pregel shape on DataFrames).

    ``edges`` carries columns (id_a, id_b); ``nodes`` a single column
    ``node`` (isolated nodes become their own singleton component).
    Returns (node, component) where component = min node id reachable.

    Convergence / scale notes:

    * labels only ever DECREASE (``least``), so ``sum(label)`` is a
      strictly decreasing sequence — the driver-side loop stops on the
      first round where the sum is unchanged.  That fixpoint check is a
      single scalar aggregate per round, not a join-compare.  The sum
      runs over DECIMAL(38,0): 10^12 nodes carrying 64-bit hash ids sum
      to ~10^31, which overflows a BIGINT (ANSI abort — or worse, a
      silent wrap that could fake convergence) but fits DECIMAL
      exactly.
    * each round's frame is ``localCheckpoint``ed: without truncation
      the logical plan doubles per iteration and Catalyst planning time
      explodes long before the data does.  On a production cluster this
      would be a reliable-storage checkpoint instead (lineage must not
      pin executors at 10^12 rows).
    * rounds needed = graph diameter, and near-dup graphs are
      overwhelmingly star/clique-shaped (diameter 2-3); ``max_iters``
      is a runaway guard, not a tuning knob.  A RuntimeError at the cap
      is a red flag about the edge set, not something to bump.
    * every step is an equi-join / keyed aggregation on slim int rows —
      AQE re-plans the propagation join when components skew.
    """
    und = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint()

    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _label_sum(labels)
    for _ in range(max_iters):
        nbr_min = (
            und.join(labels, und.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:
            return labels.select("node", F.col("label").alias("component"))
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds"
    )
