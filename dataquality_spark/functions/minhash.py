"""MinHash signatures + LSH banding + hashed bag-of-words vectors.

These replace the reference's O(n^2) embedding-cosine near-dup detection
(``backend/app/services/metadata.py:514-624``) with the classic scalable
layout: per-row MinHash signature -> band hashes -> equi-join candidate
generation -> exact verification on candidates only (so LSH affects recall,
never precision — SURVEY.md §7.3).

The hashed-TF ``bow_vector`` is the deterministic stand-in for the
reference's embedding fallback chain (full-doc -> summary -> bag-of-words,
``metadata.py:538-587``); unlike the reference we hoist it to once-per-row.

All functions are numpy-batch; fixed-seed universal hashing
``h_i(x) = (a_i * x + b_i) mod p`` over CRC32 token hashes.
"""

from __future__ import annotations

import numpy as np

from ..datagen.corpus import rand_ints
from .texthash import MERSENNE_P, token_hashes, tokenize

NUM_PERM = 64
BANDS = 16
ROWS_PER_BAND = NUM_PERM // BANDS
BOW_DIM = 256
_SEED = 0x5EED


def _perm_params(num_perm: int = NUM_PERM) -> tuple[np.ndarray, np.ndarray]:
    ints = rand_ints(_SEED, 1, num_perm * 2)
    a = np.array([1 + (v % (MERSENNE_P - 1)) for v in ints[:num_perm]], dtype=np.uint64)
    b = np.array([v % MERSENNE_P for v in ints[num_perm:]], dtype=np.uint64)
    return a, b


_A, _B = _perm_params()
_EMPTY_SIG = np.full(NUM_PERM, MERSENNE_P, dtype=np.uint64)


def minhash_signature(tokens: list[str]) -> np.ndarray:
    """MinHash signature (uint64[NUM_PERM]) of a token *set*."""
    return _signature_from_hashes(token_hashes(tokens))


def _signature_from_hashes(th: np.ndarray) -> np.ndarray:
    if th.size == 0:
        return _EMPTY_SIG.copy()
    # (num_perm, n_tokens) universal hashes; min over tokens.
    hv = (_A[:, None] * th[None, :] + _B[:, None]) % np.uint64(MERSENNE_P)
    return hv.min(axis=1)


def band_hashes(sig: np.ndarray) -> np.ndarray:
    """Collapse each band of the signature to one int64 join key."""
    bands = sig.reshape(BANDS, ROWS_PER_BAND).astype(np.uint64)
    h = np.zeros(BANDS, dtype=np.uint64)
    for j in range(ROWS_PER_BAND):
        h = h * np.uint64(1000003) + bands[:, j]
    return (h & np.uint64(0x7FFFFFFFFFFFFFFF)).astype(np.int64)


def bow_vector(tokens: list[str], dim: int = BOW_DIM) -> np.ndarray:
    """L2-normalized hashed term-frequency vector (float32[dim])."""
    v = np.zeros(dim, dtype=np.float64)
    if tokens:
        th = token_hashes_all(tokens) % dim
        np.add.at(v, th, 1.0)
        n = np.linalg.norm(v)
        if n > 0:
            v /= n
    return v.astype(np.float32)


def token_hashes_all(tokens: list[str]) -> np.ndarray:
    """Stable hashes of tokens WITH multiplicity (for TF vectors)."""
    import zlib

    return np.fromiter(
        (zlib.crc32(t.encode("utf-8")) for t in tokens), dtype=np.uint64, count=len(tokens)
    )


def minhash_jaccard_estimate(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    return float(np.mean(sig_a == sig_b))


def exact_jaccard(tokens_a: list[str], tokens_b: list[str]) -> float:
    sa, sb = set(tokens_a), set(tokens_b)
    if not sa and not sb:
        return 0.0
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


def signature_frame(texts) -> dict[str, list]:
    """Batch: transcripts -> dict with tokens, distinct token hashes,
    minhash sig, band hashes, bow.

    One tokenize pass per row feeds all derived columns.  ``minhash_sig``
    and ``bow`` are emitted as packed little-endian byte blobs (uint64[64] /
    float32[256]) — a BinaryType column crosses the Arrow boundary and the
    JVM row format as one memcpy instead of 64/256 boxed elements, which
    measurably dominates the enrich stage cost at scale.  ``tok_hashes``
    (sorted distinct CRC32 token hashes, int64) is what the dedup exact
    verifier consumes — exact set-Jaccard becomes a native
    ``array_intersect`` over ints, and the shuffled payload is ~8 B/token
    instead of the token strings themselves.
    """
    toks_col: list[list[str]] = []
    th_col: list[list[int]] = []
    sig_col: list[bytes] = []
    band_col: list[list[int]] = []
    bow_col: list[bytes] = []
    for t in texts:
        toks = tokenize(t if t is not None else "")
        th = token_hashes(toks)  # sorted distinct (np.unique)
        sig = _signature_from_hashes(th)
        toks_col.append(toks)
        th_col.append(th.astype(np.int64).tolist())
        sig_col.append(sig.astype("<u8").tobytes())
        band_col.append(band_hashes(sig).tolist())
        bow_col.append(bow_vector(toks).astype("<f4").tobytes())
    return {
        "tokens": toks_col, "tok_hashes": th_col, "minhash_sig": sig_col,
        "bands": band_col, "bow": bow_col,
    }


def unpack_bow(blob: bytes) -> np.ndarray:
    """Inverse of the ``signature_frame`` bow packing."""
    return np.frombuffer(blob, dtype="<f4")
