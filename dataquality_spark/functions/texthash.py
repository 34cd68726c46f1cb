"""Deterministic text hashing + tokenization shared by scorers, MinHash and
the oracle.

Tokenization mirrors the reference's metadata-similarity tokenizer —
lowercase, split on ``\\W+``, drop empties (``backend/app/services/
metadata.py:218-226``).  Hashes are CRC32-based so they are identical in the
Spark pandas-UDF workers, the pure-Python oracle, and any test process (no
PYTHONHASHSEED dependence).
"""

from __future__ import annotations

import re
import zlib

import numpy as np

_TOKEN_RE = re.compile(r"\W+", re.UNICODE)

# Mersenne prime used by the MinHash universal-hash family.
MERSENNE_P = (1 << 61) - 1


def tokenize(text: str) -> list[str]:
    """lowercase, split \\W+, drop empties — reference metadata.py:218-226."""
    if not text:
        return []
    return [t for t in _TOKEN_RE.split(text.lower()) if t]


def token_hashes(tokens: list[str]) -> np.ndarray:
    """Distinct stable 32-bit hashes of a token list (set semantics)."""
    if not tokens:
        return np.empty(0, dtype=np.uint64)
    return np.unique(
        np.fromiter((zlib.crc32(t.encode("utf-8")) for t in tokens), dtype=np.uint64)
    )


def text_hash64(text: str) -> int:
    """Stable 64-bit content hash of a string (two CRC32 lanes)."""
    b = text.encode("utf-8")
    return (zlib.crc32(b) << 32) | zlib.crc32(b[::-1])


def char_ngrams_hashed(text: str, n: int, dim: int) -> np.ndarray:
    """Bucket indices of the char n-grams of ``text`` (vectorized).

    Uses a polynomial rolling hash over code points so the result is
    identical across processes.
    """
    if not text or len(text) < n:
        return np.empty(0, dtype=np.int64)
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    h = np.zeros(len(codes) - n + 1, dtype=np.uint64)
    for j in range(n):
        h = h * np.uint64(1000003) + codes[j : len(codes) - n + 1 + j]
    return (h % np.uint64(dim)).astype(np.int64)
