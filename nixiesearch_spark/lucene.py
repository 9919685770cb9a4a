"""Bit-exact numpy re-implementation of the Lucene 10.3 scoring math the
reference inherits (no ``setSimilarity`` override anywhere in the reference
main source ⇒ default ``BM25Similarity`` with k1=1.2, b=0.75; Lucene pinned at
10.3.2 in reference ``project/Deps.scala:11``).

Pieces reproduced:

- ``SmallFloat.intToByte4`` / ``byte4ToInt``: the 1-byte norm quantization of
  per-document field length (4-bit mantissa with implicit leading bit, 5-bit
  shift; values 0..7 exact, then geometric buckets).
- ``BM25Similarity.BM25Scorer``: per-(term, normByte) score
  ``w - w / (1 + freq * cache[norm])`` with
  ``cache[i] = 1f / (k1 * ((1 - b) + b * LENGTH_TABLE[i] / avgdl))`` — all
  float32 ops, weight = float32(boost * idf),
  ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` in float64.
- disjunction sum: per-doc float32 contributions accumulated in float64 then
  cast to float32 (Lucene ``DisjunctionSumScorer``).
- avgdl = float32(sumTotalTermFreq / docCount) (``BM25Similarity.avgFieldLength``).

Every public function is vectorized over numpy arrays so the same code backs
the oracle AND the Arrow-UDF scoring path.
"""

from __future__ import annotations

import numpy as np

K1 = np.float32(1.2)
B = np.float32(0.75)


def int_to_byte4(length: np.ndarray | int) -> np.ndarray:
    """Lucene SmallFloat.intToByte4 (via longToInt4), vectorized.

    numBits = bit_length(i); if numBits < 4 → i (subnormal);
    else shift = numBits - 4; encoded = ((i >> shift) & 0x07) | ((shift+1) << 3).
    """
    i = np.asarray(length, dtype=np.int64)
    if np.any(i < 0):
        raise ValueError("length must be >= 0")
    # numpy has no bit_length; frexp's exponent on float64 is exact for
    # i < 2^53, and doc lengths are < 2^31.
    _, e = np.frexp(i.astype(np.float64))
    nbits = np.where(i > 0, e, 0).astype(np.int64)
    shift = np.maximum(nbits - 4, 0)
    encoded_normal = ((i >> shift) & 0x07) | ((shift + 1) << 3)
    out = np.where(nbits < 4, i, encoded_normal).astype(np.int64)
    return out


def byte4_to_int(b: np.ndarray | int) -> np.ndarray:
    """Lucene SmallFloat.byte4ToInt (via int4ToLong), vectorized.

    bits = i & 0x07; shift = (i >> 3) - 1;
    decoded = bits if shift == -1 else (bits | 0x08) << shift.
    """
    i = np.asarray(b, dtype=np.int64) & 0xFF
    bits = i & 0x07
    shift = (i >> 3) - 1
    decoded = np.where(shift < 0, bits, (bits | 0x08) << np.maximum(shift, 0))
    return decoded.astype(np.int64)


# LENGTH_TABLE[j] = float32(byte4_to_int(j)) — BM25Similarity static init
LENGTH_TABLE = byte4_to_int(np.arange(256)).astype(np.float32)


def idf(df: np.ndarray | int, doc_count: int) -> np.ndarray:
    """float64 idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (BM25Similarity.idfExplain)."""
    d = np.asarray(df, dtype=np.float64)
    return np.log(1.0 + (doc_count - d + 0.5) / (d + 0.5))


def avg_field_length(sum_total_term_freq: int, doc_count: int) -> np.float32:
    """float32 avgdl (BM25Similarity.avgFieldLength)."""
    return np.float32(np.float64(sum_total_term_freq) / np.float64(doc_count))


def norm_cache(avgdl: np.float32, k1: np.float32 = K1, b: np.float32 = B) -> np.ndarray:
    """cache[i] = 1f / (k1 * ((1 - b) + b * LENGTH_TABLE[i] / avgdl)) — float32 ops."""
    one = np.float32(1.0)
    inner = (one - b) + b * LENGTH_TABLE / np.float32(avgdl)  # float32 elementwise
    return (one / (np.float32(k1) * inner)).astype(np.float32)


def term_weight(df: np.ndarray | int, doc_count: int, boost: float = 1.0) -> np.ndarray:
    """float32 weight = boost * idf (LUCENE-8563: no (k1+1) numerator)."""
    return (np.float64(boost) * idf(df, doc_count)).astype(np.float32)


def bm25_contrib(
    weight: np.ndarray, freq: np.ndarray, norm_byte: np.ndarray, cache: np.ndarray
) -> np.ndarray:
    """Per-posting float32 score: w - w / (1 + freq * cache[normByte]).

    Matches BM25Scorer.score(float freq, long encodedNorm) op-for-op in
    float32 (freq arrives as float; norm lookup is float32).
    """
    w = np.asarray(weight, dtype=np.float32)
    f = np.asarray(freq, dtype=np.float32)
    c = cache[np.asarray(norm_byte, dtype=np.int64) & 0xFF]
    one = np.float32(1.0)
    return (w - w / (one + f * c)).astype(np.float32)

