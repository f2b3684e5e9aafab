"""Per-chunk Bloom filters for equality-predicate chunk skipping.

parquet-mr's answer to point lookups on high-cardinality columns is
the split-block Bloom filter (public parquet-format spec): min/max
stats cannot prune `commit = '<sha>'` — every chunk's hex range spans
the literal — but a few KB of bloom bits per chunk skip almost all of
them. parquet4s (sitting on parquet-mr) exposes no bloom knobs, so
this is a beyond-reference capability, built the same way the engine's
other stats are: computed vectorized at encode time, stored on every
chunk row (and the manifest), probed by the decode worker at scan time
(engine/scan._bloom_excludes).

Layout (manifest column ``bloom: array<bigint>``):
    [m_bits, k, kind, word_0, ..., word_{m_bits/64 - 1}]
``kind`` tags the key representation (KIND_STR for string/binary
bytes, KIND_INT for canonical 8-byte little-endian int64): Spark's
equality semantics CAST across types (``int_col = '5'`` can match),
so a probe keyed in one representation must never exclude a bloom
built from the other — the scan side requires kind equality before
trusting an exclusion.
m_bits is a power of two sized at ~10 bits per distinct value (capped
at 16384 bits = 2 KB; column skipped entirely when the chunk has more
than _MAX_DISTINCT distincts — a saturated bloom prunes nothing and
bloats the manifest). At 100 TB that is <1% of encoded bytes, and the
column is only READ by filtered scans (parquet column pruning).

Hashing is a polynomial rolling hash over the value bytes with uint64
wraparound — exactly computable both vectorized (numpy, encode side)
and scalar (pure Python ints, driver side for the filter literal);
tests pin the two implementations equal. Probe positions use standard
double hashing: idx_i = (h_lo + i * h_hi) mod m_bits.

False positives only ever UNDER-prune (a surviving chunk still passes
the exact residual predicate); a false negative would silently drop
rows, so the no-false-negative property is hypothesis-tested.
"""

from __future__ import annotations

import numpy as np

from ._native import load as _load_native

_native = _load_native()

_P = 0x100000001B3  # FNV-1a prime (odd -> full-period multiplier mod 2^64)
_MIX = 0xFF51AFD7ED558CCD  # murmur3 finalizer constant
_LEN_SALT = 0x9E3779B97F4A7C15
_MASK64 = (1 << 64) - 1

_MAX_VALUE_LEN = 256  # longer values (content blobs) are never point-looked-up
_MAX_DISTINCT = 2048  # beyond this a <=2KB bloom saturates
_MAX_BITS = 16384  # 2 KB ceiling per (chunk, column)
_MAX_K = 8

KIND_STR = 0  # raw string/binary bytes
KIND_INT = 1  # canonical 8-byte little-endian int64

# P^j mod 2^64 for j in [0, _MAX_VALUE_LEN)
_POW = np.empty(_MAX_VALUE_LEN, dtype=np.uint64)
_POW[0] = 1
for _j in range(1, _MAX_VALUE_LEN):
    _POW[_j] = np.uint64((int(_POW[_j - 1]) * _P) & _MASK64)


def _finalize(h: "np.ndarray | int", length: "np.ndarray | int"):
    """Shared scalar/vector mixing tail (uint64 wraparound both ways)."""
    if isinstance(h, np.ndarray):
        with np.errstate(over="ignore"):
            h = h + np.uint64(_LEN_SALT) * length.astype(np.uint64)
            h = h ^ (h >> np.uint64(33))
            h = h * np.uint64(_MIX)
            h = h ^ (h >> np.uint64(33))
        return h
    h = (h + _LEN_SALT * length) & _MASK64
    h ^= h >> 33
    h = (h * _MIX) & _MASK64
    h ^= h >> 33
    return h


def hash_values(lengths: np.ndarray, blob: bytes) -> np.ndarray:
    """Vectorized polynomial hash of concatenated values (uint64[n]).

    ``lengths`` are the per-value byte lengths of ``blob`` segments;
    every length must be < _MAX_VALUE_LEN (caller-gated).

    Dispatches to the C kernel when available (one pass, no temps; the
    numpy body allocates four value-stream-sized arrays) — both paths
    are exact mod-2^64 arithmetic and fuzz-pinned byte-identical, so
    bloom words never depend on the host toolchain (same invariant as
    every other kernel pair)."""
    n = len(lengths)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    lengths = lengths.astype(np.int64, copy=False)
    if int(lengths.max()) >= _MAX_VALUE_LEN:
        raise ValueError(
            f"hash_values: a value exceeds the {_MAX_VALUE_LEN - 1}-byte "
            "bloom key domain (callers gate on length first)"
        )
    if _native is not None:
        return _native.bloom_hash(lengths, blob, _POW)
    return _hash_values_numpy(lengths, blob)


def _hash_values_numpy(lengths: np.ndarray, blob: bytes) -> np.ndarray:
    """Canonical numpy body (always available; the parity oracle)."""
    n = len(lengths)
    if n == 0:
        # total on the same domain as the public twin — this function is
        # documented as the standalone parity oracle, so it must not rely
        # on the dispatcher's n==0 guard
        return np.zeros(0, dtype=np.uint64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    total = int(starts[-1] + lengths[-1])
    a = np.frombuffer(blob, dtype=np.uint8, count=total).astype(np.uint64)
    # position of each byte within its value
    j = np.arange(total, dtype=np.int64) - np.repeat(starts, lengths)
    with np.errstate(over="ignore"):
        terms = a * _POW[j]
        cs = np.zeros(total + 1, dtype=np.uint64)
        np.cumsum(terms, out=cs[1:])  # uint64 wraparound keeps sums exact mod 2^64
        h = cs[starts + lengths] - cs[starts]
    return _finalize(h, lengths)


def hash_value(value: "str | bytes") -> int:
    """Scalar twin of hash_values for a single filter literal.

    Same domain as the vectorized twin: values must be shorter than
    _MAX_VALUE_LEN bytes (callers gate — a longer literal can never be
    present in a bloom-eligible column, see probe handling in
    engine/scan). A silent power-table wraparound here would let the
    two implementations drift apart undetected."""
    b = value.encode("utf-8", "surrogatepass") if isinstance(value, str) else bytes(value)
    if len(b) >= _MAX_VALUE_LEN:
        raise ValueError(
            f"hash_value: {len(b)}-byte value exceeds the "
            f"{_MAX_VALUE_LEN - 1}-byte bloom key domain"
        )
    h = 0
    for j, byte in enumerate(b):
        h = (h + byte * int(_POW[j])) & _MASK64
    return int(_finalize(h, len(b)))


def _geometry(n_distinct: int) -> tuple[int, int]:
    m = 256
    while m < 10 * n_distinct and m < _MAX_BITS:
        m <<= 1
    k = max(1, min(_MAX_K, round(0.693 * m / max(1, n_distinct))))
    return m, k


def build_bloom(
    lengths: np.ndarray, blob: bytes, kind: int = KIND_STR
) -> "list[int] | None":
    """Bloom words for one chunk column, or None when ineligible
    (a value too long, or too many distincts for a useful <=2KB bloom).

    Returns [m_bits, k, kind, *words] ready for the manifest
    array<bigint> column. Deterministic pure function of the values —
    chunk manifest rows stay byte-identical across partitionings and
    resumes."""
    if len(lengths) == 0:
        return None
    if int(lengths.max()) >= _MAX_VALUE_LEN:
        return None
    h = np.unique(hash_values(lengths, blob))  # distinct values (mod hash)
    if len(h) > _MAX_DISTINCT:
        return None
    m, k = _geometry(len(h))
    # C kernel when available (value-identical, fuzz-pinned — same
    # invariant as the hash pair above); numpy body stays the oracle
    words = (
        _native.bloom_scatter(h, m, k)
        if _native is not None
        else _bloom_words_numpy(h, m, k)
    )
    return [int(m), int(k), int(kind)] + words.tolist()


def _bloom_words_numpy(h: np.ndarray, m: int, k: int) -> np.ndarray:
    """Canonical numpy scatter body (always available; the parity
    oracle for the C kernel): int64[m/64] bloom words."""
    h_lo = (h & np.uint64(0xFFFFFFFF)).astype(np.int64)
    h_hi = ((h >> np.uint64(32)) | np.uint64(1)).astype(np.int64)
    bits = np.zeros(m, dtype=bool)
    # one fancy-index scatter over all k probe positions: identical bit
    # set to the per-i bincount fold, ~6x cheaper (bincount allocates
    # and scans an m-slot histogram per probe; a presence store runs at
    # memory speed — same trick as fsst._presence)
    idx = (h_lo[None, :] + np.arange(k, dtype=np.int64)[:, None] * h_hi) % m
    bits[idx.ravel()] = True
    # LSB-first within each 64-bit word ((bloom[3 + idx//64] >>
    # (idx%64)) & 1 on the probe side). Words are read from the
    # packed bytes with EXPLICIT little-endian dtypes: a native-endian
    # .view() would make the stored words (and thus chunk output)
    # depend on the host — the cross-toolchain identity invariant
    # forbids that. '<i8' is the value-wise two's-complement of the
    # '<u8' reading (signed manifest array<bigint> domain).
    packed = np.packbits(bits, bitorder="little").tobytes()
    return np.frombuffer(packed, dtype="<i8")


def probe_params(value: "str | bytes") -> tuple[int, int]:
    """(h_lo, h_hi) for the scan-side double-hash probe."""
    h = hash_value(value)
    return h & 0xFFFFFFFF, (h >> 32) | 1
