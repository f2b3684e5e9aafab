"""Integer codecs: frame-of-reference+bitpack, delta, RLE, plain.

Self-describing little payloads over int64 numpy arrays. These are the
building blocks the higher-level column codecs (dictionary indices,
string lengths, run lengths) reuse via :func:`encode_ints_best`.

Re-implements from scratch the encodings parquet-mr applies under
parquet4s (RLE/bit-packed hybrid for dictionary ids and levels — see
/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/ParquetWriter.scala:79-84),
expressed as whole-array vectorized transforms instead of a per-value
state machine.

Payload layout (all little-endian):
  [1B tag][8B n][body]
  tag 0 PLAIN : body = raw int64 values
  tag 1 FORBP : body = [8B ref][1B width][packed bits]
  tag 2 DELTA : body = [8B first][1B width][8B ref][packed zigzag deltas]
  tag 3 RLE   : body = [8B n_runs][ints payload run_values][ints payload run_lengths]

The encoder sizes every candidate exactly (:func:`_candidates`), keeps
the smallest (:func:`_plan`) and writes only that one (:func:`_pack`).
Those three are the only statement of the size formulas and header
layouts. The array passes they need go through four kernel dispatchers
(:func:`_stats`, :func:`_runs`, :func:`_pack_for`,
:func:`_pack_deltas`), each running the C kernel when it is loaded and
numpy otherwise; the two give identical bytes (pinned by the parity
tests), so chunk identity never depends on the host toolchain.
"""

from __future__ import annotations

import struct

import numpy as np

from ._native import load as _load_native
from .bitpack import bit_width, pack_bits, unpack_bits

_native = _load_native()

TAG_PLAIN = 0
TAG_FORBP = 1
TAG_DELTA = 2
TAG_RLE = 3

_HDR = struct.Struct("<Bq")


def _zigzag(d: np.ndarray) -> np.ndarray:
    # compute in uint64 domain: wrapping shifts are the intended mod-2^64
    u = d.view(np.uint64)
    sign = (d >> 63).view(np.uint64)
    return (u << np.uint64(1)) ^ sign


def _unzigzag(u: np.ndarray) -> np.ndarray:
    return ((u >> np.uint64(1)).astype(np.int64)) ^ -((u & np.uint64(1)).astype(np.int64))


# ------------------------------------------------------ kernel dispatchers
# Deltas wrap mod 2^64 on both paths: the wrapped diff, its zigzag and
# the decoder's cumsum all wrap identically, so every delta roundtrips.


def _stats(v: np.ndarray) -> tuple[int, int, int, int, int]:
    """(min, max, zz_min, zz_max, n_runs) of a non-empty int64 array;
    the zz bounds are the unsigned zigzagged-delta bounds (0 for n == 1)."""
    if _native is not None:
        return _native.int_stats(v)
    if len(v) == 1:
        return int(v[0]), int(v[0]), 0, 0, 1
    with np.errstate(over="ignore"):
        d = np.diff(v)
    zz = _zigzag(d)
    return (
        int(v.min()), int(v.max()), int(zz.min()), int(zz.max()),
        1 + int(np.count_nonzero(d)),
    )


def _runs(v: np.ndarray, n_runs: int) -> tuple[np.ndarray, np.ndarray]:
    """(run_values, run_lengths) of a non-empty int64 array."""
    if _native is not None:
        return _native.extract_runs(v, n_runs)
    starts = np.concatenate(([0], np.flatnonzero(v[1:] != v[:-1]) + 1))
    return v[starts], np.diff(starts, append=len(v))


def _pack_for(v: np.ndarray, ref: int, width: int) -> bytes:
    """pack_bits(v - ref, width)."""
    if width == 0:
        return b""
    if _native is not None and width <= 56:
        return _native.pack_for(v, ref, width)
    return pack_bits((v - ref).view(np.uint64), width)


def _pack_deltas(v: np.ndarray, ref: int, width: int) -> bytes:
    """pack_bits(zigzag(diff(v)) - ref, width)."""
    if width == 0:
        return b""
    if _native is not None and width <= 56:
        return _native.pack_deltas(v, ref, width)
    with np.errstate(over="ignore"):
        zz = _zigzag(np.diff(v))
    return pack_bits(zz - np.uint64(ref), width)


# ---------------------------------------------------------------- encoder


def _candidates(n: int, stats) -> list[tuple]:
    """Exact (size, tag, ref, width) of the plain, FOR and delta
    payloads, in tie-break order. FOR is left out when the range
    overflows int64 (and for n == 0, where plain is always smaller);
    delta needs n >= 2."""
    out = [(_HDR.size + 8 * n, TAG_PLAIN, 0, 0)]
    if n == 0:
        return out
    lo, hi, zlo, zhi, _ = stats
    if hi - lo < 1 << 63:  # python ints: no overflow
        w = bit_width(hi - lo)
        out.append((_HDR.size + 9 + -(-n * w // 8), TAG_FORBP, lo, w))
    if n >= 2:
        w = bit_width(zhi - zlo)
        out.append((_HDR.size + 17 + -(-(n - 1) * w // 8), TAG_DELTA, zlo, w))
    return out


def _plan(v: np.ndarray, allow_rle: bool) -> tuple:
    """The smallest candidate for ``v`` (first of equals wins). An RLE
    plan is (size, TAG_RLE, (run_values, plan), (run_lengths, plan)):
    the run arrays travel with their own plans, so packing a winning RLE
    body needs no second stats sweep."""
    n = len(v)
    stats = _stats(v) if n else None
    cands = _candidates(n, stats)
    # with no repeats the run values are v itself, so RLE would cost v's
    # best payload plus headers and run lengths: it cannot win
    if allow_rle and n > 4 and stats[4] < n:
        rv, rl = _runs(v, stats[4])
        pv, pl = _plan(rv, False), _plan(rl, False)
        cands.append((_HDR.size + 16 + pv[0] + pl[0], TAG_RLE, (rv, pv), (rl, pl)))
    # tags ascend in tie-break order, so tuples compare as (size, order)
    return min(cands)


def _pack(v: np.ndarray, plan: tuple) -> bytes:
    _, tag, ref, width = plan
    head = _HDR.pack(tag, len(v))
    if tag == TAG_PLAIN:
        return head + v.tobytes()
    if tag == TAG_FORBP:
        return head + struct.pack("<qB", ref, width) + _pack_for(v, ref, width)
    if tag == TAG_DELTA:
        return (
            head
            + struct.pack("<qBQ", int(v[0]), width, ref)
            + _pack_deltas(v, ref, width)
        )
    (rv, pv), (rl, pl) = ref, width
    body_v = _pack(rv, pv)
    return head + struct.pack("<qq", len(rv), len(body_v)) + body_v + _pack(rl, pl)


def encode_ints_best(values: np.ndarray, allow_rle: bool = True) -> bytes:
    """Encode with whichever of plain/forbp/delta/rle is smallest (ties
    go to the earlier of that order)."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    return _pack(v, _plan(v, allow_rle))


# ---------------------------------------------------------------- decoder


def decode_ints(payload: bytes) -> np.ndarray:
    tag, n = _HDR.unpack_from(payload, 0)
    off = _HDR.size
    if tag == TAG_PLAIN:
        return np.frombuffer(payload, dtype=np.int64, count=n, offset=off).copy()
    if tag == TAG_FORBP:
        ref, width = struct.unpack_from("<qB", payload, off)
        off += 9
        u = unpack_bits(payload[off:], width, n)
        return (u.view(np.int64) + ref).astype(np.int64)
    if tag == TAG_DELTA:
        first, width = struct.unpack_from("<qB", payload, off)
        off += 9
        (lo,) = struct.unpack_from("<Q", payload, off)
        off += 8
        u = unpack_bits(payload[off:], width, n - 1) + np.uint64(lo)
        d = _unzigzag(u)
        out = np.empty(n, dtype=np.int64)
        out[0] = first
        np.cumsum(d, out=out[1:])
        out[1:] += first
        return out
    if tag == TAG_RLE:
        (n_runs,) = struct.unpack_from("<q", payload, off)
        off += 8
        (len_v,) = struct.unpack_from("<q", payload, off)
        off += 8
        run_values = decode_ints(payload[off : off + len_v])
        run_lengths = decode_ints(payload[off + len_v :])
        return np.repeat(run_values, run_lengths)
    raise ValueError(f"unknown int codec tag {tag}")
