"""Vectorized decimal128 rescale-on-read (HALF_UP), no per-row Python.

Implements the parquet4s rescale contract
(/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/DecimalFormat.scala:80-83):
round the stored value to ``precision`` significant digits
(java.math.MathContext semantics), then setScale(``scale``) — both
ROUND_HALF_UP.  One declared divergence (same as the previous scalar
implementation, pinned by test): a result whose digits then exceed the
target precision raises ValueError instead of silently violating the
declared arrow/Spark type.

Arithmetic model: the 128-bit two's-complement unscaled values are
split into sign + magnitude held as four 32-bit limbs inside uint64
numpy arrays, so every step (compare, divide by a <2^31 constant,
multiply by a <2^31 constant, add-with-carry) stays in exact uint64
vector ops.  Division by 10^k chains truncating divides by 10^9, which
is exact (floor(floor(x/a)/b) == floor(x/(a*b))).  HALF_UP divide by
10^k uses the identity

    half_up(u / 10^k) == ((u // 10^(k-1)) + 5) // 10      (u >= 0)

because writing u = q*10^k + a*10^(k-1) + b (a in 0..9, b < 10^(k-1)),
u // 10^(k-1) = 10q + a, and (10q + a + 5) // 10 = q + (a >= 5), which
is exactly the HALF_UP condition r >= 5*10^(k-1).  Signs are applied
at the end (HALF_UP is symmetric: ties round away from zero).

The two rounding positions (significant-digit shift, then scale shift)
depend on each element's digit count, so elements are grouped by shift
(<= 39 groups, each processed as one vectorized slice).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .column import _dec128_array, _dec128_words

_MASK32 = np.uint64(0xFFFFFFFF)
_SH32 = np.uint64(32)

# limbs of 10^d for d = 0..38 (10^38 has 39 digits reach; 2^127 < 1.8e38)
_POW10_LIMBS: list[tuple[int, int, int, int]] = []
for _d in range(39):
    _v = 10**_d
    _POW10_LIMBS.append(
        tuple((_v >> (32 * i)) & 0xFFFFFFFF for i in range(4))
    )


def _ge_const(limbs: list[np.ndarray], c: tuple[int, int, int, int]) -> np.ndarray:
    """Vectorized 128-bit magnitude >= constant (lexicographic by limb)."""
    ge = np.ones(len(limbs[0]), dtype=bool)
    decided = np.zeros(len(limbs[0]), dtype=bool)
    for i in (3, 2, 1, 0):
        ci = np.uint64(c[i])
        gt = limbs[i] > ci
        lt = limbs[i] < ci
        ge = np.where(~decided & lt, False, ge)
        decided |= gt | lt
    return ge


def _digit_count(limbs: list[np.ndarray]) -> np.ndarray:
    """BigDecimal-style precision of each magnitude (digits(0) == 1)."""
    digits = np.ones(len(limbs[0]), dtype=np.int64)
    for d in range(1, 39):
        digits += _ge_const(limbs, _POW10_LIMBS[d]).astype(np.int64)
    return digits


def _div_small(limbs: list[np.ndarray], d: int) -> list[np.ndarray]:
    """Truncating divide of 4x32-bit-limb magnitudes by d < 2^31."""
    dd = np.uint64(d)
    r = np.zeros(len(limbs[0]), dtype=np.uint64)
    out = [None] * 4
    for i in (3, 2, 1, 0):
        cur = (r << _SH32) | limbs[i]  # r < d < 2^31 -> cur < 2^63+2^32
        q = cur // dd
        r = cur - q * dd
        out[i] = q
    return out


def _div_pow10_trunc(limbs: list[np.ndarray], k: int) -> list[np.ndarray]:
    while k > 9:
        limbs = _div_small(limbs, 10**9)
        k -= 9
    if k > 0:
        limbs = _div_small(limbs, 10**k)
    return limbs


def _add5(limbs: list[np.ndarray]) -> list[np.ndarray]:
    out = []
    carry = np.full(len(limbs[0]), 5, dtype=np.uint64)
    for i in range(4):
        s = limbs[i] + carry  # <= (2^32-1) + 5, no uint64 overflow
        out.append(s & _MASK32)
        carry = s >> _SH32
    # carry out of limb 3 impossible: magnitude <= 2^127, +5 fits 128
    return out


def _div_pow10_half_up(limbs: list[np.ndarray], k: int) -> list[np.ndarray]:
    if k <= 0:
        return limbs
    return _div_pow10_trunc(_add5(_div_pow10_trunc(limbs, k - 1)), 1)


def _mul_pow10(
    limbs: list[np.ndarray], k: int
) -> tuple[list[np.ndarray], np.ndarray]:
    """Multiply by 10^k; returns (limbs, overflowed-past-128-bits mask)."""
    over = np.zeros(len(limbs[0]), dtype=bool)
    while k > 0:
        step = min(k, 9)
        c = np.uint64(10**step)
        carry = np.zeros(len(limbs[0]), dtype=np.uint64)
        nxt = []
        for i in range(4):
            prod = limbs[i] * c + carry  # < 2^32*2^30 + carry, fits
            nxt.append(prod & _MASK32)
            carry = prod >> _SH32
        over |= carry != 0
        limbs = nxt
        k -= step
    return limbs, over


def rescale_decimal128(arr: pa.Array, precision: int, scale: int) -> pa.Array:
    """HALF_UP rescale of a decimal128 array to (precision, scale).

    parquet4s rescale-on-read (/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/DecimalFormat.scala:80-83):
    round the stored value to ``precision`` significant digits
    (MathContext), then setScale(``scale``), both HALF_UP. One
    divergence, pinned by test: a result whose integer digits then
    exceed precision-scale (Java's BigDecimal carries it silently; a
    typed arrow/Spark decimal column cannot) raises ValueError instead
    of silently violating the declared type. Hypothesis-pinned equal to
    the scalar decimal.Decimal reference in
    tests/test_codecs_property.py."""
    t = arr.type
    if t.precision == precision and t.scale == scale:
        return arr
    if precision >= t.precision and scale >= t.scale:
        # no rounding can occur: a DECIMAL(p,s) value has <= p
        # significant digits and widening the scale is an exact 10^k
        # unscaled multiply — single vectorized arrow cast
        try:
            return pc.cast(arr, pa.decimal128(precision, scale))
        except (pa.ArrowInvalid, OverflowError) as e:
            raise ValueError(
                f"rescale to DECIMAL({precision},{scale}) overflows: {e}"
            ) from e

    n = len(arr)
    if n == 0:
        return pa.array([], type=pa.decimal128(precision, scale))
    # the limb math runs on unsigned words
    lo, hi = (w.view(np.uint64) for w in _dec128_words(arr))
    mask = None
    if arr.null_count:
        mask = ~np.asarray(pc.is_valid(arr))
        # null slots hold arbitrary buffer bytes — zero them so they
        # can never trip the overflow/precision checks
        lo = np.where(mask, np.uint64(0), lo)
        hi = np.where(mask, np.uint64(0), hi)
    neg = hi.view(np.int64) < 0
    # 128-bit two's-complement negate: -x = ~x + 1
    with np.errstate(over="ignore"):
        mag_lo = np.where(neg, ~lo + np.uint64(1), lo)
        mag_hi = np.where(neg, ~hi + (lo == 0).astype(np.uint64), hi)
    limbs = [
        mag_lo & _MASK32,
        mag_lo >> _SH32,
        mag_hi & _MASK32,
        mag_hi >> _SH32,
    ]

    digits = _digit_count(limbs)
    shift1 = np.maximum(digits - precision, 0)  # MathContext rounding shift
    # after step 1 the element sits at scale (t.scale - shift1); step 2
    # moves it to ``scale`` — one signed shift per shift1 group
    out = [np.zeros(n, dtype=np.uint64) for _ in range(4)]
    overflow = np.zeros(n, dtype=bool)
    for s1 in np.unique(shift1):
        m = shift1 == s1
        sub = [l[m] for l in limbs]
        if s1 > 0:
            sub = _div_pow10_half_up(sub, int(s1))
        delta = (t.scale - int(s1)) - scale
        if delta > 0:
            sub = _div_pow10_half_up(sub, delta)
        elif delta < 0:
            sub, over = _mul_pow10(sub, -delta)
            overflow[m] |= over
        for i in range(4):
            out[i][m] = sub[i]

    if overflow.any():
        raise ValueError(
            f"rescale to DECIMAL({precision},{scale}) overflows: "
            "value exceeds 128 bits"
        )
    res_digits = _digit_count(out)
    if (res_digits > precision).any():
        raise ValueError(
            f"rescale to DECIMAL({precision},{scale}) overflows: "
            "result digits exceed precision"
        )

    res_lo = out[0] | (out[1] << _SH32)
    res_hi = out[2] | (out[3] << _SH32)
    with np.errstate(over="ignore"):
        neg_lo = ~res_lo + np.uint64(1)
        neg_hi = ~res_hi + (res_lo == 0).astype(np.uint64)
    res_lo = np.where(neg, neg_lo, res_lo)
    res_hi = np.where(neg, neg_hi, res_hi)
    return _dec128_array(
        res_lo.view(np.int64), res_hi.view(np.int64),
        pa.decimal128(precision, scale), mask,
    )
