"""Property-based codec round-trip tests (hypothesis).

The reference has no property testing (SURVEY.md §5); we add it for
the layer where it pays most: arbitrary values through every codec
must come back byte-identical. Complements the golden-vector matrix in
test_codecs.py.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from colcrush.codecs import decode_array, decode_ints, encode_array, encode_ints_best
from colcrush.codecs import fsst

_settings = settings(max_examples=60, deadline=None)


@_settings
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=300
    )
)
def test_int_roundtrip_any(values):
    v = np.array(values, dtype=np.int64)
    assert np.array_equal(decode_ints(encode_ints_best(v)), v)


@_settings
@given(st.binary(max_size=4000))
def test_fsst_roundtrip_any_bytes(data):
    table = fsst.train(data)
    assert fsst.decompress(fsst.compress(data, table), table) == data


@_settings
@given(
    st.lists(
        st.one_of(st.none(), st.text(max_size=80)),
        max_size=120,
    )
)
def test_string_column_roundtrip_any(rows):
    arr = pa.array(rows, type=pa.string())
    out = decode_array(encode_array(arr)[0])
    assert out.to_pylist() == rows


@_settings
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(allow_nan=False, width=64),
        ),
        max_size=150,
    )
)
def test_float_column_roundtrip_any(rows):
    arr = pa.array(rows, type=pa.float64())
    out = decode_array(encode_array(arr)[0])
    got = out.to_pylist()
    # bitwise comparison (−0.0 vs 0.0 must survive)
    import struct as s

    def bits(x):
        return None if x is None else s.pack("<d", x)

    assert [bits(x) for x in got] == [bits(x) for x in rows]


@_settings
@given(
    st.lists(st.one_of(st.none(), st.booleans()), max_size=200)
)
def test_bool_column_roundtrip_any(rows):
    arr = pa.array(rows, type=pa.bool_())
    out = decode_array(encode_array(arr)[0])
    assert out.to_pylist() == rows


@_settings
@given(st.lists(st.one_of(st.none(), st.binary(max_size=60)), max_size=100))
def test_binary_column_roundtrip_any(rows):
    arr = pa.array(rows, type=pa.binary())
    out = decode_array(encode_array(arr)[0])
    assert out.to_pylist() == rows


@_settings
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.decimals(
                min_value=-(10**9), max_value=10**9, places=2,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        max_size=200,
    )
)
def test_decimal_roundtrip_any(values):
    arr = pa.array(values, type=pa.decimal128(12, 2))
    blob, meta = encode_array(arr)
    assert decode_array(blob).equals(arr)
    if any(v is not None for v in values):
        assert meta["codec"] != "ipc"


@_settings
@given(
    st.lists(
        st.one_of(
            st.none(),
            # full-range decimal38 (words/delta modes)
            st.decimals(
                min_value=-(10**19), max_value=10**19, places=18,
                allow_nan=False, allow_infinity=False,
            ),
            # money-shaped (descale mode)
            st.decimals(
                min_value=-(10**9), max_value=10**9, places=2,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        max_size=200,
    )
)
def test_decimal38_roundtrip_any(values):
    """DecimalType(38,18) — the reference's default format — must
    round-trip exactly through the dec128 codec whatever sub-mode the
    data shape selects."""
    arr = pa.array(values, type=pa.decimal128(38, 18))
    blob, meta = encode_array(arr)
    assert decode_array(blob).equals(arr)
    if any(v is not None for v in values):
        assert meta["codec"] == "dec128"


@_settings
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(st.none(), st.integers(-(2**62), 2**62)),
                max_size=20,
            ),
        ),
        max_size=100,
    )
)
def test_list_roundtrip_any(values):
    arr = pa.array(values, type=pa.list_(pa.int64()))
    blob, meta = encode_array(arr)
    assert decode_array(blob).equals(arr)
    assert meta["codec"] == "list"


@_settings
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.tuples(st.integers(-(2**31), 2**31), st.text(max_size=20)),
        ),
        max_size=100,
    )
)
def test_struct_roundtrip_any(values):
    typ = pa.struct([("a", pa.int64()), ("b", pa.string())])
    arr = pa.array(
        [None if v is None else {"a": v[0], "b": v[1]} for v in values],
        type=typ,
    )
    blob, meta = encode_array(arr)
    assert decode_array(blob).equals(arr)
    assert meta["codec"] == "struct"


# --- vectorized rescale vs scalar decimal.Decimal reference ---------------


def _rescale_scalar_ref(arr: pa.Array, precision: int, scale: int):
    """The pre-round-4 scalar implementation of parquet4s
    rescale-on-read (MathContext(precision) HALF_UP then
    setScale(scale) HALF_UP), kept here as the hypothesis oracle for
    the vectorized limb-arithmetic version in codecs/dec_rescale.py."""
    import decimal as dec

    t = arr.type
    if t.precision == precision and t.scale == scale:
        return arr
    if precision >= t.precision and scale >= t.scale:
        import pyarrow.compute as pc

        try:
            return pc.cast(arr, pa.decimal128(precision, scale))
        except (pa.ArrowInvalid, OverflowError) as e:
            raise ValueError("overflow") from e
    ctx = dec.Context(prec=precision, rounding=dec.ROUND_HALF_UP)
    wide = dec.Context(prec=60, rounding=dec.ROUND_HALF_UP)
    exp = dec.Decimal(1).scaleb(-scale)
    out = []
    for v in arr.to_pylist():
        if v is None:
            out.append(None)
            continue
        d = ctx.create_decimal(v)
        out.append(d.quantize(exp, context=wide))
    try:
        return pa.array(out, type=pa.decimal128(precision, scale))
    except (pa.ArrowInvalid, OverflowError) as e:
        raise ValueError("overflow") from e


_dec_strategy = st.lists(
    st.one_of(
        st.none(),
        st.decimals(
            min_value=-(10**19), max_value=10**19, places=18,
            allow_nan=False, allow_infinity=False,
        ),
        st.decimals(
            min_value=-(10**9), max_value=10**9, places=2,
            allow_nan=False, allow_infinity=False,
        ),
        # tie-heavy values that stress the HALF_UP boundary
        st.integers(min_value=-(10**6), max_value=10**6).map(
            lambda n: __import__("decimal").Decimal(n * 5).scaleb(-3)
        ),
    ),
    max_size=120,
)

_dec_targets = st.sampled_from(
    # includes precision-narrow + scale-WIDEN (10, 20): shift1 from the
    # digit count, then a multiply step — the mixed path
    [(38, 18), (20, 2), (12, 4), (10, 0), (5, 2), (38, 2), (18, 17),
     (3, 1), (10, 20)]
)


@settings(max_examples=120, deadline=None)
@given(values=_dec_strategy, target=_dec_targets, offset=st.integers(0, 3))
def test_rescale_vectorized_matches_scalar_reference(values, target, offset):
    from colcrush.codecs.dec_rescale import rescale_decimal128

    precision, scale = target
    arr = pa.array(values, type=pa.decimal128(38, 18))
    # exercise non-zero arr.offset (sliced buffers) too
    if offset and len(arr) > offset:
        arr = arr.slice(offset)
    try:
        expected = _rescale_scalar_ref(arr, precision, scale)
        expected_err = None
    except ValueError:
        expected, expected_err = None, ValueError
    if expected_err is ValueError:
        import pytest

        with pytest.raises(ValueError):
            rescale_decimal128(arr, precision, scale)
    else:
        got = rescale_decimal128(arr, precision, scale)
        assert got.type == expected.type
        assert got.to_pylist() == expected.to_pylist()


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=17),
    st.integers(min_value=1, max_value=60),
)
def test_encode_fn_chunk_cut_properties(group_sizes, cap, batch_rows):
    """The worker's cut loop, fuzzed Spark-free: for any group layout,
    row cap, and arrow batch segmentation — (a) chunks partition the
    rows in order, (b) no chunk exceeds the row cap, (c) every chunk
    holds one (group, salt), and (d) the chunking is IDENTICAL for any
    batch segmentation of the same row stream (the r5 invariant)."""
    import pyarrow as pa

    from colcrush.engine.encoder import _make_encode_fn

    rows_g, rows_v = [], []
    for gi, n in enumerate(group_sizes):
        rows_g += [f"g{gi}"] * n
        rows_v += [f"v{gi}_{j}" for j in range(n)]
    n_total = len(rows_g)

    def batches(step):
        out = []
        for s in range(0, n_total, step):
            e = min(n_total, s + step)
            out.append(
                pa.record_batch(
                    [
                        pa.array(rows_v[s:e]),
                        pa.array([0] * (e - s), type=pa.int32()),
                        pa.array(rows_g[s:e]),
                    ],
                    names=["val", "__salt", "__groupkey"],
                )
            )
        return out

    def chunks(step):
        fn = _make_encode_fn(1 << 30, cap, "balanced", "__salt", "__groupkey")
        out = []
        for b in fn(iter(batches(step))):
            for i in range(b.num_rows):
                out.append(
                    (
                        b.column("group_key")[i].as_py(),
                        b.column("seq")[i].as_py(),
                        b.column("n_rows")[i].as_py(),
                    )
                )
        return sorted(out)

    a = chunks(batch_rows)
    assert sum(n for _, _, n in a) == n_total          # (a) partition
    assert all(n <= cap for _, _, n in a)              # (b) cap
    per_group = {}
    for g, seq, n in a:
        per_group.setdefault(g, []).append((seq, n))
    for gi, gsize in enumerate(group_sizes):           # (c) + exact cuts
        got = sorted(per_group[f"g{gi}"])
        assert [s for s, _ in got] == list(range(len(got)))
        assert [n for _, n in got] == [cap] * (gsize // cap) + (
            [gsize % cap] if gsize % cap else []
        )
    assert a == chunks(max(1, n_total))                # (d) batch-invariant
    assert a == chunks(3)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=6),
    st.integers(min_value=32, max_value=600),
    st.integers(min_value=1, max_value=60),
)
def test_encode_fn_byte_cap_cut_purity(group_sizes, byte_cap, batch_rows):
    """BYTE-cap cuts are a pure function of the shard's row stream —
    identical for every arrow batch segmentation — and land exactly
    where a pure-python walk of the per-row value sizes says they
    should (r6 fix: the cap used to be checked only at slice ends, so
    batch boundaries — which follow the partition count — moved the cut
    and broke N-vs-4N byte identity on byte-capped mega-shards)."""
    import pyarrow as pa

    from colcrush.engine.encoder import _make_encode_fn

    rows_g, rows_v = [], []
    for gi, n in enumerate(group_sizes):
        rows_g += [f"g{gi}"] * n
        rows_v += [f"value_{gi}_{j}" * (1 + j % 4) for j in range(n)]
    n_total = len(rows_g)

    def batches(step):
        out = []
        for s in range(0, n_total, step):
            e = min(n_total, s + step)
            out.append(
                pa.record_batch(
                    [
                        pa.array(rows_v[s:e]),
                        pa.array([0] * (e - s), type=pa.int32()),
                        pa.array(rows_g[s:e]),
                    ],
                    names=["val", "__salt", "__groupkey"],
                )
            )
        return out

    def chunks(step):
        fn = _make_encode_fn(byte_cap, 1 << 20, "balanced", "__salt", "__groupkey")
        out = []
        for b in fn(iter(batches(step))):
            for i in range(b.num_rows):
                out.append(
                    (
                        b.column("group_key")[i].as_py(),
                        b.column("seq")[i].as_py(),
                        b.column("n_rows")[i].as_py(),
                    )
                )
        return sorted(out)

    # pure-python oracle: chunk closes ON the row that crosses the cap
    # (row size = value bytes + 4-byte offset overhead, _row_sizes)
    expected = []
    pos = 0
    for gi, gsize in enumerate(group_sizes):
        seq, acc, nrows = 0, 0, 0
        for j in range(gsize):
            acc += len(rows_v[pos + j].encode()) + 4
            nrows += 1
            if acc >= byte_cap:
                expected.append((f"g{gi}", seq, nrows))
                seq, acc, nrows = seq + 1, 0, 0
        if nrows:
            expected.append((f"g{gi}", seq, nrows))
        pos += gsize

    a = chunks(batch_rows)
    assert a == sorted(expected)
    assert a == chunks(max(1, n_total))   # one mega-batch
    assert a == chunks(1)                 # row-at-a-time batches


def test_row_sizes_sliced_fixed_size_list():
    """_row_sizes on a SLICED FixedSizeListArray must size the slice's
    own rows: arr.values ignores the slice offset (unlike the varlen
    list branches whose offsets are absolute), which used to raise
    ValueError on the reshape — an inconsistency waiting for the first
    sliced batch (r6 ADVICE)."""
    import numpy as np
    import pyarrow as pa

    from colcrush.engine.encoder import _row_sizes

    full = pa.FixedSizeListArray.from_arrays(
        pa.array(np.arange(24, dtype=np.int64)), 4
    )
    whole = _row_sizes(full)
    assert whole.tolist() == [32] * 6
    sl = full.slice(2, 3)
    assert _row_sizes(sl).tolist() == whole[2:5].tolist()
    # mixed element widths (strings) pin that the WINDOW is correct,
    # not just the count
    s = pa.FixedSizeListArray.from_arrays(
        pa.array([f"x{'y' * i}" for i in range(8)]), 2
    )
    expected = _row_sizes(s).tolist()
    assert _row_sizes(s.slice(1, 2)).tolist() == expected[1:3]


@given(
    st.lists(
        st.one_of(
            st.integers(-(2**63), 2**63 - 1),        # full-range (wide widths)
            st.integers(-5, 5),                       # run/RLE-friendly
            st.integers(0, 2**40),                    # FOR-friendly
        ),
        max_size=200,
    ),
    st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_encode_ints_best_native_vs_numpy_parity(vals, allow_rle):
    """encode_ints_best with intcodec's C kernels (int_stats,
    extract_runs, pack_for, pack_deltas) and with their numpy twins
    must choose the same codec and emit identical bytes for every input
    (chunk identity can never depend on the host toolchain). Full-range
    integers exercise the span >= 2^63 no-FOR branch and the 57..64-bit
    pack fallbacks; the roundtrip closes the loop."""
    from colcrush.codecs import intcodec as ic

    kernels = ic._native
    if kernels is None:
        pytest.skip("no C compiler available")
    v = np.array(vals, dtype=np.int64)
    nat = ic.encode_ints_best(v, allow_rle)
    try:
        ic._native = None
        ref = ic.encode_ints_best(v, allow_rle)
    finally:
        ic._native = kernels
    assert nat == ref
    assert np.array_equal(ic.decode_ints(nat), v)


@given(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=100))
@settings(max_examples=200, deadline=None)
def test_int_stats_and_runs_match_numpy_formulas(vals):
    """colcrush_int_stats / colcrush_extract_runs vs the exact numpy
    expressions they replace."""
    from colcrush.codecs import intcodec as ic

    if ic._native is None:
        pytest.skip("no C compiler available")
    v = np.array(vals, dtype=np.int64)
    mn, mx, zmn, zmx, n_runs = ic._native.int_stats(v)
    assert mn == int(v.min()) and mx == int(v.max())
    if len(v) >= 2:
        with np.errstate(over="ignore"):
            d = np.diff(v)
        zz = ic._zigzag(d)
        assert zmn == int(zz.min()) and zmx == int(zz.max())
        exp_runs = 1 + int(np.count_nonzero(d != 0))
    else:
        assert (zmn, zmx) == (0, 0)
        exp_runs = 1
    assert n_runs == exp_runs
    rv, rl = ic._native.extract_runs(v, n_runs)
    change = np.flatnonzero(np.diff(v) != 0) if len(v) > 1 else np.array([], dtype=int)
    starts = np.concatenate(([0], change + 1))
    ends = np.concatenate((starts[1:], [len(v)]))
    assert np.array_equal(rv, v[starts])
    assert np.array_equal(rl, ends - starts)


@given(st.data())
@settings(max_examples=150, deadline=None)
def test_compress_table_matches_python_prep(data):
    """colcrush_compress_table (one-call expansion+sort+dedup+match)
    vs the _match_symbols + re alternation path, including tables with
    DUPLICATE expansions (two code chains producing the same bytes —
    first table entry must win) and chained codes (x/y referencing
    earlier codes)."""
    from colcrush.codecs import fsst as fsst_mod

    if fsst_mod._native is None:
        pytest.skip("no C compiler available")
    # corpus over a small alphabet so pairs repeat
    corpus = bytes(
        data.draw(st.lists(st.integers(97, 103), min_size=2, max_size=400))
    )
    free = list(range(200, 240))
    nt = data.draw(st.integers(1, 12))
    table = []
    for i in range(nt):
        # x/y drawn from the corpus alphabet plus already-assigned codes
        pool = list(range(97, 104)) + [c for c, _, _ in table]
        x = data.draw(st.sampled_from(pool))
        y = data.draw(st.sampled_from(pool))
        table.append((free[i], x, y))
    nat = fsst_mod._native.compress_table(corpus, table)
    syms = fsst_mod._match_symbols(table)
    import re as _re

    pat = _re.compile(b"|".join(_re.escape(e) for e, _ in syms))
    repl = {e: bytes((c,)) for e, c in syms}
    ref = pat.sub(lambda m: repl[m.group(0)], corpus)
    assert nat == ref
