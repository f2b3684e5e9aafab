"""Unit tests for the codec kernel layer (no Spark).

Models the reference's per-codec unit specs + round-trip matrix
(ValueCodecsSpec / CompatibilityTestCases,
/root/reference/core/src/it/scala/com/github/mjakubowski84/parquet4s/CompatibilityTestCases.scala:12-113)
as golden-vector encode/decode assertions per FIXTURES.md F2.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib

import numpy as np
import pyarrow as pa
import pytest

from colcrush.codecs import (
    decode_array,
    decode_ints,
    encode_array,
    encode_ints_best,
    pack_bits,
    unpack_bits,
)
from colcrush.codecs import fsst

rng = np.random.default_rng(42)


# ------------------------------------------------------------ bit packing


@pytest.mark.parametrize("width", [0, 1, 3, 7, 8, 12, 16, 20, 32, 63])
def test_pack_unpack_roundtrip(width):
    n = 1000
    if width == 0:
        v = np.zeros(n, dtype=np.uint64)
    else:
        v = rng.integers(0, 1 << width, size=n, dtype=np.uint64)
    assert np.array_equal(unpack_bits(pack_bits(v, width), width, n), v)


def test_pack_bits_size():
    v = np.arange(8, dtype=np.uint64)
    assert len(pack_bits(v, 3)) == 3  # 8 values * 3 bits = 24 bits = 3 bytes


# ------------------------------------------------------------ int codecs


INT_CASES = [
    np.array([], dtype=np.int64),
    np.array([0], dtype=np.int64),
    np.array([7] * 5000, dtype=np.int64),  # constant -> RLE
    np.arange(10_000, dtype=np.int64),  # ramp -> delta
    np.arange(10_000, dtype=np.int64) * 1000 + 5,
    rng.integers(-(2**40), 2**40, 10_000).astype(np.int64),
    np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max, 0, -1, 1]),
    np.repeat(rng.integers(0, 4, 100), rng.integers(1, 50, 100)).astype(np.int64),
]


@pytest.mark.parametrize("case", range(len(INT_CASES)))
def test_int_roundtrip(case):
    v = INT_CASES[case]
    assert np.array_equal(decode_ints(encode_ints_best(v)), v)


def test_int_individual_codecs():
    """One input per payload tag, each picked by the selector itself."""
    i64 = np.iinfo(np.int64)
    cases = {
        0: rng.integers(i64.min, i64.max, 1000, dtype=np.int64),  # full range
        1: rng.integers(0, 16, 1000).astype(np.int64),  # small range: FOR
        2: np.arange(1000, dtype=np.int64) * 7 + 3,  # stride ramp: delta
        3: np.repeat(np.array([5, -3, 9, 1 << 40], dtype=np.int64), 500),
    }
    for tag, v in cases.items():
        blob = encode_ints_best(v)
        assert blob[0] == tag, f"expected tag {tag}, got {blob[0]}"
        assert np.array_equal(decode_ints(blob), v)


def test_int_codec_choices_compress():
    const = np.full(100_000, 42, dtype=np.int64)
    assert len(encode_ints_best(const)) < 200  # RLE collapses it
    ramp = np.arange(100_000, dtype=np.int64)
    assert len(encode_ints_best(ramp)) < 1000  # delta collapses it
    small_range = rng.integers(0, 16, 100_000).astype(np.int64)
    assert len(encode_ints_best(small_range)) < 100_000 * 8 // 10  # 4-bit pack


def test_forbp_overflow_guard():
    """A range that overflows int64 never picks FOR (tag 1)."""
    v = np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max])
    for allow_rle in (True, False):
        blob = encode_ints_best(v, allow_rle)
        assert blob[0] != 1
        assert np.array_equal(decode_ints(blob), v)


# ------------------------------------------------------------ fsst / bpe


def test_fsst_roundtrip_text():
    corpus = (b"def main(args):\n    return fetch(args)\n" * 500) + bytes(
        rng.integers(32, 127, 5000, dtype=np.uint8)
    )
    table = fsst.train(corpus)
    comp = fsst.compress(corpus, table)
    assert fsst.decompress(comp, table) == corpus
    assert len(comp) < len(corpus) // 2  # repetitive text compresses well


def test_fsst_all_bytes_used_falls_back():
    corpus = bytes(range(256)) * 100
    table = fsst.train(corpus)
    assert table == []  # no free codes -> empty table
    assert fsst.decompress(fsst.compress(corpus, table), table) == corpus


def test_fsst_expansion_cache_pure_and_bounded():
    """_expansions is memoized on table contents: hits return the same
    (read-only) arrays, equal tables built as distinct lists share one
    entry, and the bound triggers a full clear without changing
    results."""
    corpus = b"for i in range(n):\n    print(i)\n" * 200
    table = fsst.train(corpus)
    assert table, "fixture must train a non-empty table"
    a = fsst._expansions(table)
    b = fsst._expansions(list(table))  # equal contents, distinct list
    assert a[0] is b[0]  # cache hit
    assert not a[1].flags.writeable and not a[2].flags.writeable
    comp = fsst.compress(corpus, table)
    assert fsst.decompress(comp, table) == corpus
    # force eviction; decode must still be correct afterwards
    fsst._EXP_CACHE.clear()
    for i in range(fsst._EXP_CACHE_MAX + 2):
        fsst._expansions([(200, 97, (98 + i) % 256)])
    assert len(fsst._EXP_CACHE) <= fsst._EXP_CACHE_MAX
    assert fsst.decompress(comp, table) == corpus


def test_fsst_table_serialization():
    corpus = b"abcabcabcabc xyzxyzxyz " * 100
    table = fsst.train(corpus)
    ser = fsst.serialize_table(table)
    table2, off = fsst.deserialize_table(ser)
    assert table2 == table and off == len(ser)


# ------------------------------------------------------------ column codec


def _roundtrip(arr: pa.Array, **kw) -> tuple[pa.Array, dict]:
    blob, meta = encode_array(arr, **kw)
    out = decode_array(blob)
    return out, meta


ARRAYS = {
    "str_dictfriendly": pa.array(["scala", "python", "scala", "go"] * 1000),
    "str_unique": pa.array([f"id-{i}-{hashlib.md5(str(i).encode()).hexdigest()}" for i in range(2000)]),
    "str_with_nulls": pa.array(["a", None, "", None, "bb"] * 100),
    "str_empty": pa.array([], type=pa.string()),
    "str_all_null": pa.array([None, None], type=pa.string()),
    "str_unicode": pa.array(["déf ƒünc()", "λx→x", "中文注释", ""] * 50),
    "large_str": pa.array(["x" * 10000, "y"] * 10, type=pa.large_string()),
    "binary": pa.array([b"\x00\xff\x00", b"", None, b"abc"] * 50, type=pa.binary()),
    "int64": pa.array(rng.integers(-1000, 1000, 3000), type=pa.int64()),
    "int64_nulls": pa.array([1, None, 3, None, 5] * 100, type=pa.int64()),
    "int32": pa.array([0, -1, 2**31 - 1, -(2**31)] * 10, type=pa.int32()),
    "int16": pa.array([0, 1, -1, 32767, -32768] * 5, type=pa.int16()),
    "int8": pa.array([0, 127, -128] * 5, type=pa.int8()),
    "bool": pa.array([True] * 500 + [False, True] * 250),
    "bool_nulls": pa.array([True, None, False] * 100),
    "float32": pa.array(np.linspace(0, 1, 500).astype(np.float32), type=pa.float32()),
    "float64": pa.array([0.0, -0.0, 1.5, -2.25] * 100, type=pa.float64()),
    "float64_nulls": pa.array([1.0, None, 3.0] * 100, type=pa.float64()),
    "float16_nan_null": pa.array(
        np.array([1.5, np.nan, 0.0, -2.5] * 10, np.float16),
        mask=np.array([False, False, True, False] * 10),
    ),
    "ts_us": pa.array(
        [datetime.datetime(1969, 12, 31), datetime.datetime(2024, 2, 29, 23, 59, 59, 999999), None],
        type=pa.timestamp("us"),
    ),
    "date32": pa.array([datetime.date(1970, 1, 1), datetime.date(2200, 1, 1), None], type=pa.date32()),
    "decimal": pa.array(
        [decimal.Decimal("0"), decimal.Decimal("-1.5"), decimal.Decimal("12345678901234567890.123456789012345678"), None],
        type=pa.decimal128(38, 18),
    ),
    "list_int": pa.array([[1, 2], [], None, [3]], type=pa.list_(pa.int64())),
}
# the codec a case must take, where it has no other
ARRAY_CODECS = {"float16_nan_null": "ipc"}


@pytest.mark.parametrize("name", list(ARRAYS))
def test_column_roundtrip(name):
    arr = ARRAYS[name]
    out, meta = _roundtrip(arr)
    assert out.type == arr.type, f"{name}: type {out.type} != {arr.type}"
    assert out.equals(arr) or out.to_pylist() == arr.to_pylist(), f"{name} mismatch"
    assert meta["n_rows"] == len(arr)
    assert meta["n_nulls"] == arr.null_count
    if name in ARRAY_CODECS:
        assert meta["codec"] == ARRAY_CODECS[name]
        assert out.equals(arr)


def test_codec_selection_dict_for_categorical():
    _, meta = _roundtrip(pa.array(["python", "scala"] * 5000))
    assert meta["codec"] == "dict"
    assert meta["dict_size"] == 2


def test_codec_selection_fsst_for_templated_text():
    rows = [f"import os\nimport sys\n\ndef handler_{i}(event):\n    return os.path.join(event.path, 'x')\n" for i in range(500)]
    _, meta = _roundtrip(pa.array(rows))
    assert meta["codec"] == "fsst"
    blob, _ = encode_array(pa.array(rows))
    raw = sum(len(r.encode()) for r in rows)
    assert len(blob) < raw // 2


def test_codec_selection_plain_for_random_strings():
    rows = [rng.bytes(40).hex() for _ in range(500)]
    _, meta = _roundtrip(pa.array(rows))
    assert meta["codec"] in ("plain_str", "fsst")  # hex digits may still pair


def test_forced_codecs_all_roundtrip():
    """Each string-side codec, forced by the shape of its input (no
    knob picks a codec), roundtrips with a null and an empty string
    appended (a null only for the fixed-width binary). The fixed-width
    codecs and large_string roundtrip with a NULL first, in the middle
    and last."""
    code = [
        f"    result_{i} = compute(value_{i % 7}, offset={i})\n" for i in range(400)
    ]
    cases = {
        "dict": pa.array(["alpha", "beta"] * 200),
        "plain_str": pa.array([rng.bytes(4).hex() for _ in range(100)]),
        "fsst": pa.array(code),
        "ipc": pa.array([b"abcdef", b"ghijkl", None] * 50, type=pa.binary(6)),
    }
    for codec, arr in cases.items():
        tail = [None] if codec == "ipc" else [None, ""]
        arr = pa.concat_arrays([arr, pa.array(tail, type=arr.type)])
        blob, meta = encode_array(arr)
        assert meta["codec"] == codec
        assert decode_array(blob).to_pylist() == arr.to_pylist(), codec

    g = np.random.default_rng(7)

    def nulls_around(values, t):
        k = len(values) // 2
        return pa.array(
            [None, *values[:k], None, *values[k:], None], type=t
        )

    null_cases = [
        ("dict", nulls_around(
            g.choice(g.integers(0, 2**60, 4), 200).tolist(), pa.int64())),
        ("dict", nulls_around(g.choice(g.random(4), 200).tolist(),
                              pa.float64())),
        ("plain", nulls_around(g.random(50).astype(np.float32).tolist(),
                               pa.float32())),
        ("float_int", nulls_around([i / 4 for i in range(50)],
                                   pa.float32())),
        ("ints", nulls_around([0, -1, 2**31 - 1, -(2**31)] * 10,
                              pa.int32())),
        ("ints", nulls_around([0, 1000, 86_399_999] * 10,
                              pa.time32("ms"))),
        ("plain_str", nulls_around([g.bytes(4).hex() for _ in range(20)],
                                   pa.large_string())),
    ]
    for i, (codec, arr) in enumerate(null_cases):
        blob, meta = encode_array(arr)
        assert meta["codec"] == codec, f"null case {i}: {meta['codec']}"
        assert decode_array(blob).equals(arr), f"null case {i} roundtrip"


def test_minmax_stats_recorded():
    _, meta = _roundtrip(pa.array([5, 1, 9, None], type=pa.int64()))
    assert meta["min"] == 1 and meta["max"] == 9
    _, meta = _roundtrip(pa.array(["b", "a", "c"]))
    assert meta["min"] == "a" and meta["max"] == "c"


def test_content_sha_invariant():
    """The per-row invariant from BASELINE.json input_hint: content
    sha256 must match byte-for-byte after a round trip."""
    rows = ["def f():\n  pass\n", "", "π = 3.14159 # ünïcode", "x" * 70000]
    arr = pa.array(rows, type=pa.string())
    out, _ = _roundtrip(arr)
    src = [hashlib.sha256(r.encode("utf-8")).hexdigest() for r in rows]
    got = [hashlib.sha256(s.encode("utf-8")).hexdigest() for s in out.to_pylist()]
    assert src == got


def test_native_kernel_matches_numpy_bytes(monkeypatch):
    """The one-call C kernel, the re fallback, and the re path taken
    when the kernel declines a table (compress_table -> None) must give
    IDENTICAL compressed bytes (and exact roundtrips) — chunk identity
    can never depend on whether a host has a C compiler."""
    if fsst._native is None:
        pytest.skip("no C toolchain on this host")
    rng = np.random.default_rng(3)
    cases = [
        b"",
        b"a",
        b"ab" * 5000,
        ("def f(x):\n    return x\n\n" * 5000).encode(),
        rng.integers(0, 200, size=100_000, dtype=np.uint8).tobytes(),
    ]
    nat = fsst._native
    for i, rb in enumerate(cases):
        tb = fsst.train(rb)
        got = {}
        for name in ("native", "numpy", "declined"):
            with monkeypatch.context() as m:
                if name == "numpy":
                    m.setattr(fsst, "_native", None)
                elif name == "declined":
                    m.setattr(nat, "compress_table", lambda corpus, table: None)
                got[name] = fsst.compress(rb, tb)
                assert fsst.decompress(got[name], tb) == rb, f"case {i}: {name}"
        assert got["numpy"] == got["native"], f"case {i}: numpy diverges"
        assert got["declined"] == got["native"], f"case {i}: declined diverges"


def test_native_wrappers_check_kernel_output_sizes():
    """The ctypes wrappers check the C kernels' output sizes with a
    RuntimeError, which survives python -O (an assert would not, and a
    short expand would hand back an uninitialised tail). Sizes one too
    large leave the buffers big enough, so nothing overruns."""
    from colcrush.codecs import intcodec

    nat = fsst._native
    if nat is None:
        pytest.skip("no C toolchain on this host")
    corpus = b"for i in range(n):\n    print(i)\n" * 200
    table = fsst.train(corpus)
    a = np.frombuffer(fsst.compress(corpus, table), dtype=np.uint8)
    flat, starts, lens = fsst._expansions(table)
    total = nat.expand_total(a, lens)
    assert nat.expand(a, flat, starts, lens, total).tobytes() == corpus
    with pytest.raises(RuntimeError, match="expand"):
        nat.expand(a, flat, starts, lens, total + 1)
    v = np.array([4, 4, 9, 9, 9, 1], dtype=np.int64)
    n_runs = intcodec._stats(v)[4]
    assert n_runs == 3
    with pytest.raises(RuntimeError, match="extract_runs"):
        nat.extract_runs(v, n_runs + 1)


def test_native_fallback_warns_once_unless_disabled(monkeypatch, tmp_path):
    """A failed build falls back to numpy with one RuntimeWarning naming
    the cause; COLCRUSH_NATIVE=0 picks numpy without a warning."""
    import warnings

    from colcrush.codecs import _native as native_mod

    def boom(so):
        raise OSError("no compiler here")

    monkeypatch.setattr(native_mod, "_compile", boom)
    monkeypatch.setattr(native_mod, "_so_path", lambda: str(tmp_path / "k.so"))
    monkeypatch.delenv("COLCRUSH_NATIVE", raising=False)
    monkeypatch.setattr(native_mod, "_cached", False)
    with pytest.warns(RuntimeWarning, match="no compiler here"):
        assert native_mod.load() is None
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert native_mod.load() is None  # cached: no second warning
        monkeypatch.setenv("COLCRUSH_NATIVE", "0")
        monkeypatch.setattr(native_mod, "_cached", False)
        assert native_mod.load() is None


def test_trainer_parity_native_vs_fallback(monkeypatch):
    """The C trainer and the numpy/bytes.replace fallback must produce
    IDENTICAL (table, residual) — the cross-toolchain chunk-identity
    invariant rests on the batched trainer's alphabet-disjoint
    single-pass-replace == sequential-replace equivalence, which the
    compress-only parity test above cannot see (it trains once and only
    compares compress/decompress). Varied corpora (skewed alphabets,
    long runs, random bytes, templated code, near-full alphabets) at
    several batch caps, including caps above the C kernel's 64-entry
    set_pairs clamp."""
    import numpy as np

    from colcrush.codecs import fsst

    if fsst._native is None:
        pytest.skip("no C toolchain on this host")
    rng = np.random.default_rng(11)
    corpora = [
        b"ab" * 4000 + b"c",                       # skewed 2-symbol alphabet
        b"a" * 8000,                               # one long run (self-pairs)
        b"abcabcabd" * 2000,                       # overlapping-pair ties
        ("def f(x):\n    return x + 1\n\n" * 3000).encode(),
        rng.integers(0, 250, size=60_000, dtype=np.uint8).tobytes(),
        bytes(range(250)) * 300,                   # few free codes
        rng.integers(0, 256, size=4096, dtype=np.uint8).tobytes(),
        b"the quick brown fox jumps over the lazy dog " * 800,
    ]
    nat = fsst._native
    for bm in (1, 3, 8, 32, 200):
        monkeypatch.setattr(fsst, "_TRAIN_BATCH_MAX", bm)
        for i, rb in enumerate(corpora):
            try:
                got_nat = fsst.train_with_residual(rb)
                fsst._native = None
                got_py = fsst.train_with_residual(rb)
            finally:
                fsst._native = nat
            assert got_nat[0] == got_py[0], (
                f"batch_max={bm} case {i}: trainer tables diverge"
            )
            assert got_nat[1] == got_py[1], (
                f"batch_max={bm} case {i}: trainer residuals diverge"
            )


def test_decimal_codec_roundtrip():
    """DECIMAL(p<=18) rides the int path via exact unscaled-int64
    reinterpretation (parquet4s DecimalFormat.scala:21-123 parity);
    wider decimals — including the reference's DEFAULT DecimalType(38,18)
    (DecimalFormat.scala:21-26) — split the int128 unscaled value into
    hi/lo int64 words through the int codec (dec128), never IPC.
    Negatives, nulls, and scale boundaries round-trip exactly."""
    import decimal

    import pyarrow as pa

    from colcrush.codecs import decode_array, encode_array

    D = decimal.Decimal
    cases = [
        (pa.array([D("1.23"), D("-4.56"), None, D("99999999.99"), D("0.00")],
                   type=pa.decimal128(12, 2)), ("ints", "dict")),
        (pa.array([D("999999999999.999999"), D("-999999999999.999999")],
                   type=pa.decimal128(18, 6)), ("ints", "dict")),
        (pa.array([D(i) / 100 for i in range(1000)],
                   type=pa.decimal128(12, 2)), ("ints", "dict")),
        (pa.array([D("38.000000000000000001")],
                   type=pa.decimal128(38, 18)), ("dec128",)),
        (pa.array([D("-99999999999999999999.999999999999999999"),
                   D("99999999999999999999.999999999999999999"),
                   None, D("0.000000000000000000"),
                   D("-0.000000000000000001")],
                   type=pa.decimal128(38, 18)), ("dec128",)),
        (pa.array([D(i) + D("0.5") for i in range(2000)],
                   type=pa.decimal128(38, 18)), ("dec128",)),
    ]
    for i, (arr, codecs) in enumerate(cases):
        blob, meta = encode_array(arr)
        assert meta["codec"] in codecs, f"case {i}: {meta['codec']}"
        back = decode_array(blob)
        assert back.equals(arr), f"case {i} roundtrip"
    # money-like (38,18) columns compress hard: hi word is pure sign
    # extension (RLE), lo word FOR/delta-packs — vs 16 raw bytes/row
    money = pa.array([D(i * 7 % 10000) / 100 for i in range(20000)],
                     type=pa.decimal128(38, 18))
    blob, meta = encode_array(money)
    assert meta["codec"] == "dec128"
    assert len(blob) < 20000 * 4  # >4x better than raw FLBA(16)
    assert decode_array(blob).equals(money)


def test_nested_codec_roundtrip():
    """list/struct/map ride lightweight codecs (lengths through the int
    codec + recursively encoded children), not the IPC fallback —
    parquet builds nested values over encoded leaf pages the same way
    (/root/reference/core/.../ParquetRecord.scala:606-629)."""
    import pyarrow as pa

    from colcrush.codecs import decode_array, encode_array
    from colcrush.codecs.column import _enc_ipc

    cases = [
        (pa.array([[1, 2, 3], [4], None, [], [5, 6]],
                   type=pa.list_(pa.int64())), "list"),
        (pa.array([["aa", "bb"], ["cc"], None],
                   type=pa.list_(pa.string())), "list"),
        (pa.array([[[1], [2, 3]], [[4]]],
                   type=pa.list_(pa.list_(pa.int64()))), "list"),
        (pa.array([{"x": 1, "y": "a"}, None, {"x": 2, "y": "b"}],
                   type=pa.struct([("x", pa.int64()), ("y", pa.string())])),
         "struct"),
        (pa.array([{"a": 1}, {"b": 2}, None, {"c": 3, "d": 4}],
                   type=pa.map_(pa.string(), pa.int64())), "map"),
        (pa.array([[1.5, None, 2.5]], type=pa.list_(pa.float64())), "list"),
        (pa.array([], type=pa.list_(pa.int64())), "list"),
        (pa.array([None, None], type=pa.list_(pa.string())), "list"),
    ]
    for i, (arr, want) in enumerate(cases):
        blob, meta = encode_array(arr)
        assert meta["codec"] == want, f"case {i}: {meta['codec']}"
        assert decode_array(blob).equals(arr), f"case {i} roundtrip"
    # the codec must actually compress vs the old IPC fallback
    big = pa.array(
        [[j for j in range(i % 5)] for i in range(20000)],
        type=pa.list_(pa.int64()),
    )
    blob, meta = encode_array(big)
    assert meta["enc_bytes"] * 10 < len(_enc_ipc(big, big.type))
    assert decode_array(blob).equals(big)


def test_sliced_nested_arrays_roundtrip():
    """encode_array is public API over plain Arrow arrays: a SLICED
    MapArray (whose .keys/.items ignore the slice window while .offsets
    honor it) must round-trip the sliced entries, not the array head —
    also reached via list<map>.flatten() and struct<map>.field()."""
    import pyarrow as pa

    from colcrush.codecs import decode_array, encode_array

    m = pa.array(
        [{"a": 1}, {"b": 2}, {"c": 3}, {"d": 4, "e": 5}, {"f": 6}],
        type=pa.map_(pa.string(), pa.int64()),
    )
    cases = [
        m.slice(2, 2),
        m.slice(4),
        m.slice(0, 0),
        pa.array([[{"k": 1}], [{"k": 2}], [{"k": 3}, {"k": 4}]],
                 type=pa.list_(pa.map_(pa.string(), pa.int64()))).slice(1, 2),
        pa.array([{"x": i, "m": {"k": i}} for i in range(5)],
                 type=pa.struct([("x", pa.int64()),
                                 ("m", pa.map_(pa.string(), pa.int64()))])
                 ).slice(1, 3),
        pa.array([[1, 2], [3], [4, 5, 6], [7]],
                 type=pa.list_(pa.int64())).slice(1, 2),
        pa.array([{"a": 1}, None, {"c": 3}, {"d": 4}],
                 type=pa.map_(pa.string(), pa.int64())).slice(1, 3),
    ]
    for i, arr in enumerate(cases):
        blob, _ = encode_array(arr)
        got = decode_array(blob)
        assert got.to_pylist() == arr.to_pylist(), f"case {i}"


def test_pack_bits_out_of_range_native_matches_numpy():
    """pack_bits is public: values >= 2**width must truncate to the low
    bits identically on the native and numpy paths (the C kernel masks;
    numpy truncates implicitly) — out-of-range input may never corrupt
    subsequent packed values."""
    import os

    from colcrush.codecs import _native as native_mod

    v = np.array([5, (1 << 12) | 3, (1 << 40) | 7, 2], dtype=np.uint64)
    for width in (3, 5, 11, 17, 33):
        expect = pack_bits(v & np.uint64((1 << width) - 1), width)
        got = pack_bits(v, width)
        assert got == expect, f"width {width}"
        if native_mod.load() is not None and os.environ.get(
            "COLCRUSH_NATIVE", "1"
        ) != "0":
            assert native_mod.load().pack_bits(v, width) == expect


def test_stat_num_int_beyond_2_53_widens():
    """int64 stats beyond 2**53 lose precision as doubles; the stored
    bound must widen one ulp outward so range pruning never drops a
    chunk whose true extreme beats the filter value."""
    import math

    from colcrush.engine.encoder import _stat_num

    v = (1 << 60) + 1  # rounds to 2**60 as a double
    lo = _stat_num(v, toward=float("-inf"))
    hi = _stat_num(v, toward=float("inf"))
    assert lo < v < hi
    # exactly representable ints stay exact
    assert _stat_num(1 << 60, toward=float("-inf")) == float(1 << 60)
    assert _stat_num(42, toward=float("-inf")) == 42.0
    # decimal behavior unchanged
    import decimal
    d = decimal.Decimal("1.10")
    assert _stat_num(d, toward=float("-inf")) == math.nextafter(float(d), float("-inf"))


def test_native_so_refuses_unsafe_file(tmp_path, monkeypatch):
    """The .so loader must not dlopen a library another user could have
    planted: wrong owner or group/other-writable bits are rejected."""
    import os

    from colcrush.codecs import _native as native_mod

    p = tmp_path / "x.so"
    p.write_bytes(b"not a real so")
    os.chmod(p, 0o755)  # group/other readable but not writable — ok bits
    assert native_mod._safe_to_load(str(p))
    os.chmod(p, 0o777)  # world-writable — must refuse
    assert not native_mod._safe_to_load(str(p))


def test_user_registered_value_codec():
    """ValueCodec analog (/root/reference/core/.../ValueCodec.scala,
    examples/.../CustomType.scala): a user-registered codec maps a
    custom-typed column to a storage type the built-ins compress; the
    engine handles nulls and the round trip is exact. Decoding without
    the registration fails loudly."""
    import pyarrow as pa
    import pytest

    from colcrush.codecs import (
        decode_array,
        encode_array,
        register_value_codec,
        unregister_value_codec,
    )

    # custom type: fixed 4-byte big-endian ids stored as int64
    register_value_codec(
        "be4-id",
        matches=lambda t: t == pa.binary(4),
        to_storage=lambda nn: pa.array(
            [int.from_bytes(v.as_py(), "big") for v in nn], type=pa.int64()
        ),
        from_storage=lambda st, t: pa.array(
            [int(v.as_py()).to_bytes(4, "big") for v in st], type=t
        ),
    )
    try:
        arr = pa.array(
            [b"\x00\x00\x01\x02", None, b"\xff\x00\x00\x01"],
            type=pa.binary(4),
        )
        blob, meta = encode_array(arr)
        assert meta["codec"] == "custom"
        assert decode_array(blob).equals(arr)
        unregister_value_codec("be4-id")
        with pytest.raises(ValueError, match="not registered"):
            decode_array(blob)
    finally:
        unregister_value_codec("be4-id")


def test_native_so_dir_enforces_private_permissions(monkeypatch, tmp_path):
    """_so_dir must not trust a pre-existing cache dir with loose
    permissions (review finding: a pre-created world-accessible dir at
    the predictable name enables a TOCTOU .so swap between the stat
    check and dlopen). A loose dir is re-restricted to 0700."""
    import os
    import tempfile as tf

    from colcrush.codecs import _native as native_mod

    monkeypatch.setattr(tf, "gettempdir", lambda: str(tmp_path))
    uid = os.getuid()
    pre = tmp_path / f"colcrush-{uid}"
    pre.mkdir(mode=0o777)
    os.chmod(pre, 0o777)  # simulate an attacker-created loose dir
    d = native_mod._so_dir()
    assert d == str(pre)
    assert (os.stat(d).st_mode & 0o077) == 0  # group/other closed

    # fresh create path: 0700 from the start
    import shutil
    shutil.rmtree(pre)
    d2 = native_mod._so_dir()
    assert (os.stat(d2).st_mode & 0o077) == 0


def test_string_restore_rejects_inconsistent_lengths():
    """Zero-copy string decode must not build an arrow array whose
    offsets point past the data buffer (corrupted/truncated payload):
    it raises instead of reading out of bounds."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from colcrush.codecs.column import _string_restore

    with pytest.raises(ValueError, match="corrupt string payload"):
        _string_restore(
            np.array([5], dtype=np.int64), b"abc", pa.string(), None
        )


def test_strided_sample_contract():
    """strided_sample: <= cap bytes, pure function of the blob, whole
    blob returned when it fits, slices drawn from across the blob (not
    a prefix), and degenerate caps/slice lengths stay well-formed."""
    import struct

    # position-stamped blob: every 8 bytes encode their own offset, so
    # substring membership pins WHERE a sample byte came from
    blob = b"".join(struct.pack("<q", i) for i in range(32768))  # 256 KiB
    assert fsst.strided_sample(blob, 1 << 20, 256) is blob  # fits: whole blob
    s = fsst.strided_sample(blob, 1 << 14, 256)
    assert len(s) <= (1 << 14)
    assert s == fsst.strided_sample(blob, 1 << 14, 256)  # deterministic
    # coverage: the sample must contain stamps from the final 2% of the
    # blob (a prefix sample never would)
    assert any(
        struct.pack("<q", i) in s for i in range(32768 - 650, 32768)
    )
    # cap smaller than one slice: exactly cap bytes, no error
    tiny = fsst.strided_sample(blob, 100, 256)
    assert len(tiny) == 100
    # slice longer than blob/steps still bounded by cap
    wide = fsst.strided_sample(blob, 1 << 12, 1 << 13)
    assert 0 < len(wide) <= (1 << 12)
    assert fsst.strided_sample(b"", 1 << 14, 256) == b""


def test_entropy_archive_profile_roundtrip():
    """'archive' profile: the finished lightweight blob is zstd-wrapped
    whenever the wrap shrinks it (the compressionCodecName analog —
    ParquetWriter.scala:79,92). Self-describing: decode needs no knob.
    Default profiles never wrap (goldens untouched)."""
    import pyarrow as pa
    import decimal

    from colcrush.codecs.column import decode_array, encode_array

    # highly-compressible text: FSST result still has zstd headroom
    vals = [f"def handler_{i % 7}(request, response): return {i % 3}" for i in range(4000)]
    vals[5] = None
    arr = pa.array(vals)
    bal_blob, bal_meta = encode_array(arr, profile="balanced")
    arc_blob, arc_meta = encode_array(arr, profile="archive")
    assert "+zstd" not in bal_meta["codec"]
    assert arc_meta["codec"].endswith("+zstd")
    assert len(arc_blob) < len(bal_blob)
    assert arc_meta["enc_bytes"] == len(arc_blob)
    assert decode_array(arc_blob).to_pylist() == vals
    # deterministic within a fixed library build
    again, _ = encode_array(arr, profile="archive")
    assert again == arc_blob

    # other families through the wrap: ints, decimal, nested list
    for a in (
        pa.array([i % 5 for i in range(3000)], type=pa.int32()),
        pa.array(
            [decimal.Decimal("12.34") + decimal.Decimal(i % 9) for i in range(2000)],
            type=pa.decimal128(10, 2),
        ),
        pa.array([[f"tok{i % 4}"] * 3 for i in range(2000)]),
    ):
        blob, meta = encode_array(a, profile="archive")
        assert decode_array(blob).to_pylist() == a.to_pylist()

    # stats and null accounting survive the wrap (manifest correctness)
    assert arc_meta["n_rows"] == 4000 and arc_meta["n_nulls"] == 1


def test_entropy_wrap_skipped_when_not_smaller():
    """Incompressible payloads must NOT be wrapped (the wrap is a pure
    size comparison on the finished blob) — and tiny blobs never pay
    the frame."""
    import os as _os
    import pyarrow as pa

    from colcrush.codecs.column import decode_array, encode_array

    rng = __import__("numpy").random.default_rng(7)
    junk = [rng.bytes(64) for _ in range(512)]  # random binary: zstd gains ~0
    arr = pa.array(junk, type=pa.binary())
    blob, meta = encode_array(arr, profile="archive")
    assert "+zstd" not in meta["codec"]
    assert decode_array(blob).to_pylist() == junk

    small = pa.array(["ab", "ab"])  # < _ENTROPY_MIN: never attempted
    blob2, meta2 = encode_array(small, profile="archive")
    assert "+zstd" not in meta2["codec"]
    assert decode_array(blob2).to_pylist() == ["ab", "ab"]


def test_constant_dict_shortcut_byte_parity(monkeypatch):
    """The constant-column dict shortcut must produce bytes identical
    to the generic pc.dictionary_encode path (group columns are
    constant within every shard — this path runs once per chunk per
    group column, and a byte drift would silently change chunk ids)."""
    import pyarrow as pa

    from colcrush.codecs import column as col

    cases = [
        pa.array(["same-value"] * 500),
        pa.array(["same-value"] * 500 + [None] * 7),
        pa.array([b"\x00\xffbin"] * 300, type=pa.binary()),
        pa.array([""] * 400),            # constant EMPTY string
        pa.array(["x"]),                 # single row
        pa.array(["long-" + "y" * 900] * 1200),  # FSST-eligible blob size
    ]
    for arr in cases:
        fast_blob, fast_meta = col.encode_array(arr)
        with monkeypatch.context() as m:
            m.setattr(col, "_constant_dict", lambda nn, lengths, blob: None)
            slow_blob, slow_meta = col.encode_array(arr)
        assert fast_blob == slow_blob, arr.type
        assert fast_meta == slow_meta
        assert col.decode_array(fast_blob).to_pylist() == arr.to_pylist()

    # non-constant columns take the generic path (shortcut returns None)
    import numpy as np

    nn = pa.array(["a", "b", "a", "c"])
    lengths = np.array([1, 1, 1, 1], dtype=np.int64)
    assert col._constant_dict(nn, lengths, b"abac") is None
    # equal lengths, different bytes
    assert col._constant_dict(
        pa.array(["aa", "ab"]), np.array([2, 2], dtype=np.int64), b"aaab"
    ) is None
