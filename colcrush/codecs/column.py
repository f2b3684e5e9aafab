"""Column-chunk codec layer: pa.Array <-> self-describing encoded blob.

This is the engine's replacement for the per-chunk encoding layer that
parquet4s delegates to parquet-mr (dictionary with size-based fallback,
RLE/bit-packed hybrid, plain — knobs at
/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/ParquetWriter.scala:79-100).
Here the codec choice is explicit and *auto-selected per chunk* via
cheap sampled size estimation (SURVEY.md §7 step 3).

Container layout (little-endian):
  magic 'CC1' + version byte
  u32 schema_len | arrow-serialized single-field schema
  u8  codec_id
  i64 n_rows | i64 null_count
  [null bitmap, ceil(n/8) bytes, LSB-first, bit set = NULL]
      (iff null_count > 0, all-NULL included; never for IPC or ENTROPY)
  payload (codec-specific)

Codecs (every payload but IPC's holds the non-null values only):
  PLAIN_FIXED raw float32/float64 buffer
  INTS        best-of plain/FOR+bitpack/delta/RLE over int64 views
              (integers, bool, date/time/timestamp, decimal precision <= 18)
  PLAIN_STR   int-encoded lengths + concatenated bytes
  DICT        sorted dictionary (recursively encoded) + int-encoded codes
  FSST        symbol table + int-encoded lengths + compressed bytes
  IPC         arrow IPC stream, nulls inline: the types no other codec
              takes (fixed-size binary, uint64, duration, ...)
  FLOAT_INT   floats that are exact decimals: scale + int-encoded x*scale
  LIST        int-encoded lengths + recursively encoded flattened values
  STRUCT      one recursively encoded blob per field
  MAP         int-encoded lengths + recursively encoded keys and items
  CUSTOM      registered value-codec name + recursively encoded storage
  DEC128      decimal128 precision > 18: descaled int64, int64 deltas,
              or hi/lo int64 words
  ENTROPY     zstd-wrapped finished container (profile "archive")

Nulls are stripped once on encode (``nn`` plus the bitmap) and put
back once on decode: each codec decoder returns the non-null values,
and ``decode_array`` spreads them to full length through ``_spread``
(numpy values) or ``_scatter`` (Arrow arrays).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import fsst as fsst_mod
from .intcodec import decode_ints, encode_ints_best

MAGIC = b"CC1\x01"

PLAIN_FIXED = 0
INTS = 1
PLAIN_STR = 2
DICT = 3
FSST = 4
IPC = 5
FLOAT_INT = 6
LIST = 7
STRUCT = 8
MAP = 9
CUSTOM = 10
DEC128 = 11
ENTROPY = 12

CODEC_NAMES = {
    PLAIN_FIXED: "plain",
    INTS: "ints",
    PLAIN_STR: "plain_str",
    DICT: "dict",
    FSST: "fsst",
    IPC: "ipc",
    FLOAT_INT: "float_int",
    LIST: "list",
    STRUCT: "struct",
    MAP: "map",
    CUSTOM: "custom",
    DEC128: "dec128",
    ENTROPY: "entropy",
}

# ------------------------------------------------------- entropy layer
#
# General-purpose entropy coding OVER the finished lightweight blob —
# the engine's analog of parquet4s's compressionCodecName writer option
# (/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/ParquetWriter.scala:79,92:
# .withCompressionCodec wraps finished pages the same way). The default
# profiles stay pure lightweight codecs (decode stays cheap and
# vectorized); the 'archive' profile additionally zstd-wraps any
# chunk-column blob the wrap actually shrinks — the cold-tier trade at
# 100 TB, where storage dollars beat decode CPU. Container: ENTROPY
# codec id, payload = blk(codec_name) + i64 raw_len + compressed bytes;
# decode decompresses and recurses, so readers need no knob.
#
# CAVEAT (documented, test-pinned): zstd output bytes are deterministic
# for a fixed pyarrow build but NOT guaranteed stable across zstd
# library versions — archive-profile datasets keep row/chunk-ID
# determinism always, but byte-level N-vs-4N/resume identity only under
# a fleet-pinned pyarrow (which real clusters pin anyway). Default
# profiles are unaffected; format goldens cover them unchanged.

_ENTROPY_PROFILE: dict[str, tuple[str, int]] = {"archive": ("zstd", 3)}
_ENTROPY_MIN = 512  # blobs below this never repay the frame + CPU


def _entropy_wrap(
    blob: bytes, codec: str, level: int, schema_ser: bytes, n: int,
    null_count: int,
) -> bytes | None:
    """zstd/lz4-wrap a finished container blob; None when the wrap does
    not shrink it (pure function of the blob bytes, so chunk output
    stays deterministic for a fixed library build)."""
    z = pa.Codec(codec, compression_level=level).compress(blob, asbytes=True)
    head = MAGIC + struct.pack("<I", len(schema_ser)) + schema_ser
    head += struct.pack("<Bqq", ENTROPY, n, null_count)
    wrapped = head + _blk(codec.encode()) + struct.pack("<q", len(blob)) + z
    return wrapped if len(wrapped) < len(blob) else None

# ------------------------------------------------- user codec registry
#
# parquet4s ValueCodec analog (/root/reference/core/src/main/scala/com/
# github/mjakubowski84/parquet4s/ValueCodec.scala and
# examples/.../CustomType.scala): users register how a custom-typed
# column maps to a storage representation the built-in codecs already
# compress; the engine handles nulls, stats, and codec selection on the
# storage form. Like the reference's implicit-in-scope requirement,
# a registration must be importable wherever decode runs (register at
# import time of a module shipped via --py-files on a real cluster).

_VALUE_CODECS: dict[str, tuple] = {}


def register_value_codec(
    name: str,
    matches,
    to_storage,
    from_storage,
) -> None:
    """Register a custom value codec.

    matches(arrow_type) -> bool — claims a column type;
    to_storage(non_null_array) -> array of a built-in-codec-able type;
    from_storage(storage_array, original_type) -> original-typed array.
    The round trip must be exact: decode asserts the declared type.
    """
    _VALUE_CODECS[name] = (matches, to_storage, from_storage)


def unregister_value_codec(name: str) -> None:
    _VALUE_CODECS.pop(name, None)


def _match_value_codec(t: pa.DataType):
    for name, (matches, to_s, from_s) in _VALUE_CODECS.items():
        if matches(t):
            return name, to_s, from_s
    return None

# ------------------------------------------------------------------ helpers


def _is_float(t: pa.DataType) -> bool:
    """float32 or float64: the widths the float codecs and the stats
    take. float16 has no numpy-free kernels in pyarrow (``pc.is_nan``
    and ``pc.min_max`` refuse it), so it rides IPC without stats."""
    return pa.types.is_float32(t) or pa.types.is_float64(t)


def _is_intlike(t: pa.DataType) -> bool:
    return (
        pa.types.is_integer(t)
        and not pa.types.is_uint64(t)
        or pa.types.is_date(t)
        or pa.types.is_timestamp(t)
        or pa.types.is_time(t)
        or pa.types.is_boolean(t)
        # decimal128 with precision <= 18: the unscaled value provably
        # fits int64, so money columns ride the FOR/delta/bit-pack int
        # path EXACTLY (parquet4s encodes these as INT64 with rescale —
        # DecimalFormat.scala:21-123). Wider decimals keep the IPC
        # fallback.
        or (isinstance(t, pa.Decimal128Type) and t.precision <= 18)
    )


def _int_view(nn: pa.Array) -> np.ndarray:
    """Non-null int-like array -> int64 numpy."""
    t = nn.type
    if isinstance(t, pa.Decimal128Type):
        # unscaled int64: precision <= 18 guarantees the high word is
        # pure sign extension of the low
        return _dec128_words(nn)[0]
    if pa.types.is_boolean(t):
        return nn.to_numpy(zero_copy_only=False).astype(np.int64)
    if pa.types.is_timestamp(t) or pa.types.is_time64(t) or pa.types.is_date64(t):
        return nn.cast(pa.int64()).to_numpy(zero_copy_only=False).astype(np.int64)
    if pa.types.is_date32(t) or pa.types.is_time32(t):
        return nn.cast(pa.int32()).to_numpy(zero_copy_only=False).astype(np.int64)
    return nn.cast(pa.int64()).to_numpy(zero_copy_only=False).astype(np.int64)


def _int_restore(full: np.ndarray, t: pa.DataType, mask: np.ndarray | None) -> pa.Array:
    """Full-length int64 values (zeros under the nulls) -> typed array."""
    if isinstance(t, pa.Decimal128Type):
        # exact inverse of _int_view: sign-extend into the high word
        return _dec128_array(full, full >> 63, t, mask)
    if pa.types.is_boolean(t):
        return pa.array(full.astype(bool), mask=mask)
    arr = pa.array(full, mask=mask)  # int64
    if pa.types.is_date32(t) or pa.types.is_time32(t):
        return arr.cast(pa.int32()).cast(t)
    return arr.cast(t)


def _dec128_words(nn: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(lo, hi) int64 words of a decimal128 array's 16-byte
    little-endian two's-complement storage."""
    words = np.frombuffer(
        nn.buffers()[1], dtype=np.int64, offset=nn.offset * 16,
        count=2 * len(nn),
    )
    return words[0::2].copy(), words[1::2].copy()


def _dec128_array(
    lo: np.ndarray, hi: np.ndarray, t: pa.DataType, mask: np.ndarray | None
) -> pa.Array:
    """decimal128 array from full-length int64 words (inverse of
    _dec128_words)."""
    buf = np.empty((len(lo), 2), dtype=np.int64)
    buf[:, 0] = lo
    buf[:, 1] = hi
    return pa.Array.from_buffers(
        t, len(lo), [_validity(mask), pa.py_buffer(buf)]
    )


def _validity(mask: np.ndarray | None) -> pa.Buffer | None:
    """Arrow validity bitmap (bit set = valid) for a null mask."""
    if mask is None:
        return None
    return pa.py_buffer(np.packbits(~mask, bitorder="little"))


def _spread(values: np.ndarray, mask: np.ndarray | None) -> np.ndarray:
    """Non-null numpy values -> full length, zeros under the nulls."""
    if mask is None:
        return values
    full = np.zeros(len(mask), dtype=values.dtype)
    full[~mask] = values
    return full


def _scatter(nn: pa.Array, t: pa.DataType, mask: np.ndarray | None) -> pa.Array:
    """Non-null Arrow values -> full length, NULL under the mask, as t."""
    if mask is not None:
        idx = np.zeros(len(mask), dtype=np.int64)
        idx[~mask] = np.arange(len(nn), dtype=np.int64)
        nn = nn.take(pa.array(idx, mask=mask))
    return nn if nn.type == t else nn.cast(t)


def _string_parts(nn: pa.Array) -> tuple[np.ndarray, bytes]:
    """Non-null string/binary array -> (lengths int64, concatenated bytes).

    Reads the offsets buffer at its NATIVE width (int32 for
    string/binary, int64 for the large_ variants) instead of casting to
    large_binary first — the cast rebuilt the whole offsets buffer per
    call and this runs once per string chunk-column. The data buffer is
    identical either way, so lengths/blob (and thus encoded bytes) are
    unchanged."""
    if len(nn) == 0:
        return np.zeros(0, dtype=np.int64), b""
    t = nn.type
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        width, dtype = 8, np.int64
    elif pa.types.is_string(t) or pa.types.is_binary(t):
        width, dtype = 4, np.int32
    else:  # string_view etc.: no plain offsets buffer — cast once
        nn = nn.cast(pa.large_binary())
        width, dtype = 8, np.int64
    bufs = nn.buffers()
    off = nn.offset
    offsets = np.frombuffer(
        bufs[1], dtype=dtype, count=len(nn) + 1, offset=off * width
    )
    data = bufs[2]
    blob = data[offsets[0] : offsets[-1]].to_pybytes()
    lengths = np.diff(offsets.astype(np.int64))
    return lengths, blob


def _string_restore(
    lengths: np.ndarray, blob: bytes, t: pa.DataType, mask: np.ndarray | None
) -> pa.Array:
    """Full-length lengths (zeros under the nulls) + concatenated
    bytes -> typed array."""
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    # zero-copy buffers (py_buffer holds the ndarray refs) and direct
    # large_string construction: the old binary->string cast re-scanned
    # every byte for UTF-8 validation that a roundtrip of valid strings
    # cannot fail, and offsets.tobytes()/blob.tobytes() copied the
    # whole column once more. from_buffers trusts its inputs, so guard
    # the one unsafe failure mode ourselves: lengths inconsistent with
    # the blob (truncated/corrupted payload) would otherwise build an
    # array whose offsets read past the data buffer
    if int(offsets[-1]) != len(blob):
        raise ValueError(
            f"corrupt string payload: lengths sum to {int(offsets[-1])} "
            f"but data holds {len(blob)} bytes"
        )
    target_is_str = pa.types.is_string(t) or pa.types.is_large_string(t)
    arr = pa.Array.from_buffers(
        pa.large_string() if target_is_str else pa.large_binary(),
        n,
        [_validity(mask), pa.py_buffer(offsets), pa.py_buffer(blob)],
    )
    return arr if arr.type == t else arr.cast(t)


def _blk(b: bytes) -> bytes:
    return struct.pack("<q", len(b)) + b


def _unblk(data: bytes, off: int) -> tuple[bytes, int]:
    (n,) = struct.unpack_from("<q", data, off)
    off += 8
    return data[off : off + n], off + n


# ------------------------------------------------------------ codec bodies


def _enc_plain_fixed(nn: pa.Array) -> bytes:
    t = nn.type
    if pa.types.is_float32(t):
        v = nn.to_numpy(zero_copy_only=False).astype(np.float32)
    elif pa.types.is_float64(t):
        v = nn.to_numpy(zero_copy_only=False).astype(np.float64)
    else:
        raise TypeError(f"plain_fixed unsupported for {t}")
    return v.tobytes()


def _dec_plain_fixed(payload: bytes, t: pa.DataType, n_valid: int) -> np.ndarray:
    dtype = np.float32 if pa.types.is_float32(t) else np.float64
    return np.frombuffer(payload, dtype=dtype, count=n_valid)


_FSST_PROFILE = {
    # (sample_cap, sample_slice_len, max_symbols, min_count_frac)
    # Training samples are STRIDED (fsst_mod.strided_sample): cap//slice
    # evenly-spaced slices instead of a prefix. Measured on the 370 MB
    # bench corpus (511 shards) vs the r5 prefix caps: balanced
    # 2.45->1.25 train+compress CPU-s AND 37.00->35.43 MB encoded
    # (-3.8%); fast 1.28->0.82 CPU-s at +0.7% bytes; max 7.07->4.09
    # CPU-s at +0.8% bytes. Intentional format change (r6): goldens
    # regenerated; decode is unaffected (tables ship in the payload).
    "fast": (1 << 14, 256, 96, 0.002),
    "balanced": (1 << 15, 256, 224, 0.0004),
    "max": (1 << 19, 512, 248, 0.0001),
}


def _enc_fsst(
    lengths: np.ndarray, blob: bytes, table: list, comp: bytes | None = None
) -> bytes:
    if comp is None:
        comp = fsst_mod.compress(blob, table)
    return (
        fsst_mod.serialize_table(table)
        + _blk(encode_ints_best(lengths))
        + _blk(comp)
    )


def _dec_fsst(payload: bytes) -> tuple[np.ndarray, "bytes | np.ndarray"]:
    table, off = fsst_mod.deserialize_table(payload, 0)
    lenb, off = _unblk(payload, off)
    comp, off = _unblk(payload, off)
    lengths = decode_ints(lenb)
    # raw ndarray: _string_restore wraps it zero-copy in an arrow buffer
    return lengths, fsst_mod.decompress_raw(comp, table)


# ------------------------------------------------------------ public API


_SCHEMA_SER_CACHE: dict = {}


def _schema_ser(t: pa.DataType) -> bytes:
    """Serialized single-field arrow schema for the self-describing
    header — cached per type: a table has ~5 distinct column types but
    encode_array runs once per chunk-column (thousands of times per
    task), and schema serialization allocates IPC buffers each call.
    Pure lookup, identical bytes — payloads unchanged."""
    ser = _SCHEMA_SER_CACHE.get(t)
    if ser is None:
        ser = pa.schema([pa.field("c", t)]).serialize().to_pybytes()
        _SCHEMA_SER_CACHE[t] = ser
    return ser


def encode_array(
    arr: pa.Array,
    profile: str = "balanced",
    _allow_dict: bool = True,
    kernel_cache: dict | None = None,
    _entropy: bool = True,
) -> tuple[bytes, dict]:
    """Encode a pa.Array; returns (blob, meta).

    meta: codec, n_rows, n_nulls, raw_bytes, enc_bytes, dict_size,
    min/max (python values or None).

    ``_entropy=False`` marks a NESTED call (dict values, list children,
    struct fields, custom inner): the entropy layer wraps only the
    outermost container — compressing an inner blob and then the outer
    one again would burn CPU re-compressing compressed bytes.
    """
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    n = len(arr)
    null_count = arr.null_count
    schema_ser = _schema_ser(t)

    mask = None
    if 0 < null_count:
        mask = ~arr.is_valid().to_numpy(zero_copy_only=False).astype(bool)
    nn = arr.drop_null() if null_count else arr

    meta: dict = {"n_rows": n, "n_nulls": null_count}

    is_str = (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    )
    str_parts = _string_parts(nn) if is_str else None

    # stats: skip for long-string columns (avg > 256B) — truncated
    # bounds on multi-KB text never prune anything, and min_max over
    # megabytes of strings costs a full scan
    mn = mx = None
    want_stats = n > null_count and (
        _is_intlike(t)
        or _is_float(t)
        or isinstance(t, pa.Decimal128Type)
    )
    if (
        n > null_count
        and (pa.types.is_string(t) or pa.types.is_large_string(t))
        and str_parts is not None
        and (len(str_parts[1]) <= 256 * max(1, len(nn)))
    ):
        want_stats = True
    if want_stats and _is_float(t) and pc.any(
        pc.is_nan(nn)
    ).as_py():
        # NaN is invisible to pc.min_max but Spark orders it above every
        # double, so range pruning on [min, max] would wrongly drop a
        # chunk whose only matches are NaN. Null stats = never pruned
        # (parquet-writer behavior for NaN pages).
        want_stats = False
    if want_stats:
        mm = pc.min_max(arr)
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
    meta["min"], meta["max"] = mn, mx

    dict_size = 0
    custom = _match_value_codec(t)
    if custom is not None:
        name, to_s, _ = custom
        inner, _ = encode_array(to_s(nn), profile=profile, _entropy=False)
        codec_id, payload = CUSTOM, _blk(name.encode()) + _blk(inner)
    elif pa.types.is_list(t) or pa.types.is_large_list(t):
        # lightweight nested codec: element lengths through the int
        # codec, flattened values recursively through the full selector
        # (so list<string> content gets FSST, list<int> gets FOR/delta —
        # the IPC fallback compressed neither). parquet encodes nested
        # values through real pages the same way (ParquetRecord.scala:
        # 606-629 in /root/reference builds groups over encoded leaves).
        codec_id, payload = LIST, _enc_list(nn, profile)
    elif pa.types.is_struct(t):
        codec_id, payload = STRUCT, _enc_struct(nn, profile)
    elif pa.types.is_map(t):
        codec_id, payload = MAP, _enc_map(nn, profile)
    elif isinstance(t, pa.Decimal128Type) and t.precision > 18:
        # precision > 18 (precision <= 18 took the single-int64 path via
        # _is_intlike): the reference's DEFAULT decimal is
        # DecimalType(38, 18) stored as FIXED_LEN_BYTE_ARRAY(16)
        # (/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/DecimalFormat.scala:21-26)
        # — split the 128-bit unscaled value into hi/lo int64 words,
        # each through the best-of int codec. Real money/quantity
        # columns have an all-sign-extension hi word (RLE collapses it)
        # and a FOR/delta-packable lo word.
        codec_id, payload = DEC128, _enc_dec128(nn)
    elif not (is_str or _is_intlike(t) or _is_float(t)):
        # IPC keeps the original array (nulls inline)
        codec_id, payload = IPC, _enc_ipc(arr, t)
    else:
        codec_id, payload, dict_size = _choose(
            nn, t, profile, _allow_dict, str_parts, kernel_cache
        )
    meta["dict_size"] = dict_size
    meta["codec"] = CODEC_NAMES[codec_id]

    head = MAGIC + struct.pack("<I", len(schema_ser)) + schema_ser
    head += struct.pack("<Bqq", codec_id, n, null_count)
    if mask is not None and codec_id != IPC:
        head += np.packbits(mask, bitorder="little").tobytes()
    blob = head + payload
    ent = _ENTROPY_PROFILE.get(profile) if _entropy else None
    if ent is not None and len(blob) >= _ENTROPY_MIN:
        wrapped = _entropy_wrap(blob, ent[0], ent[1], schema_ser, n, null_count)
        if wrapped is not None:
            blob = wrapped
            meta["codec"] = f"{meta['codec']}+{ent[0]}"
    meta["enc_bytes"] = len(blob)
    meta["raw_bytes"] = len(str_parts[1]) if str_parts is not None else _raw_bytes(arr)
    return blob, meta


def _raw_bytes(arr: pa.Array) -> int:
    """Uncompressed size of a non-string array (strings count their
    value bytes, from ``_string_parts``)."""
    t = arr.type
    if pa.types.is_boolean(t):
        return len(arr)
    try:
        return len(arr) * t.bit_width // 8
    except (ValueError, AttributeError):
        return arr.nbytes


def _choose(
    nn: pa.Array,
    t: pa.DataType,
    profile: str,
    allow_dict: bool,
    str_parts: tuple | None,
    kernel_cache: dict | None,
) -> tuple[int, bytes, int]:
    """Smallest codec for a null-free string, int-like or float array:
    (codec id, payload, dictionary size or 0). ``str_parts`` is
    ``_string_parts(nn)`` for strings, else None."""
    if str_parts is not None:
        lengths, blob = str_parts
        candidates: list[tuple[int, int]] = []  # (est_size, codec)
        len_enc = encode_ints_best(lengths)
        plain_size = len(len_enc) + len(blob) + 16
        candidates.append((plain_size, PLAIN_STR))
        # cross-chunk table reuse (same group = same distribution):
        # skip training when the previous chunk's table is still valid
        # and achieves a comparable ratio — the big multi-chunk shards
        # are exactly where encode throughput matters
        if kernel_cache is not None and "fsst" in kernel_cache and len(blob) >= 1024:
            table, ref_ratio = kernel_cache["fsst"]
            present = fsst_mod._presence(blob)
            if not any(present[code] for code, _, _ in table):
                comp = fsst_mod.compress(blob, table)
                ratio = len(comp) / max(1, len(blob))
                if ratio <= ref_ratio * 1.15:
                    payload = _enc_fsst(lengths, blob, table, comp)
                    if len(payload) < plain_size:
                        return FSST, payload, 0
            del kernel_cache["fsst"]  # stale — retrain below
        # gate the full-column dictionary_encode behind a 4096-row
        # probe: on high-cardinality long text (the FSST home turf) the
        # full estimate costs a pass over every byte just to learn that
        # dict loses. The probe is a deterministic prefix, so codec
        # choice stays a pure function of the chunk bytes.
        dict_plausible = allow_dict
        const_denc = _constant_dict(nn, lengths, blob) if allow_dict else None
        if const_denc is None and allow_dict and len(nn) > 4096:
            dict_plausible = _dict_estimate(nn.slice(0, 4096))[0] is not None
        dict_est, denc = (
            _dict_estimate(nn, const_denc) if dict_plausible else (None, None)
        )
        if dict_est is not None:
            candidates.append((dict_est, DICT))
        fsst_table = None
        # skip FSST training when the dictionary already beats plain by
        # 8x: symbol compression never reaches 1/8 on value bytes a
        # dictionary collapses that hard (measured floor ~0.2 on
        # templated code), so the training pass would be pure waste
        skip_fsst = dict_est is not None and dict_est * 8 < plain_size
        if (
            not skip_fsst
            and dict_est is not None
            and kernel_cache is not None
            and "fsst_ratio_est" in kernel_cache
        ):
            # negative cache: a previous chunk of this group measured
            # FSST's achievable ratio; when dict already beats that
            # projection with 10% margin, the training pass is waste
            # (single-char flag columns burned one full train per chunk
            # only for dict to win). Cache state is a pure function of
            # the group's earlier chunks — groups never split across
            # partitions — so codec choice stays deterministic.
            skip_fsst = dict_est < plain_size * kernel_cache["fsst_ratio_est"] * 0.9
        if len(blob) >= 1024 and not skip_fsst:
            fsst_est, fsst_table = _fsst_estimate(lengths, blob, profile)
            if fsst_est is not None:
                candidates.append((fsst_est, FSST))
                if kernel_cache is not None:
                    kernel_cache["fsst_ratio_est"] = fsst_est / max(1, plain_size)
        candidates.sort()
        codec = candidates[0][1]
        if codec == PLAIN_STR:
            return PLAIN_STR, _blk(len_enc) + _blk(blob), 0
        if codec == DICT:
            return DICT, *_enc_dict(denc)
        payload = _enc_fsst(lengths, blob, fsst_table)
        if len(payload) > plain_size:  # estimate was wrong — fall back
            return PLAIN_STR, _blk(len_enc) + _blk(blob), 0
        if kernel_cache is not None and fsst_table:
            kernel_cache["fsst"] = (
                fsst_table,
                (len(payload) - len(len_enc)) / max(1, len(blob)),
            )
        return FSST, payload, 0

    if _is_intlike(t):
        codec, payload = INTS, encode_ints_best(_int_view(nn))
        if len(payload) <= _dict_floor(nn):
            allow_dict = False  # DICT provably can't win
    else:
        codec, payload = PLAIN_FIXED, _enc_plain_fixed(nn)
        fi = _enc_float_int(nn)
        if fi is not None and len(fi) < len(payload):
            return FLOAT_INT, fi, 0
    # DICT replaces the type's own payload only when it is smaller
    if allow_dict:
        dict_est, denc = _dict_estimate(nn)
        if dict_est is not None and dict_est < len(payload):
            dict_payload, dict_size = _enc_dict(denc)
            if len(dict_payload) < len(payload):
                return DICT, dict_payload, dict_size
    return codec, payload, 0


_FLOAT_SCALES = (1, 10, 100, 1000, 10000)


def _enc_float_int(nn: pa.Array) -> bytes | None:
    """Decimals-in-doubles codec: if every value times a small power of
    ten is an integer AND dividing back reproduces the exact bits, store
    the integers (FOR/RLE/delta-packed) + the scale. Catches the
    overwhelmingly common money/quantity columns at a fraction of 8
    bytes/row; bitwise verification keeps the round trip exact (-0.0,
    NaN, and true reals all fall through to plain)."""
    t = nn.type
    is32 = pa.types.is_float32(t)
    v = nn.to_numpy(zero_copy_only=False)
    v64 = v.astype(np.float64)
    if len(v64) == 0 or not np.all(np.isfinite(v64)):
        return None
    for scale in _FLOAT_SCALES:
        with np.errstate(over="ignore", invalid="ignore"):
            m = np.round(v64 * scale)
            if np.any(np.abs(m) >= 2**62):
                return None  # larger scales only grow magnitude
            # verify with EXACTLY the decoder's computation (int64 m),
            # so e.g. -0.0 falls through instead of decoding as +0.0
            m = m.astype(np.int64)
            back = m.astype(np.float64) / scale
        if is32:
            ok = np.array_equal(
                back.astype(np.float32).view(np.uint32), v.view(np.uint32)
            )
        else:
            ok = np.array_equal(back.view(np.uint64), v64.view(np.uint64))
        if ok:
            ints = encode_ints_best(m)
            return struct.pack("<Bq", 1 if is32 else 0, scale) + ints
    return None


def _dec_float_int(payload: bytes) -> np.ndarray:
    is32, scale = struct.unpack_from("<Bq", payload, 0)
    back = decode_ints(payload[9:]).astype(np.float64) / scale
    return back.astype(np.float32) if is32 else back


def _constant_dict(
    nn: pa.Array, lengths: np.ndarray, blob: bytes
) -> "pa.DictionaryArray | None":
    """DictionaryArray for an ALL-EQUAL string/binary column without
    hashing every byte, or None when the column is not constant.

    Group columns are constant within every shard BY CONSTRUCTION
    (encode cuts chunks at (group, salt) boundaries), so at 100 TB this
    case runs once per chunk for every group column that rides along.
    A vectorized equality sweep (memcmp speed) replaces
    pc.dictionary_encode's per-byte hashing; the synthesized array is
    exactly what dictionary_encode returns for a constant column — one
    compact dictionary value + int32 zero indices — so size estimates,
    codec choice, and encoded bytes are unchanged (test-pinned)."""
    n = len(lengths)
    if n == 0:
        return None
    L = int(lengths[0])
    if int(lengths.min()) != L or int(lengths.max()) != L:
        return None
    if L and n > 1:
        rows = np.frombuffer(blob, np.uint8, n * L).reshape(n, L)
        # O(L) adjacent-row probe first: numpy's full comparison does
        # not short-circuit, and an equal-length NON-constant column
        # (fixed-width ids, hashes) would otherwise pay an O(n*L) sweep
        # + bool allocation just to learn it isn't constant
        if not (rows[1] == rows[0]).all():
            return None
        if not (rows[1:] == rows[0]).all():
            return None
    dvals = pa.array([nn[0].as_py()], type=nn.type)
    return pa.DictionaryArray.from_arrays(
        pa.array(np.zeros(n, dtype=np.int32)), dvals
    )


def _dict_estimate(
    nn: pa.Array, denc: "pa.DictionaryArray | None" = None
) -> tuple[int | None, "pa.DictionaryArray | None"]:
    """(cheap upper-ish estimate of DICT encoding size, or None if
    hopeless; the DictionaryArray it measured). A winning DICT choice
    hands that DictionaryArray to _enc_dict, so pc.dictionary_encode
    runs once per chunk-column. ``denc`` injects a pre-built
    DictionaryArray (the constant-column shortcut) and skips the hash
    entirely."""
    n = len(nn)
    if n == 0:
        return None, None
    try:
        if denc is None:
            denc = pc.dictionary_encode(nn)
    except pa.ArrowNotImplementedError:
        return None, None
    if not isinstance(denc, pa.DictionaryArray):
        denc = denc.combine_chunks()
    dvals = denc.dictionary
    n_unique = len(dvals)
    if n_unique > max(16, n // 2):
        return None, denc  # dictionary would not pay off
    dict_bytes = dvals.nbytes
    idx_bits = max(1, int(np.ceil(np.log2(max(2, n_unique)))))
    return int(dict_bytes + n * idx_bits // 8 + 64), denc


def _dict_floor(nn: pa.Array) -> int:
    """Provable lower bound on any _dict_estimate result: >= one
    dictionary value's bytes + n rows at the 1-bit index floor + the 64
    header allowance. Lets fixed-width branches skip the full
    dictionary_encode pass when the competing payload is already below
    everything a dictionary could report — the skip can only happen
    when the DICT branch provably would not be taken, so codec
    selection (and the output bytes) are unchanged."""
    try:
        unit = nn.type.bit_width // 8
    except (ValueError, AttributeError):
        unit = 1
    return unit + len(nn) // 8 + 64


def _fsst_estimate(
    lengths: np.ndarray, blob: bytes, profile: str
) -> tuple[int | None, list | None]:
    """Train ONCE on a sample; return (size estimate, table).
    Training substitutes each learned symbol into the sample as it
    goes, so the residual's length IS the size estimate for free (the
    greedy encoder lands within ~2% of the sequential ratio on text);
    the table is reused for the final encode so training cost is paid
    once per chunk. The payload itself always comes from the greedy
    encoder (one code path, bytes a pure function of (blob, table))."""
    cap, sl, max_symbols, frac = _FSST_PROFILE.get(profile, _FSST_PROFILE["balanced"])
    sample = fsst_mod.strided_sample(blob, cap, sl)
    table, residual = fsst_mod.train_with_residual(
        blob, sample=sample, max_symbols=max_symbols, min_count_frac=frac
    )
    if not table:
        return None, None
    ratio = len(residual) / max(1, len(sample))
    est = int(ratio * len(blob)) + 3 * len(table) + len(lengths) * 1 + 64
    return est, table


def _enc_dict(denc: pa.DictionaryArray) -> tuple[bytes, int]:
    """DICT payload and dictionary size of ``_dict_estimate``'s
    DictionaryArray."""
    dvals = denc.dictionary
    idx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    # sorted dictionary pages (stable, deterministic): remap codes by rank
    order = pc.sort_indices(dvals).to_numpy(zero_copy_only=False).astype(np.int64)
    rank = np.empty(len(dvals), dtype=np.int64)
    rank[order] = np.arange(len(dvals), dtype=np.int64)
    sorted_vals = dvals.take(pa.array(order))
    new_idx = rank[idx]
    # dictionary values encoded recursively (no dict-of-dict)
    dict_blob, _ = encode_array(
        sorted_vals, profile="fast", _allow_dict=False, _entropy=False
    )
    return _blk(dict_blob) + _blk(encode_ints_best(new_idx)), len(dvals)


def _enc_list(nn: pa.Array, profile: str) -> bytes:
    lengths = pc.list_value_length(nn).to_numpy(zero_copy_only=False)
    child, _ = encode_array(nn.flatten(), profile=profile, _entropy=False)
    return _blk(encode_ints_best(lengths.astype(np.int64))) + _blk(child)


def _dec_list(payload: bytes, t: pa.DataType) -> pa.Array:
    lenb, o = _unblk(payload, 0)
    child_b, o = _unblk(payload, o)
    lengths = decode_ints(lenb)
    child = decode_array(child_b)
    large = pa.types.is_large_list(t)
    odt = np.int64 if large else np.int32
    offsets = np.zeros(len(lengths) + 1, dtype=odt)
    np.cumsum(lengths, out=offsets[1:])
    cls = pa.LargeListArray if large else pa.ListArray
    return cls.from_arrays(pa.array(offsets), child)


def _enc_struct(nn: pa.Array, profile: str) -> bytes:
    out = b""
    for i in range(nn.type.num_fields):
        child, _ = encode_array(nn.field(i), profile=profile, _entropy=False)
        out += _blk(child)
    return out


def _dec_struct(payload: bytes, t: pa.DataType) -> pa.Array:
    fields = []
    o = 0
    for _ in range(t.num_fields):
        b, o = _unblk(payload, o)
        fields.append(decode_array(b))
    return pa.StructArray.from_arrays(fields, fields=list(t))


def _enc_map(nn: pa.Array, profile: str) -> bytes:
    offs = nn.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lengths = np.diff(offs)
    # nn.keys / nn.items return the FULL child arrays regardless of the
    # map array's slice window, while nn.offsets is already windowed —
    # slice the children to [offs[0], offs[-1]) or a sliced MapArray
    # (also reached via list<map>.flatten() / struct<map>.field())
    # round-trips to the wrong entries.
    start = int(offs[0]) if len(offs) else 0
    stop = int(offs[-1]) if len(offs) else start
    keys, _ = encode_array(
        nn.keys.slice(start, stop - start), profile=profile, _entropy=False
    )
    items, _ = encode_array(
        nn.items.slice(start, stop - start), profile=profile, _entropy=False
    )
    return (
        _blk(encode_ints_best(lengths.astype(np.int64)))
        + _blk(keys)
        + _blk(items)
    )


def _dec_map(payload: bytes) -> pa.Array:
    lenb, o = _unblk(payload, 0)
    keys_b, o = _unblk(payload, o)
    items_b, o = _unblk(payload, o)
    lengths = decode_ints(lenb)
    keys = decode_array(keys_b)
    items = decode_array(items_b)
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.MapArray.from_arrays(pa.array(offsets), keys, items)


def _enc_dec128(nn: pa.Array) -> bytes:
    """decimal128 with precision > 18. Three sub-modes, smaller wins:
    - mode 2 (descale): when every unscaled value is a multiple of
      10^g (the usual case for wide-scale decimals — e.g. cents stored
      as the Spark/parquet4s default DecimalType(38,18) carry 16 zero
      digits of pure scale inflation), divide out the largest such
      power and ride the exact int64 path on the quotients. The
      divisibility probe is two vectorized arrow casts per bisection
      step, never per-row Python.
    - mode 1 (delta128): when every consecutive 128-bit difference fits
      int64, store the first value raw + int64 deltas through the int
      codec. The fit check is exact within the decimal38 domain:
      |hi| <= ~5.4e18, so a wrapped hi-diff can never alias the 0/-1
      sign extension.
    - mode 0 (words): fallback — (hi, lo) int64 words, each through the
      int codec; hi is pure sign extension for |v| < 2^63 and RLEs away.
    """
    t = nn.type
    if len(nn) and t.scale > 0:

        def _divisible(g: int) -> pa.Array | None:
            opts = pc.CastOptions(
                target_type=pa.decimal128(38, t.scale - g),
                allow_decimal_truncate=True,
            )
            down = pc.cast(nn, options=opts)
            return down if pc.cast(down, t).equals(nn) else None

        lo_g, hi_g = 1, min(t.scale, 37)
        best_g, best_down = 0, None
        while lo_g <= hi_g:  # largest g with exact truncation (monotone)
            mid = (lo_g + hi_g + 1) // 2
            down = _divisible(mid)
            if down is not None:
                best_g, best_down = mid, down
                lo_g = mid + 1
            else:
                hi_g = mid - 1
        if best_g:
            try:
                small = pc.cast(
                    best_down, pa.decimal128(18, t.scale - best_g)
                )
            except pa.ArrowInvalid:
                small = None  # quotient still beyond int64 digits
            if small is not None:
                inner, _ = encode_array(small, _entropy=False)
                return struct.pack("<BB", 2, best_g) + _blk(inner)
    lo, hi = _dec128_words(nn)
    lo_u = lo.view(np.uint64)
    words = (
        struct.pack("<B", 0)
        + _blk(encode_ints_best(hi))
        + _blk(encode_ints_best(lo))
    )
    n = len(lo_u)
    if n >= 2:
        dlo = lo_u[1:] - lo_u[:-1]  # uint64, wraps = mod 2^64
        borrow = (lo_u[1:] < lo_u[:-1]).view(np.uint8).astype(np.int64)
        with np.errstate(over="ignore"):
            dhi = hi[1:] - hi[:-1] - borrow
        if np.array_equal(dhi, dlo.view(np.int64) >> np.int64(63)):
            delta = (
                struct.pack("<B", 1)
                + struct.pack("<Qq", int(lo_u[0]), int(hi[0]))
                + encode_ints_best(dlo.view(np.int64))
            )
            if len(delta) < len(words):
                return delta
    return words


def _dec_dec128(payload: bytes, t: pa.DataType) -> pa.Array:
    (mode,) = struct.unpack_from("<B", payload, 0)
    if mode == 2:
        # byte 1 (g) is implied by the inner type: decimal128(18,
        # t.scale - g) -> t is an exact scale widening
        return pc.cast(decode_array(_unblk(payload, 2)[0]), t)
    if mode == 1:
        lo0, hi0 = struct.unpack_from("<Qq", payload, 1)
        d = decode_ints(payload[17:])
        n = len(d) + 1
        lo = np.empty(n, dtype=np.uint64)
        lo[0] = lo0
        with np.errstate(over="ignore"):
            lo[1:] = np.uint64(lo0) + np.cumsum(
                d.view(np.uint64), dtype=np.uint64
            )
            # per-limb carry: unsigned add wrapped iff result < addend
            carry = (lo[1:] < lo[:-1]).view(np.uint8).astype(np.uint64)
            hi_ext = (d >> np.int64(63)).view(np.uint64)
            hi = np.empty(n, dtype=np.uint64)
            hi[0] = np.int64(hi0)
            hi[1:] = (
                np.uint64(np.int64(hi0))
                + np.cumsum(hi_ext, dtype=np.uint64)
                + np.cumsum(carry, dtype=np.uint64)
            )
        hi = hi.view(np.int64)
        lo = lo.view(np.int64)
    else:
        hib, o = _unblk(payload, 1)
        lob, o = _unblk(payload, o)
        hi = decode_ints(hib)
        lo = decode_ints(lob)
    return _dec128_array(lo, hi, t, None)


def _enc_ipc(nn_or_arr: pa.Array, t: pa.DataType) -> bytes:
    # IPC path keeps nulls inline (bitmap not stored separately)
    sink = pa.BufferOutputStream()
    batch = pa.record_batch([nn_or_arr], names=["c"])
    with pa.ipc.new_stream(sink, batch.schema) as w:
        w.write_batch(batch)
    return sink.getvalue().to_pybytes()


def decode_array(blob: bytes) -> pa.Array:
    if blob[:4] != MAGIC:
        raise ValueError("bad magic")
    off = 4
    (schema_len,) = struct.unpack_from("<I", blob, off)
    off += 4
    schema = pa.ipc.read_schema(pa.py_buffer(blob[off : off + schema_len]))
    off += schema_len
    t = schema.field(0).type
    codec_id, n, null_count = struct.unpack_from("<Bqq", blob, off)
    off += 17

    if codec_id == IPC:
        with pa.ipc.open_stream(pa.py_buffer(blob[off:])) as r:
            tbl = r.read_all()
        return tbl.column(0).combine_chunks()

    if codec_id == ENTROPY:
        # entropy wrap: decompress and recurse into the inner container
        # (self-describing — readers need no profile knowledge)
        nameb, o = _unblk(blob, off)
        (raw_len,) = struct.unpack_from("<q", blob, o)
        inner = pa.Codec(nameb.decode()).decompress(
            blob[o + 8 :], raw_len, asbytes=True
        )
        return decode_array(inner)

    mask = None
    if null_count:
        nbytes = (n + 7) // 8
        mask = np.unpackbits(
            np.frombuffer(blob, dtype=np.uint8, count=nbytes, offset=off),
            count=n,
            bitorder="little",
        ).astype(bool)
        off += nbytes
    payload = blob[off:]

    if codec_id in (PLAIN_FIXED, FLOAT_INT):
        if codec_id == PLAIN_FIXED:
            values = _dec_plain_fixed(payload, t, n - null_count)
        else:
            values = _dec_float_int(payload)
        return pa.array(_spread(values, mask), mask=mask)
    if codec_id == INTS:
        return _int_restore(_spread(decode_ints(payload), mask), t, mask)
    if codec_id in (PLAIN_STR, FSST):
        if codec_id == PLAIN_STR:
            lenb, o = _unblk(payload, 0)
            lengths, data = decode_ints(lenb), _unblk(payload, o)[0]
        else:
            lengths, data = _dec_fsst(payload)
        return _string_restore(_spread(lengths, mask), data, t, mask)
    if codec_id == LIST:
        nn = _dec_list(payload, t)
    elif codec_id == STRUCT:
        nn = _dec_struct(payload, t)
    elif codec_id == MAP:
        nn = _dec_map(payload)
    elif codec_id == DEC128:
        nn = _dec_dec128(payload, t)
    elif codec_id == DICT:
        dict_blob, o = _unblk(payload, 0)
        idx_blob, o = _unblk(payload, o)
        nn = decode_array(dict_blob).take(pa.array(decode_ints(idx_blob)))
    elif codec_id == CUSTOM:
        nameb, o = _unblk(payload, 0)
        inner_b, o = _unblk(payload, o)
        name = nameb.decode()
        if name not in _VALUE_CODECS:
            raise ValueError(
                f"value codec '{name}' not registered — import/register it "
                "before decoding (parquet4s implicit-in-scope analog)"
            )
        _, _, from_s = _VALUE_CODECS[name]
        nn = from_s(decode_array(inner_b), t)
    else:
        raise ValueError(f"unknown codec {codec_id}")
    return _scatter(nn, t, mask)
