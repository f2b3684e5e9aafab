"""FSST-style symbol-table compression for string/binary blobs.

From-scratch, vectorized variant of symbol-table string compression in
the spirit of FSST (Boncz, Neumann, Leis — "FSST: Fast Random Access
String Compression", VLDB 2020, public): a table of multi-byte symbols
replaces frequent substrings with 1-byte codes. The table is built by
recursive pair substitution (Gage's byte-pair encoding, public domain)
over a bounded SAMPLE: each round finds the most frequent byte *pair*
and replaces it with a currently-unused byte value. Later rounds pair
up earlier codes, so symbols grow to arbitrary length — including
exponential collapse of long repeated runs — which is what lets this
codec compete with LZ-class compressors on templated text.

ENCODING is a single greedy longest-match pass (the FSST paper's
encode strategy): expand every learned symbol to its full byte string,
then at each input position emit the code of the longest matching
symbol (candidates chained by their first two bytes) or the literal
byte. One pass at memory-ish speed replaces the round-2 iterated
pair-substitution passes (~10x faster at equal ratio — the trained
table segments the input the same way whichever order matches apply).

Correctness invariants:
- replacement codes are byte values with ZERO occurrences in the
  ORIGINAL corpus, so literals never collide with codes and decode's
  expansion gather is exact with no escaping;
- any encode strategy that emits valid codes decodes exactly (decode
  is pure code->expansion), so encode-side changes can never corrupt
  persisted data — older blobs remain decodable byte-for-byte
  (pinned by tests/test_format_stability.py::test_legacy_blob_decodes).

Plays the role of parquet-mr's string encoding layer under parquet4s
(/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/ParquetWriter.scala:79-84)
for high-cardinality text where dictionaries lose.
"""

from __future__ import annotations

import re
import struct

import numpy as np

from ._native import load as _load_native

_native = _load_native()

__all__ = ["train", "compress", "decompress"]

# max pairs merged per training round (escalating 1,2,4,... up to this;
# see train_with_residual) — bounds rounds at ~log2(batch)+syms/batch.
# Measured sweep (shard corpora, median/p90/big): 8 matches or beats
# the old one-merge-per-round trainer's ratio EVERYWHERE while still
# training 1.7-1.8x faster; 32 is another ~25% faster but costs up to
# 15% ratio on p90-size shards. Values above 64 are clamped at use:
# the C kernel's per-round set_pairs buffer holds 64 entries and
# clamps batch_max to that, and the fallback mirrors the clamp so both
# paths stay byte-identical at any configured value.
_TRAIN_BATCH_MAX = 8


def _presence(corpus: bytes) -> np.ndarray:
    """Which byte values occur in ``corpus`` (bool[256])."""
    if _native is not None:
        return _native.presence(corpus)
    # presence scatter, not bincount: free-code detection only needs
    # WHICH bytes occur, and fancy-index store runs at memory speed
    # while np.bincount on uint8 is ~15x slower (int64 upcast inside)
    present = np.zeros(256, dtype=bool)
    present[np.frombuffer(corpus, dtype=np.uint8)] = True
    return present


def strided_sample(blob: bytes, cap: int, slice_len: int) -> bytes:
    """Training sample of <= ``cap`` bytes: ``cap // slice_len`` slices
    of ``slice_len`` bytes at evenly-spaced offsets (FSST/VLDB'20 §4
    samples the corpus the same way). A prefix sample over-fits the
    first rows of a shard; evenly-spaced slices cover the whole shard,
    which on the bench corpus both HALVES training CPU (smaller sample)
    and improves the ratio ~4% (more representative pair counts). Pure
    function of ``blob`` — chunk-identity / resume / N-vs-4N byte
    determinism is unaffected. Caveat: the ~cap/slice_len artificial
    byte adjacencies at slice joints CAN clear the count floor on
    highly templated shards (identical-prefix rows longer than the
    stride period), wasting a symbol slot on a pair the real blob
    never contains — a small ratio cost, never a correctness one (the
    encoder is greedy over the real blob). Measured NET effect on the
    bench corpus is strongly positive (see _FSST_PROFILE)."""
    if len(blob) <= cap:
        return blob
    n_slices = max(1, cap // slice_len)
    step = len(blob) / n_slices
    parts = [
        blob[int(i * step) : int(i * step) + slice_len] for i in range(n_slices)
    ]
    return b"".join(parts)[:cap]


def train(
    corpus: bytes,
    sample: bytes | None = None,
    max_symbols: int = 224,
    min_gain: int = 8,
    min_count_frac: float = 0.0003,
) -> list[tuple[int, int, int]]:
    """Learn a substitution table [(code, x, y), ...] (application order).

    ``corpus`` is the FULL data the table will be applied to — free
    codes must be computed on it. ``sample`` (default: capped corpus
    prefix) is what pair counting runs on each round.
    ``min_count_frac`` bounds the symbol count: a symbol must be
    expected to replace at least that fraction of the sample's bytes.
    """
    return train_with_residual(
        corpus, sample, max_symbols, min_gain, min_count_frac
    )[0]


def train_with_residual(
    corpus: bytes,
    sample: bytes | None = None,
    max_symbols: int = 224,
    min_gain: int = 8,
    min_count_frac: float = 0.0003,
) -> tuple[list[tuple[int, int, int]], bytes | None]:
    """train() plus the fully-substituted SAMPLE as a free byproduct:
    training applies each symbol to the sample as it learns, so the
    final sample is a sequentially-compressed sample — callers use its
    length as a cheap size estimate (the greedy encoder achieves the
    same ratio +-2% on real text). Returns (table, residual or None
    when no table was learned)."""
    if len(corpus) < 16:
        return [], None
    present = _presence(corpus)
    free = [c for c in range(255, -1, -1) if not present[c]]
    if not free:
        return [], None
    if sample is None:
        sample = corpus if len(corpus) <= (1 << 20) else corpus[: (1 << 20)]
    scale = max(1.0, len(corpus) / max(1, len(sample)))
    floor = max(min_gain + 3, int(min_count_frac * len(sample)))
    if _native is not None:
        table, residual = _native.train(
            sample, free, floor, scale, min_gain, max_symbols, _TRAIN_BATCH_MAX
        )
        return table, (residual if table else None)
    # Batched rounds, mirroring the C kernel exactly (see its comment):
    # per round select up to bs ALPHABET-DISJOINT pairs in (count desc,
    # pair asc) order, then apply them with sequential bytes.replace —
    # provably equal to the C kernel's single-pass map replace, so
    # tables/residuals stay byte-identical across toolchains. bs
    # escalates 1,2,4,...,_TRAIN_BATCH_MAX so early merges still chain
    # depth-first (long-run collapse stays exponential).
    table: list[tuple[int, int, int]] = []
    cur = sample
    rnd = 0
    batch_max = min(_TRAIN_BATCH_MAX, 64)  # C set_pairs capacity clamp
    while len(table) < max_symbols and len(table) < len(free) and len(cur) >= 2:
        arr = np.frombuffer(cur, dtype=np.uint8)
        pairs = arr[:-1].astype(np.uint32) * np.uint32(256) + arr[1:]
        pc = np.bincount(pairs, minlength=65536)
        bs = min(
            1 << rnd if rnd < 16 else batch_max,
            batch_max,
            max_symbols - len(table),
            len(free) - len(table),
        )
        # count desc, pair value asc on ties (stable argsort on -counts)
        order = np.argsort(-pc, kind="stable")
        used = np.zeros(256, dtype=bool)
        sel: list[int] = []
        for p in order:
            if len(sel) >= bs:
                break
            n = int(pc[p])
            if n < floor or n * scale < min_gain + 3:
                break
            x, y = int(p) >> 8, int(p) & 0xFF
            if used[x] or used[y]:
                continue
            used[x] = used[y] = True
            sel.append(int(p))
        if not sel:
            break
        for p in sel:
            x, y = p >> 8, p & 0xFF
            code = free[len(table)]
            cur = cur.replace(bytes((x, y)), bytes((code,)))
            table.append((code, x, y))
        rnd += 1
    return table, (cur if table else None)


def _match_symbols(table: list[tuple[int, int, int]]) -> list[tuple[bytes, int]]:
    """Deterministic greedy-match candidate list: (expansion, code),
    sorted by (length desc, expansion bytes asc). Duplicate expansions
    (two code chains producing the same byte string) keep the FIRST
    code in table order, so the emitted bytes are identical whichever
    engine (C chain walk / re alternation) does the matching."""
    exp: dict[int, bytes] = {}
    for code, x, y in table:
        exp[code] = exp.get(x, bytes((x,))) + exp.get(y, bytes((y,)))
    seen: dict[bytes, int] = {}
    for code, _, _ in table:
        e = exp[code]
        if e not in seen:
            seen[e] = code
    return sorted(seen.items(), key=lambda kv: (-len(kv[0]), kv[0]))


def compress(corpus: bytes, table: list[tuple[int, int, int]]) -> bytes:
    """Single-pass greedy longest-match encode (see module docstring).
    Two paths, identical bytes: the one-call C kernel, and a ``re``
    alternation for hosts without it. The kernel declines (None) only
    when the expansions pass 64 MB or malloc fails, far above what a
    trained table reaches; the ``re`` path covers that case too. So
    chunk identity never depends on the host toolchain."""
    if not table or len(corpus) < 2:
        return corpus
    if _native is not None:
        res = _native.compress_table(corpus, table)
        if res is not None:
            return res
    # re alternation tries candidates in pattern order at the leftmost
    # matching position — with longest-first ordering this IS greedy
    # longest-match, and re's scan loop runs in C
    syms = _match_symbols(table)
    pat = re.compile(b"|".join(re.escape(e) for e, _ in syms))
    repl = {e: bytes((c,)) for e, c in syms}
    return pat.sub(lambda m: repl[m.group(0)], corpus)


_EXP_CACHE: dict = {}
_EXP_CACHE_MAX = 256  # tables are ~1 KB expanded; bound the worker RSS


def _expansions(table: list[tuple[int, int, int]]):
    """Full byte expansion of every possible byte value.

    Memoized on the table contents: decode sees the SAME table for
    every chunk of a shard that reused its predecessor's symbols (the
    encode-side kernel-cache path, i.e. the multi-chunk mega-shards a
    100 TB corpus is mostly made of). Measured interleaved: a hit
    saves ~165 us of ~180 us per decompress call's table prep; on the
    small-shard bench fixture hit rate is ~0 (844 distinct tables in
    846 calls) and the memo is CPU-neutral there — the win is the
    production shard shape, not the bench. Pure function — identical
    table, identical expansion; the cached arrays are marked read-only
    so no caller can mutate shared state. Full-clear at the bound
    beats LRU bookkeeping: a rebuild costs ~44 us uninstrumented and
    distinct-table churn past 256 per worker is not a real workload."""
    key = tuple(table)
    hit = _EXP_CACHE.get(key)
    if hit is not None:
        return hit
    exp: dict[int, bytes] = {}
    for code, x, y in table:
        ex = exp.get(x, bytes((x,)))
        ey = exp.get(y, bytes((y,)))
        exp[code] = ex + ey
    flat = bytearray()
    starts = np.zeros(256, dtype=np.int64)
    lens = np.zeros(256, dtype=np.int64)
    for b in range(256):
        e = exp.get(b, bytes((b,)))
        starts[b] = len(flat)
        lens[b] = len(e)
        flat.extend(e)
    starts.flags.writeable = False
    lens.flags.writeable = False
    out = (np.frombuffer(bytes(flat), dtype=np.uint8), starts, lens)
    if len(_EXP_CACHE) >= _EXP_CACHE_MAX:
        _EXP_CACHE.clear()
    _EXP_CACHE[key] = out
    return out


def decompress(data: bytes, table: list[tuple[int, int, int]]) -> bytes:
    out = decompress_raw(data, table)
    return out if isinstance(out, bytes) else out.tobytes()


def decompress_raw(
    data: bytes, table: list[tuple[int, int, int]]
) -> "bytes | np.ndarray":
    """Single-pass vectorized decode: gather each byte's (precomputed,
    recursive) expansion from a flat table. Index math in int32 when the
    output fits (it always does for <2 GiB chunks), halving traffic.

    Returns a uint8 ndarray (or the input bytes when nothing to do) so
    zero-copy consumers (arrow buffer construction) skip the final
    tobytes copy; ``decompress`` wraps it for the bytes API."""
    if not table or not data:
        return data
    flat, starts, lens = _expansions(table)
    a = np.frombuffer(data, dtype=np.uint8)
    if _native is not None:
        # output sizing in C too: the numpy lens[a] gather materializes
        # an 8x-input int64 temp just to compute one sum
        total = _native.expand_total(a, lens)
        return _native.expand(a, flat, starts, lens, total)
    l = lens[a]
    total = int(l.sum())
    idt = np.int32 if total < 2**31 and len(flat) < 2**31 else np.int64
    l = l.astype(idt, copy=False)
    offs = np.zeros(len(a), dtype=idt)
    np.cumsum(l[:-1], out=offs[1:])
    # index = starts[a] + (arange(total) - repeat(offs))
    idx = np.repeat((starts.astype(idt)[a] - offs), l)
    idx += np.arange(total, dtype=idt)
    return flat[idx]


def serialize_table(table: list[tuple[int, int, int]]) -> bytes:
    out = struct.pack("<H", len(table))
    for code, x, y in table:
        out += struct.pack("<BBB", code, x, y)
    return out


def deserialize_table(data: bytes, off: int = 0) -> tuple[list[tuple[int, int, int]], int]:
    (n,) = struct.unpack_from("<H", data, off)
    off += 2
    table = []
    for _ in range(n):
        code, x, y = struct.unpack_from("<BBB", data, off)
        off += 3
        table.append((code, x, y))
    return table, off
