"""Distributed per-column-chunk encoding over ``mapInArrow``.

The Spark-first re-expression of the layer parquet4s delegates to
parquet-mr (dictionary/RLE/plain per column chunk with size-based
fallback — knobs at /root/reference/core/src/main/scala/com/github/
mjakubowski84/parquet4s/ParquetWriter.scala:79-100) plus the partitioned
rotating sink's grouping semantics (ParquetPartitioningFlow.scala:
363-398,503-507): rows are shuffled once onto ``group_cols + salt``,
sorted within partitions so each (group, salt) is contiguous, and cut
into chunks of ~``target_chunk_bytes``; every column of a chunk is
encoded independently by the auto-selecting codec layer.

Scale design:
- ONE shuffle total (repartition on group+salt); encoding is map-side.
- Skew (one mega-repo = north_rule) is handled by a salt count derived
  from a first-pass size histogram, broadcast-joined back (small dim).
- Chunk identity is a pure function of (group, salt, seq), salts of the
  input bytes (an ungrouped encode is one group): chunk boundaries do
  not depend on the partition count, so N- and 4N-core runs (and
  resumed runs) produce identical chunks. Range chunks never cross a
  range partition: same at any width while the input fits one, past
  that they follow ``repartitionByRange``'s sample of the input.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..codecs import encode_array
from ..codecs import bloom as bloom_mod

# The chunk row, one per (chunk, column): the only statement of the
# format. Spark's read and output schemas, the manifest columns, the
# encode worker's output batches and the decode worker's input fields
# all derive from it; a new column goes here (at the end) and nowhere
# else, and every consumer must tolerate it being NULL in older files.
CHUNK_SCHEMA = pa.schema(
    [
        ("chunk_id", pa.string()),
        ("group_key", pa.string()),
        ("salt", pa.int32()),
        ("seq", pa.int64()),
        ("column", pa.string()),
        ("codec", pa.string()),
        ("n_rows", pa.int64()),
        ("n_nulls", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("dict_size", pa.int64()),
        ("min_s", pa.string()),
        ("max_s", pa.string()),
        ("min_d", pa.float64()),
        ("max_d", pa.float64()),
        ("bloom", pa.list_(pa.int64())),
        ("payload", pa.binary()),
        ("payload_ck", pa.int64()),
    ]
)


def _ddl(schema: pa.Schema) -> str:
    """Spark DDL of an Arrow schema."""
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in from_arrow_schema(schema).fields
    )


ENCODED_DDL = _ddl(CHUNK_SCHEMA)
# the manifest row: the chunk row without its payload
MANIFEST_COLS = [n for n in CHUNK_SCHEMA.names if n != "payload"]
MANIFEST_DDL = _ddl(pa.schema([CHUNK_SCHEMA.field(n) for n in MANIFEST_COLS]))


def payload_ck(blob: bytes) -> int:
    """Integrity checksum of an encoded payload: md5 prefix as a signed
    int64 (Spark bigint). At 100 TB chunk payloads live for years on
    object stores and disks where bit rot is routine; the decoder
    re-computes this before decoding and fails LOUDLY on mismatch
    instead of silently returning corrupted rows. md5 (stdlib,
    deterministic everywhere, ~0.5 GB/s/core) over ENCODED bytes (~10x
    smaller than content) costs <1% of encode CPU. Checksums ride in
    the chunk rows AND the manifest; payload bytes themselves are
    unchanged, so chunk ids, format goldens, and N-vs-4N byte identity
    are untouched."""
    return int.from_bytes(hashlib.md5(blob).digest()[:8], "big", signed=True)

_STAT_TRUNC = 64

# default skew threshold: a group above this many input bytes is split
# across ceil(bytes / TARGET_GROUP_BYTES) salts (plan_salts)
TARGET_GROUP_BYTES = 16 << 20

# bytes-based partition sizing target for the salted-group encode path
# (~4 chunks of the default 8 MB per task: big enough to amortize
# mapInArrow per-task overhead, small enough for scheduler rebalancing)
TARGET_PARTITION_BYTES = 32 << 20

# low-end clamp for the same sizing: when it was tuned a python
# mapInArrow task cost ~0.2 CPU-s of fixed setup (SCALE.md full-vs-noop
# decomposition), so the old "floor at the core count" spawned pure
# overhead on small inputs — 32 tasks of 1.5 MB measured ~2x the CPU of
# 6 tasks of 8 MB on the 48 MB lineitem roundtrip, with byte-identical
# output (grouped chunk cuts are partition-count-independent).
# Parallelism is now min(cores, bytes / MIN_TASK_BYTES): large inputs
# still get one task per ~TARGET_PARTITION_BYTES, tiny ones never pay
# for idle workers. Most of that setup was not the Arrow crossing but
# the worker's per-task zip-directory re-reads, which
# colcrush._worker_daemon skips: a trivial task now costs ~0.04 CPU-s
# of process-tree CPU (was ~0.16; 4-vCPU host, CPython 3.11). The
# clamp and the ceil rule below still carry the old tuning.
MIN_TASK_BYTES = 8 << 20


def _salted_partitions(total_bytes: int, cores: int) -> int:
    """Scale-adaptive partition count for the salted encode shuffle:
    bytes-derived at both ends (guide-style: derive from input size,
    never a constant tuned to one deployment width)."""
    return max(
        1,
        # CEIL division, deliberately: tasks in the 1->2 boundary
        # region can land at MIN_TASK_BYTES/2, and that parallelism
        # WINS there — floor was tried and measured worse (the 10 MB
        # decimal-roundtrip encode: 1 task 3.7 s vs 2 tasks 2.9 s
        # median interleaved; the task setup, ~0.25 CPU-s then and
        # ~0.04 now, is cheaper than serializing several CPU-s of
        # arrow crossing). The harm the clamp exists to stop is the
        # far regime — 32 tasks of 1.5 MB — which ceil prevents just
        # as well.
        min(cores, -(-total_bytes // MIN_TASK_BYTES)),
        -(-total_bytes // TARGET_PARTITION_BYTES),
    )


def _stat_str(v) -> str | None:
    """Lower bound: plain truncation keeps min_s <= actual min."""
    if v is None:
        return None
    s = v if isinstance(v, str) else str(v)
    return s[:_STAT_TRUNC]


def _stat_str_max(v) -> str | None:
    """Upper bound: truncate-and-increment (parquet's trick) so
    max_s >= actual max even after truncation; None if unbounded.

    Only the LAST truncated char is incremented — never an earlier one.
    A cascading increment would SHORTEN the stat below _STAT_TRUNC,
    making a truncated bound indistinguishable from an exact short
    value, which would silently break column_min_max's actual-value
    recovery (it flags length >= _STAT_TRUNC or null as suspect). If
    the last char can't increment (U+10FFFF), the max is recorded as
    unbounded: null max + non-null min = suspect, and range pruning
    treats a null bound as never-prunable — both stay sound."""
    if v is None:
        return None
    s = v if isinstance(v, str) else str(v)
    if len(s) <= _STAT_TRUNC:
        return s
    t = list(s[:_STAT_TRUNC])
    cp = ord(t[-1])
    if cp >= 0x10FFFF:
        return None  # can't increment without shortening — unbounded
    nxt = cp + 1
    if 0xD800 <= nxt <= 0xDFFF:  # skip surrogate range
        nxt = 0xE000
    t[-1] = chr(nxt)
    return "".join(t)


def _stat_num(v, toward: float = 0.0) -> float | None:
    """Numeric stat as double. Values that a double can't represent
    exactly widen one ulp toward ``toward`` (-inf for mins, +inf for
    maxes): float() rounds to nearest, which could otherwise SHRINK the
    range and wrongly prune a chunk whose extreme sits exactly on a
    filter boundary. Applies to Decimal stats and to ints beyond 2**53
    (an int64 min can round UP to the filter value and be skipped)."""
    if v is None or isinstance(v, str):
        return None
    import decimal
    import math

    is_dec = isinstance(v, decimal.Decimal)
    try:
        f = float(v)
    except (TypeError, ValueError, OverflowError):
        return None
    if f != f:  # NaN stat: leave as-is (never widened)
        return f
    if is_dec:
        f = math.nextafter(f, toward)
    elif isinstance(v, int) and abs(v) > (1 << 53) and (
        not math.isfinite(f) or int(f) != v
    ):
        f = math.nextafter(f, toward)
    return f


def chunk_id_for(group_key: str, salt: int, seq: int, namespace: str = "") -> str:
    """Deterministic chunk identity. ``namespace`` scopes ids so two
    encodes into one logical dataset (e.g. streaming epochs) can't
    collide: colliding ids would let the decoder's accumulator mix
    columns from different chunks. Empty namespace preserves the
    round-1 id format (format-stability goldens)."""
    base = f"{group_key}|{salt}|{seq}"
    if namespace:
        base = f"{namespace}|{base}"
    return hashlib.sha256(base.encode()).hexdigest()[:32]


def group_key_expr(group_cols: list[str]) -> "F.Column":
    """THE canonical group-key rendering, shared by encode (worker
    passthrough) and resume_encode's anti-join. Must be a single Spark
    expression: worker-side re-derivation in Python (json.dumps of
    str(v)) renders booleans/nulls/floats differently ('True'/'None'/
    '1e-07' vs 'true'/null/'1.0E-7'), which silently broke resume
    identity for such group columns."""
    return F.to_json(F.array(*[F.col(c).cast("string") for c in group_cols]))


def _chunk_bloom(arr: pa.Array) -> "list[int] | None":
    """Bloom words for a short-string or integer column chunk (see
    codecs/bloom.py), None when the column is ineligible. For strings
    the length gate reads only the offsets buffer, so long-text
    columns (content) cost one np.diff and never copy their data
    bytes. Integers hash their CANONICAL 8-byte little-endian int64
    form — the scan side packs filter literals identically, so the
    encoding width (int32 vs int64 column) never changes membership."""
    t = arr.type
    if pa.types.is_integer(t):
        nn = arr.drop_null()
        if len(nn) == 0:
            return None
        v = nn.to_numpy(zero_copy_only=False).astype("<i8")
        lengths = np.full(len(v), 8, dtype=np.int64)
        return bloom_mod.build_bloom(
            lengths, v.tobytes(), kind=bloom_mod.KIND_INT
        )
    if not (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    ):
        return None
    nn = arr.drop_null()
    if len(nn) == 0:
        return None
    lb = nn.cast(pa.large_binary())
    offsets = np.frombuffer(
        lb.buffers()[1], dtype=np.int64, count=len(lb) + 1, offset=lb.offset * 8
    )
    lengths = np.diff(offsets)
    if int(lengths.max()) >= bloom_mod._MAX_VALUE_LEN:
        return None
    blob = lb.buffers()[2][offsets[0] : offsets[-1]].to_pybytes()
    return bloom_mod.build_bloom(lengths, blob)


# target size for OUTPUT record batches: encoded rows of many chunks
# are packed into one arrow batch before crossing back into the JVM —
# a per-chunk 5-row batch costs 17 pa.array calls + one IPC frame per
# chunk, pure overhead when groups (hence chunks) are small. Packaging
# only: chunk ids, manifest rows, and payload bytes are unchanged.
_OUT_BATCH_BYTES = 16 << 20


def _row_sizes(arr: pa.Array) -> np.ndarray:
    """Per-row payload size (bytes, int64) as a PURE function of the
    row VALUES — never of buffer layout, slicing, or arrow batch
    segmentation. Chunk byte-cap cuts are computed from these, so cut
    positions are identical for every partition count and every
    maxRecordsPerBatch (the previous ``slice.nbytes`` accumulation
    checked the cap only at slice ends, and slice ends follow batch
    segmentation — which differs with the partition count, silently
    breaking N-vs-4N and resume byte identity on byte-capped
    mega-group shards)."""
    t = arr.type
    n = len(arr)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    if pa.types.is_string(t) or pa.types.is_binary(t):
        return _varlen_sizes(arr, 4)
    if pa.types.is_large_string(t) or pa.types.is_large_binary(t):
        return _varlen_sizes(arr, 8)
    if pa.types.is_boolean(t) or pa.types.is_null(t):
        return np.full(n, 1, dtype=np.int64)
    if (
        pa.types.is_list(t)
        or pa.types.is_large_list(t)
        or pa.types.is_map(t)
    ):
        width = 8 if pa.types.is_large_list(t) else 4
        off = np.asarray(arr.offsets, dtype=np.int64)  # absolute into child
        if pa.types.is_map(t):
            child = _row_sizes(arr.keys) + _row_sizes(arr.items)
        else:
            child = _row_sizes(arr.values)
        cs = np.concatenate(([0], np.cumsum(child)))
        return cs[off[1:]] - cs[off[:-1]] + width
    if pa.types.is_fixed_size_list(t):
        # arr.values ignores the slice offset (unlike the varlen list
        # branches, whose offsets are absolute into the child) — index
        # the child window explicitly so sliced batches size correctly
        child = _row_sizes(
            arr.values.slice(arr.offset * t.list_size, n * t.list_size)
        )
        return child.reshape(n, t.list_size).sum(axis=1)
    if pa.types.is_struct(t):
        total = np.zeros(n, dtype=np.int64)
        for i in range(t.num_fields):
            total += _row_sizes(arr.field(i))
        return total
    if pa.types.is_dictionary(t):
        # charge the expanded value — purity over exactness (the same
        # row costs the same wherever it lands)
        return _row_sizes(arr.cast(t.value_type))
    try:
        return np.full(n, max(1, t.bit_width // 8), dtype=np.int64)
    except (ValueError, AttributeError):
        return np.full(n, 8, dtype=np.int64)


def _varlen_sizes(arr: pa.Array, overhead: int) -> np.ndarray:
    lb = arr.cast(pa.large_binary())
    off = np.frombuffer(
        lb.buffers()[1], dtype=np.int64, count=len(lb) + 1, offset=lb.offset * 8
    )
    return np.diff(off) + overhead


def _batch_row_sizes(batch: pa.RecordBatch) -> np.ndarray:
    total = np.zeros(batch.num_rows, dtype=np.int64)
    for col in batch.columns:
        total += _row_sizes(col)
    return total


def _new_out_rows() -> dict:
    return {name: [] for name in CHUNK_SCHEMA.names}


def _rows_to_batch(rows: dict) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(rows, schema=CHUNK_SCHEMA)


def _encode_chunk_into(
    rows: dict,
    batches: list[pa.RecordBatch],
    group_key: str,
    salt: int,
    seq: int,
    profile: str,
    kernel_caches: dict | None = None,
    namespace: str = "",
    bloom_cols: "frozenset[str] | None" = None,
) -> int:
    """Encode one chunk, appending its per-column rows to ``rows``;
    returns the payload bytes added (output-batch sizing)."""
    if len(batches) == 1:
        # single-slice chunk (the common case once chunk caps align with
        # arrow batches): take the slice's columns directly — codecs
        # handle non-zero offsets, and combine_chunks on a lone chunk
        # returns it unchanged anyway, so bytes are identical; this just
        # skips the Table assembly per chunk
        b0 = batches[0]
        named_cols = list(zip(b0.schema.names, b0.columns))
    else:
        tbl = pa.Table.from_batches(batches)
        named_cols = [
            (name, tbl.column(name).combine_chunks())
            for name in tbl.column_names
        ]
    cid = chunk_id_for(group_key, salt, seq, namespace)
    added = 0
    for name, arr in named_cols:
        cache = None
        if kernel_caches is not None:
            cache = kernel_caches.setdefault(name, {})
        blob, meta = encode_array(arr, profile=profile, kernel_cache=cache)
        rows["chunk_id"].append(cid)
        rows["group_key"].append(group_key)
        rows["salt"].append(salt)
        rows["seq"].append(seq)
        rows["column"].append(name)
        rows["codec"].append(meta["codec"])
        rows["n_rows"].append(meta["n_rows"])
        rows["n_nulls"].append(meta["n_nulls"])
        rows["raw_bytes"].append(meta["raw_bytes"])
        rows["enc_bytes"].append(meta["enc_bytes"])
        rows["dict_size"].append(meta["dict_size"])
        rows["min_s"].append(_stat_str(meta["min"]))
        rows["max_s"].append(_stat_str_max(meta["max"]))
        rows["min_d"].append(_stat_num(meta["min"], toward=float("-inf")))
        rows["max_d"].append(_stat_num(meta["max"], toward=float("inf")))
        rows["bloom"].append(
            _chunk_bloom(arr)
            if bloom_cols is None or name in bloom_cols
            else None
        )
        rows["payload"].append(blob)
        rows["payload_ck"].append(payload_ck(blob))
        added += len(blob)
    return added


def _make_encode_fn(
    target_chunk_bytes: int,
    target_chunk_rows: int,
    profile: str,
    salt_col: str,
    gk_col: str,
    namespace: str = "",
    bloom_cols: "frozenset[str] | None" = None,
):
    """Build the mapInArrow function. Rows arrive sorted by
    (group_cols, salt) within each partition; cut at group/salt changes
    and at size caps. The group key is read from ``gk_col`` (computed
    in Spark by group_key_expr) — never re-derived in Python — so the
    resume anti-join matches byte-for-byte for every column type."""

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # one arrow thread per worker: the executor already runs one
        # worker per core; arrow's own pool (default = all cores) would
        # oversubscribe 32x and destroy scaling
        pa.set_cpu_count(1)
        buf: list[pa.RecordBatch] = []
        buf_bytes = 0
        buf_rows = 0
        cur_key: str | None = None
        cur_salt = 0
        seq = 0
        # per-(group,salt) trained-kernel reuse across that shard's chunks
        kernel_caches: dict = {}
        # encoded rows accumulate across chunks into one output batch
        # (see _OUT_BATCH_BYTES)
        out_rows = _new_out_rows()
        out_bytes = 0

        def flush():
            """Encode the buffered chunk; returns an OUTPUT batch when
            the accumulated encoded rows crossed the size target."""
            nonlocal buf, buf_bytes, buf_rows, seq, out_bytes, out_rows
            if buf_rows:
                out_bytes += _encode_chunk_into(
                    out_rows, buf, cur_key, cur_salt, seq, profile,
                    kernel_caches, namespace, bloom_cols,
                )
                seq += 1
                buf, buf_bytes, buf_rows = [], 0, 0
                if out_bytes >= _OUT_BATCH_BYTES:
                    out = _rows_to_batch(out_rows)
                    out_rows = _new_out_rows()
                    out_bytes = 0
                    return out
            return None

        for batch in it:
            salts = batch.column(salt_col).to_numpy()
            data = batch.select(
                [
                    c
                    for c in batch.schema.names
                    if c not in (salt_col, "__sortkey", gk_col)
                ]
            )
            row_sizes = _batch_row_sizes(data)
            # vectorized group/salt boundary detection on the
            # Spark-rendered key (one string column)
            gk_vals = batch.column(gk_col).to_numpy(zero_copy_only=False)
            key_change = np.zeros(batch.num_rows, dtype=bool)
            key_change[1:] |= gk_vals[1:] != gk_vals[:-1]
            key_change[1:] |= salts[1:] != salts[:-1]

            boundaries = np.flatnonzero(key_change)
            starts = np.concatenate(([0], boundaries))
            ends = np.concatenate((boundaries, [batch.num_rows]))
            for s, e in zip(starts, ends):
                if e <= s:
                    continue
                key = str(gk_vals[s])
                salt = int(salts[s])
                if cur_key is not None and (key != cur_key or salt != cur_salt):
                    out = flush()
                    if out is not None:
                        yield out
                    seq = 0
                    kernel_caches.clear()  # new shard, new distribution
                cur_key, cur_salt = key, salt
                # append in sub-slices cut at EXACT row positions: both
                # caps are evaluated against per-row value sizes, so a
                # chunk closes on the precise row that reaches the row
                # cap or crosses the byte cap — boundary placement is a
                # pure function of the shard's row stream, independent
                # of arrow batch segmentation AND partition count
                # (checking the byte cap only at slice ends let batch
                # boundaries move the cut, which differed across widths)
                off = s
                while off < e:
                    room = target_chunk_rows - buf_rows
                    seg = row_sizes[off : min(e, off + room)]
                    cs = np.cumsum(seg)
                    need = target_chunk_bytes - buf_bytes
                    # rows strictly below the byte cap, plus the row
                    # that crosses it (guarantees progress even when a
                    # single row alone exceeds the target)
                    take = min(len(seg), int(np.searchsorted(cs, need)) + 1)
                    buf.append(data.slice(off, take))
                    buf_rows += take
                    buf_bytes += int(cs[take - 1])
                    off += take
                    if (
                        buf_bytes >= target_chunk_bytes
                        or buf_rows >= target_chunk_rows
                    ):
                        out = flush()
                        if out is not None:
                            yield out
        out = flush()
        if out is not None:
            yield out
        if out_rows["chunk_id"]:
            yield _rows_to_batch(out_rows)

    return fn


def _contains_map(dt) -> bool:
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _hashable_cols(df: DataFrame, cols: list[str]) -> list[str]:
    """Columns usable in xxhash64 (Spark forbids hashing MAP types)."""
    types = {f.name: f.dataType for f in df.schema.fields}
    return [c for c in cols if c in types and not _contains_map(types[c])]


def plan_salts(
    df: DataFrame,
    group_cols: list[str],
    target_group_bytes: int,
    with_total: bool = False,
) -> "DataFrame | tuple[DataFrame, int]":
    """Exact size histogram -> salts-per-group (the skew plan).

    Returns a driver-side table (group_cols..., _grp_bytes, _n_salts)
    for encode_table's broadcast join, one row per group that has rows
    (an empty input plans no group, with or without group columns).
    The mega-repo from the Zipf fixture lands many salts; tiny groups
    get 1.

    The histogram is collected ONCE (``toArrow``) and rebuilt as an
    Arrow-built local DataFrame under the histogram's own schema, so
    the join keys keep their Spark types and the join's build side is
    a LocalTableScan: nothing is persisted, and reading the plan back
    (its rows, its total, the broadcast) never re-runs the aggregation
    over the input. A plan is broadcast anyway, so it already had to
    fit on the driver.

    ``with_total=True`` additionally returns the plan's total byte
    estimate (summed on the driver, no Spark job).
    """
    str_cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
    size_expr = None
    for c in df.columns:
        e = F.octet_length(F.col(c)) if c in str_cols else F.lit(8)
        e = F.coalesce(e, F.lit(0))
        size_expr = e if size_expr is None else size_expr + e
    # a global aggregate (no group columns) over an empty input is one
    # row of NULL bytes: not a group
    sizes = (
        df.groupBy(*group_cols)
        .agg(F.sum(size_expr).alias("_grp_bytes"))
        .where(F.col("_grp_bytes").isNotNull())
    )
    # _grp_bytes stays in the plan: encode_table sizes its partitions
    # from their sum
    hist = sizes.select(
        *group_cols,
        "_grp_bytes",
        F.greatest(
            F.lit(1),
            F.ceil(F.col("_grp_bytes") / F.lit(target_group_bytes)).cast("int"),
        ).alias("_n_salts"),
    )
    plan = df.sparkSession.createDataFrame(hist.toArrow(), schema=hist.schema)
    if with_total:
        return plan, _plan_bytes(plan)
    return plan


def _plan_bytes(plan: DataFrame) -> int:
    """Total input bytes a salt plan covers, summed on the driver (the
    plan is broadcast, so it fits there; a local plan answers without
    a Spark job)."""
    return sum(r[0] for r in plan.select("_grp_bytes").collect())


def layout_cols(group_cols, range_cols) -> tuple[list[str], list[str]]:
    """Both as lists; an encode is hash-grouped or range-sorted, not both."""
    group_cols, range_cols = list(group_cols or []), list(range_cols or [])
    if group_cols and range_cols:
        raise ValueError(f"group_cols {group_cols} and range_cols {range_cols} are exclusive")
    return group_cols, range_cols


def encode_table(
    df: DataFrame,
    group_cols: Iterable[str] | None = None,
    sort_cols: Iterable[str] | None = None,
    range_cols: Iterable[str] | None = None,
    target_chunk_bytes: int = 8 << 20,
    target_chunk_rows: int = 1 << 16,
    target_group_bytes: int = TARGET_GROUP_BYTES,
    profile: str = "balanced",
    num_partitions: int | None = None,
    namespace: str = "",
    unstable_order_ok: bool = False,
    bloom: "bool | Iterable[str]" = True,
    salt_plan: "DataFrame | None" = None,
) -> DataFrame:
    """Encode ``df`` into the chunk table (CHUNK_SCHEMA rows): the
    salted/partitioned/sorted row stream through the encode worker in
    one mapInArrow stage.

    One shuffle: repartition on (group_cols, salt). Groups bigger than
    ``target_group_bytes`` are split across ``n_salts`` deterministic
    salts (hash of sort cols) — the skew fix required by north_rule.

    ``bloom`` mirrors parquet-mr's per-column bloom enable (public
    parquet-format spec / ParquetOutputFormat BLOOM_FILTER_ENABLED):
    True (default) auto-builds per-chunk bloom stats for every eligible
    column, False disables them everywhere (a 100 TB append-only corpus
    nobody point-looks-up shouldn't pay the ~2 KB/chunk), and an
    iterable of column names restricts building to exactly those
    columns. Named columns still pass the per-chunk eligibility gates
    (value length < 256 B, <= 2048 distincts — codecs/bloom.py); bloom
    content for a built column is identical whether chosen by name or
    by auto-eligibility, so partition-count/resume chunk identity is
    unaffected by how the column was selected.

    ``salt_plan``: a precomputed plan_salts() DataFrame (group_cols +
    _grp_bytes + _n_salts) of ``df``. When given, the first-pass size
    histogram over the input is skipped; resume_encode passes the plan
    it built to count its pending groups. Without one, the encode plans
    here (plan_salts). The salts — and therefore every chunk id and
    byte — are pure functions of each group's bytes, so a plan of any
    input holding whole groups salts those groups as an encode of the
    full input would. This is the only place an encode is sized:
    without ``num_partitions`` it is derived from the plan's total
    bytes.

    Layouts:
    - ``group_cols`` (default path): hash partition on (group, salt);
      chunk ids are deterministic and independent of partition count.
    - neither: the grouped layout with no group columns — one
      pseudo-group (key ``[]``) salted by its bytes like any group, so
      its chunk ids are the same at any width and ``num_partitions``.
    - ``range_cols`` (exclusive with ``group_cols``): range partition +
      sort — chunks carry tight min/max ranges, maximizing manifest
      chunk-skipping (the analog of sorted row groups). The salt is the
      range partition id, sized from bytes like the other layouts, so
      an input that fits one partition chunks the same at any width;
      past that, the boundaries follow ``repartitionByRange``'s sample
      of the input's own partitions. Not resume-stable.
    """
    group_cols, range_cols = layout_cols(group_cols, range_cols)
    sort_cols = list(sort_cols or [c for c in df.columns if c not in group_cols])
    spark = df.sparkSession
    # Partition sizing is BYTES-based for every layout (the salt plan's
    # total): one partition per ~TARGET_PARTITION_BYTES, parallelism
    # capped at min(cores, bytes / MIN_TASK_BYTES) — a task below ~8 MB
    # is pure mapInArrow setup overhead. The round-2 "4x cores"
    # multiplier sized partitions by CLUSTER WIDTH, which backfired at
    # high core counts on modest inputs — 128 partitions of 2.9 MB at
    # local[32] measured 2.4x the CPU and 2.5x the wall of 32x12 MB.
    # Bytes sizing gives N- and 4N-core runs the SAME partitioning and
    # scales to 100 TB as ~3M x 32 MB tasks. For salted encodes it is a
    # pure scheduling choice; range chunks never cross a partition, so
    # there it keeps the chunking free of the host width.
    cores = spark.sparkContext.defaultParallelism

    salt_col = "__salt"
    key_col = "__sortkey"
    gk_col = "__groupkey"
    # deterministic total-ish order WITHOUT comparing multi-KB strings in
    # the sorter: one 8-byte hash of the sort columns (collisions only
    # swap near-identical rows inside one group — chunk content unaffected)
    hashable = _hashable_cols(df, sort_cols or df.columns)
    if hashable:
        sort_key = F.xxhash64(*[F.col(c) for c in hashable])
    elif unstable_order_ok:
        # no deterministic hash available (Spark's xxhash64 rejects MAP
        # columns): rows chunk in arrival order, so chunk BYTES are not
        # reproducible across runs/partitionings — resume and N-vs-4N
        # byte identity degrade to row-set identity for this dataset
        sort_key = F.lit(0).cast("long")
    else:
        raise ValueError(
            "every sort column is MAP-typed — Spark cannot hash maps, so "
            "chunk contents would depend on row arrival order, silently "
            "breaking resume and partition-count byte identity. Provide "
            "sort_cols including at least one non-map column, or pass "
            "unstable_order_ok=True to accept order-dependent chunks."
        )
    if bloom is True:
        bloom_cols = None
    elif bloom is False:
        bloom_cols = frozenset()
    else:
        bloom_cols = frozenset(bloom)
        unknown = bloom_cols - set(df.columns)
        if unknown:
            raise ValueError(
                f"bloom columns not in the input: {sorted(unknown)}"
            )
    # a range encode given its partition count needs no plan
    if salt_plan is None and not (range_cols and num_partitions):
        salt_plan = plan_salts(df, group_cols, target_group_bytes)
    if num_partitions is None:
        num_partitions = _salted_partitions(_plan_bytes(salt_plan), cores)
    if range_cols:
        df = df.withColumn(key_col, F.lit(0).cast("long"))
        df = df.repartitionByRange(num_partitions, *range_cols)
        df = df.sortWithinPartitions(*range_cols)
        df = df.withColumn(salt_col, F.spark_partition_id().cast("int"))
        df = df.withColumn(gk_col, group_key_expr([]))
    else:
        # an ungrouped encode is one group: its one plan row salts the
        # whole input by bytes, and every row takes the key "[]"
        # null-safe (<=>), so NULL-keyed groups take their salts too; one
        # SQL condition keeps the build's py4j calls flat
        names = [f"`{c.replace('`', '``')}`" for c in group_cols]
        keys = [f"_plan_{i}" for i in range(len(group_cols))]
        plan = salt_plan.selectExpr(
            *[f"{c} AS {k}" for c, k in zip(names, keys)], "_n_salts"
        )
        on = " AND ".join(f"{c} <=> {k}" for c, k in zip(names, keys))
        df = df.join(F.broadcast(plan), on=F.expr(on or "true"), how="left")
        df = df.withColumn(key_col, sort_key)
        # a group a caller's salt_plan lacks gets 1 salt
        df = df.withColumn(
            salt_col,
            F.pmod(
                F.col(key_col), F.coalesce(F.col("_n_salts"), F.lit(1))
            ).cast("int"),
        ).drop("_n_salts", *keys)
        df = df.withColumn(gk_col, group_key_expr(group_cols))
        df = df.repartition(num_partitions, *group_cols, salt_col)
        # lead the sort with an 8-byte hash of the group key: the
        # sorter's radix prefix then resolves almost every comparison
        # without touching the group strings (fixture repos share long
        # prefixes, degenerating string-prefix comparison). Hash
        # collisions stay SOUND — the group columns follow as
        # tie-breakers, so (group, salt) runs remain contiguous and
        # rows within a group keep the same key_col order; chunk bytes
        # and ids are unchanged (pinned by the determinism tests).
        df = df.sortWithinPartitions(
            *(
                [F.xxhash64(F.col(gk_col)).asc()]
                + group_cols
                + [salt_col, key_col]
            )
        )

    fn = _make_encode_fn(
        target_chunk_bytes, target_chunk_rows, profile, salt_col, gk_col,
        namespace, bloom_cols,
    )
    return df.mapInArrow(fn, ENCODED_DDL)
