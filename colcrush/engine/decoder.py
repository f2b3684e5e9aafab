"""Distributed decode: chunk rows -> original DataFrame.

Projected decode (only requested columns travel + decode) is the
engine's analog of parquet4s column projection
(/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/ParquetIterator.scala:107,
ParquetReader.scala:283-319). :func:`decode_worker` is the one decode
worker: it reassembles a chunk once all of its requested column rows
have arrived (order-free accumulation, so no sort is needed). Two plans
feed it: the fused reader (dataset.fused_decode, the default read),
which reads whole part files inside the worker, and
:func:`decode_table`, which co-locates a chunk DataFrame's rows by one
repartition on chunk_id.

The worker's ``prune`` hook is a chunk predicate, ``(stat_columns,
survives)``: once a chunk's rows have arrived, ``survives`` sees the
stats rows of ``stat_columns`` and the chunk is decoded only if it
returns True. The decoder knows no filter language; scan builds the
predicate (scan.chunk_predicate for its filters, a wrapped user
callable for scan_udp).
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from ..codecs import decode_array
from ..codecs.dec_rescale import rescale_decimal128
from .encoder import CHUNK_SCHEMA, payload_ck


class IncompleteChunksError(RuntimeError):
    """A decode worker's input ended with chunks missing column rows:
    the chunk rows it was fed were not co-located per chunk."""


# the chunk-row stats a chunk predicate reads, in the order
# ``survives`` receives them
STATS_FIELDS = tuple(
    CHUNK_SCHEMA.field(n)
    for n in ("n_rows", "n_nulls", "min_s", "max_s", "min_d", "max_d", "bloom")
)

# the prune pass (decode=False): one verdict row per chunk
PRUNE_SCHEMA = pa.schema(
    [pa.field("chunk_id", pa.string()), pa.field("alive", pa.bool_())]
)


def decode_table(
    chunks: DataFrame,
    schema: T.StructType,
    columns: list[str] | None = None,
    assume_colocated: bool = False,
    decimal_formats: dict[str, tuple[int, int]] | None = None,
    prune: "tuple | None" = None,
    decode: bool = True,
) -> DataFrame:
    """Decode a chunk DataFrame (CHUNK_SCHEMA rows) back to rows: the
    projected chunk rows, repartitioned on chunk_id, through
    :func:`decode_worker` in one mapInArrow stage.

    ``schema`` is the original table's Spark schema; ``columns``
    restricts the projection (pruning happens BEFORE the shuffle — only
    requested payloads move).

    Over a persisted dataset, ``decode_table(read_chunks(spark, path),
    schema)`` is the exchange plan: the reference the fused default
    read (dataset.read_decoded) is tested against, its fallback for
    JVM-only schemes, and the reader for part files that split a chunk.

    ``assume_colocated=True`` skips the repartition on chunk_id — valid
    when ``chunks`` comes straight from ``encode_table`` (each chunk's
    rows were emitted as one batch in one partition), saving a
    payload-sized shuffle. The decoder still fails loudly (incomplete
    chunks) if the assumption is violated, never silently mis-decodes.

    ``decimal_formats``: {column: (precision, scale)} reads a stored
    decimal column at a different format, rescaling HALF_UP — the
    parquet4s rescaleOnRead contract (see
    codecs.dec_rescale.rescale_decimal128).

    ``prune`` (a chunk predicate) and ``decode`` prune chunks inside
    the worker; see :func:`decode_worker`. With ``prune=None`` and
    ``decode=True`` only the payload columns are selected.

    When ``chunks`` carries the ``payload_ck`` column, each payload's
    stored checksum is re-computed before decoding and a mismatch
    raises — bit rot on a 100 TB store must fail loudly, not decode to
    wrong rows. Datasets written before the column existed (or mixed
    appends whose rows read as NULL) skip the check per row.
    """
    columns, in_schema, out_schema, fn = decode_worker(
        schema,
        columns=columns,
        decimal_formats=decimal_formats,
        with_ck="payload_ck" in chunks.columns,
        prune=prune,
        decode=decode,
    )
    pruned = chunks.where(chunks["column"].isin(columns)).select(
        *in_schema.names
    )
    if not assume_colocated:
        # partition count from spark.sql.shuffle.partitions (+ AQE
        # coalescing), which scales with the cluster — a fixed
        # defaultParallelism would underparallelize a 100 TB decode
        pruned = pruned.repartition("chunk_id")
    return pruned.mapInArrow(fn, out_schema)


def decode_worker(
    schema: T.StructType,
    columns: list[str] | None = None,
    decimal_formats: dict[str, tuple[int, int]] | None = None,
    with_ck: bool = True,
    prune: "tuple | None" = None,
    decode: bool = True,
):
    """The decode worker, DataFrame-free: returns ``(ordered_columns,
    in_schema, out_schema, fn)`` where ``fn`` maps an iterator of
    chunk-row batches (``in_schema``: chunk_id, column, payload[,
    payload_ck]) to decoded row batches, and raises
    IncompleteChunksError if a chunk's column rows never all arrive.
    decode_table wires it behind a chunk DataFrame; the fused reader
    (dataset.fused_decode, the default read_decoded plan) composes it
    directly with the in-worker file reader so payload bytes never
    cross a process boundary.

    ``prune`` is a chunk predicate ``(stat_columns, survives)``: the
    chunk rows then also carry the STATS_FIELDS columns, and a chunk
    whose rows have all arrived is decoded only if ``survives`` maps
    ``{column: its STATS_FIELDS values}`` (of the requested
    ``stat_columns``) to True. Payloads are copied and checked only for
    decoded chunks. ``decode=False`` is the prune pass alone
    (scan.pruned_chunk_count): no payload is read, and ``fn`` yields
    PRUNE_SCHEMA rows, one per chunk with its verdict."""
    requested = set(columns or [f.name for f in schema.fields])
    missing = requested - {f.name for f in schema.fields}
    if missing:
        raise ValueError(f"columns not in schema: {missing}")
    decimal_formats = dict(decimal_formats or {})
    for c, (p, s) in decimal_formats.items():
        f = next((f for f in schema.fields if f.name == c), None)
        if f is None or not isinstance(f.dataType, T.DecimalType):
            raise ValueError(f"decimal_formats: {c} is not a decimal column")
    columns = [f.name for f in schema.fields if f.name in requested]
    n_expected = len(columns)

    stat_cols, survives = prune or ((), None)
    stat_set = pa.array(sorted(set(stat_cols) & requested), type=pa.string())
    stat_names = ["chunk_id", "column", *(f.name for f in STATS_FIELDS)]
    with_ck = with_ck and decode
    in_schema = pa.schema(
        [
            CHUNK_SCHEMA.field(n)
            for n in (
                "chunk_id", "column",
                *(["payload"] if decode else []),
                *(["payload_ck"] if with_ck else []),
            )
        ]
        + list(STATS_FIELDS if survives is not None else [])
    )
    if not decode:
        out_schema = from_arrow_schema(PRUNE_SCHEMA)
    else:
        out_schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.DecimalType(*decimal_formats[f.name])
                    if f.name in decimal_formats
                    else f.dataType,
                    f.nullable,
                )
                for f in schema.fields
                if f.name in requested
            ]
        )

    def decoded(cid: str, d: dict) -> pa.RecordBatch:
        arrays = []
        for c in columns:
            blob, ck = d[c][0].as_py(), d[c][1]
            # NULL ck = row predates the checksum column: skip. A NULL
            # payload under a non-null checksum IS corruption (the
            # payload column was lost) — raise the descriptive failure,
            # not hashlib's TypeError
            if ck is not None and (blob is None or payload_ck(blob) != ck):
                nb = "NULL" if blob is None else f"{len(blob)} bytes"
                raise ValueError(
                    f"chunk integrity failure: payload checksum "
                    f"mismatch for chunk {cid} column {c} "
                    f"({nb}) — storage corruption?"
                )
            arr = decode_array(blob)
            if c in decimal_formats:
                arr = rescale_decimal128(arr, *decimal_formats[c])
            arrays.append(arr)
        return pa.record_batch(arrays, names=columns)

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        pa.set_cpu_count(1)  # executor runs one worker per core already
        pending: dict[str, dict] = {}
        stats: dict[str, dict[str, list]] = {}
        verdicts: tuple[list, list] = ([], [])
        for batch in it:
            if survives is not None:
                sub = batch.filter(
                    pc.is_in(batch.column("column"), value_set=stat_set)
                )
                for cid, c, *s in zip(
                    *(sub.column(n).to_pylist() for n in stat_names)
                ):
                    stats.setdefault(cid, {})[c] = s
            cids = batch.column("chunk_id").to_pylist()
            cols = batch.column("column").to_pylist()
            payloads = batch.column("payload") if decode else None
            cks = batch.column("payload_ck").to_pylist() if with_ck else None
            for i, cid in enumerate(cids):
                d = pending.setdefault(cid, {})
                if cols[i] in d:  # keeping either would mix two chunks
                    raise ValueError(
                        f"chunk {cid} column {cols[i]} arrived twice "
                        "before the chunk was complete"
                    )
                # an Arrow scalar: decoded() copies out kept chunks only
                d[cols[i]] = (
                    payloads[i] if decode else None,
                    cks[i] if with_ck else None,
                )
                if len(d) < n_expected:
                    continue
                del pending[cid]
                st = stats.pop(cid, {})
                alive = survives is None or survives(st)
                if not decode:
                    verdicts[0].append(cid)
                    verdicts[1].append(alive)
                elif alive:
                    yield decoded(cid, d)
        if pending:
            raise IncompleteChunksError(
                f"incomplete chunks after decode: {list(pending)[:5]}"
            )
        if not decode:
            yield pa.record_batch(
                [pa.array(v, f.type) for v, f in zip(verdicts, PRUNE_SCHEMA)],
                schema=PRUNE_SCHEMA,
            )

    return columns, in_schema, out_schema, fn
