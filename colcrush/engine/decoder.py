"""Distributed decode: chunk table -> original DataFrame.

Projected decode (only requested columns travel + decode) is the
engine's analog of parquet4s column projection
(/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/ParquetIterator.scala:107,
ParquetReader.scala:283-319). Chunk rows are co-located by a single
repartition on chunk_id; the decode fn reassembles a chunk once all of
its requested column rows have arrived (order-free accumulation, so no
sort is needed).
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..codecs import decode_array
from ..codecs.dec_rescale import rescale_decimal128
from .encoder import payload_ck


def _spark_field_for(arrow_type: pa.DataType) -> T.DataType:
    """Minimal arrow->spark type mapping for decode output schemas."""
    if pa.types.is_string(arrow_type) or pa.types.is_large_string(arrow_type):
        return T.StringType()
    if pa.types.is_binary(arrow_type) or pa.types.is_large_binary(arrow_type):
        return T.BinaryType()
    if pa.types.is_int64(arrow_type):
        return T.LongType()
    if pa.types.is_int32(arrow_type):
        return T.IntegerType()
    if pa.types.is_int16(arrow_type):
        return T.ShortType()
    if pa.types.is_int8(arrow_type):
        return T.ByteType()
    if pa.types.is_float64(arrow_type):
        return T.DoubleType()
    if pa.types.is_float32(arrow_type):
        return T.FloatType()
    if pa.types.is_boolean(arrow_type):
        return T.BooleanType()
    if pa.types.is_timestamp(arrow_type):
        return T.TimestampType()
    if pa.types.is_date(arrow_type):
        return T.DateType()
    if isinstance(arrow_type, pa.Decimal128Type):
        return T.DecimalType(arrow_type.precision, arrow_type.scale)
    if pa.types.is_list(arrow_type) or pa.types.is_large_list(arrow_type):
        return T.ArrayType(_spark_field_for(arrow_type.value_type))
    if pa.types.is_map(arrow_type):
        return T.MapType(
            _spark_field_for(arrow_type.key_type),
            _spark_field_for(arrow_type.item_type),
        )
    if pa.types.is_struct(arrow_type):
        return T.StructType(
            [
                T.StructField(f.name, _spark_field_for(f.type), True)
                for f in arrow_type
            ]
        )
    raise TypeError(f"unsupported arrow type {arrow_type}")


def _rescale_decimal(arr: pa.Array, precision: int, scale: int) -> pa.Array:
    """parquet4s rescale-on-read (/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/DecimalFormat.scala:80-83):
    round the stored value to ``precision`` significant digits
    (MathContext), then setScale(``scale``) — both HALF_UP. One
    divergence, pinned by test: a result whose integer digits then
    exceed precision-scale (Java's BigDecimal carries it silently; a
    typed arrow/Spark decimal column cannot) raises ValueError instead
    of silently violating the declared type.

    Fully vectorized (uint64 limb arithmetic on the unscaled int128
    words — see codecs/dec_rescale.py); hypothesis-pinned equal to the
    scalar decimal.Decimal reference in tests/test_codecs_property.py.
    """
    return rescale_decimal128(arr, precision, scale)


class IncompleteChunksError(RuntimeError):
    """A decode worker's input ended with chunks missing column rows:
    the chunk rows it was fed were not co-located per chunk."""


def decode_table(
    chunks: DataFrame,
    schema: T.StructType,
    columns: list[str] | None = None,
    assume_colocated: bool = False,
    decimal_formats: dict[str, tuple[int, int]] | None = None,
    verify_checksums: bool = True,
) -> DataFrame:
    """Decode a chunk DataFrame (ENCODED_DDL) back to rows: the
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
    parquet4s rescaleOnRead contract (see _rescale_decimal).

    ``verify_checksums=True`` (default) re-computes each payload's
    stored ``payload_ck`` before decoding and raises on mismatch —
    bit rot on a 100 TB store must fail loudly, not decode to wrong
    rows. Datasets written before the column existed (or mixed
    appends whose rows read as NULL) skip the check per row.
    """
    with_ck = verify_checksums and "payload_ck" in chunks.columns
    columns, out_schema, fn = decode_worker(
        schema,
        columns=columns,
        decimal_formats=decimal_formats,
        with_ck=with_ck,
    )
    pruned = chunks.where(chunks["column"].isin(columns)).select(
        "chunk_id", "column", "payload",
        *(["payload_ck"] if with_ck else []),
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
):
    """The decode worker, DataFrame-free: returns ``(ordered_columns,
    out_schema, fn)`` where ``fn`` maps an iterator of chunk-row
    batches (chunk_id, column, payload[, payload_ck]) to decoded row
    batches, and raises IncompleteChunksError if a chunk's column rows
    never all arrive. decode_table wires it behind a chunk DataFrame;
    the fused reader (dataset.fused_decode, the default read_decoded
    plan) composes it directly with the in-worker file reader so
    payload bytes never cross a process boundary."""
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
    n_expected = len(columns)

    def fn(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pa.set_cpu_count(1)  # executor runs one worker per core already
        pending: dict[str, dict[str, bytes]] = {}
        for batch in it:
            cids = batch.column("chunk_id").to_pylist()
            cols = batch.column("column").to_pylist()
            payloads = batch.column("payload")
            cks = batch.column("payload_ck").to_pylist() if with_ck else None
            for i, cid in enumerate(cids):
                d = pending.setdefault(cid, {})
                d[cols[i]] = blob = payloads[i].as_py()
                # NULL ck = row predates the checksum column: skip
                if cks is not None and cks[i] is not None:
                    # a NULL payload under a non-null checksum IS
                    # corruption (the payload column was lost) — raise
                    # the descriptive failure, not hashlib's TypeError
                    if blob is None or payload_ck(blob) != cks[i]:
                        nb = "NULL" if blob is None else f"{len(blob)} bytes"
                        raise ValueError(
                            f"chunk integrity failure: payload checksum "
                            f"mismatch for chunk {cid} column {cols[i]} "
                            f"({nb}) — storage corruption?"
                        )
                if len(d) == n_expected:
                    arrays = [
                        _rescale_decimal(decode_array(d[c]), *decimal_formats[c])
                        if c in decimal_formats
                        else decode_array(d[c])
                        for c in columns
                    ]
                    del pending[cid]
                    yield pa.record_batch(arrays, names=columns)
        if pending:
            raise IncompleteChunksError(
                f"incomplete chunks after decode: {list(pending)[:5]}"
            )

    return columns, out_schema, fn
