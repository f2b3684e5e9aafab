"""Encoded dataset persistence: chunks + manifest + resumable restarts.

Directory layout (an Iceberg-metadata-style commit protocol without the
Iceberg jars, which aren't in this image):

  <root>/schema.json          original table schema (Spark JSON)
  <root>/chunks/              chunk rows incl. payload, parquet, UNCOMPRESSED
                              (our codecs did the compression — storing
                              them re-compressed would hide the ratio)
  <root>/manifest/            chunk rows sans payload (lineage + metrics:
                              codec, dict size, ratio, row counts, min/max)
  <root>/salt_plan/           recorded skew plan (group -> bytes, n_salts):
                              resume/append re-encodes reuse it instead of
                              re-scanning the input for the size histogram

The manifest is written AFTER the chunks, so its presence commits them —
the analog of parquet4s's postWriteHandler checkpoint semantics
(/root/reference/akkaPekko/src/main/scala/com/github/mjakubowski84/parquet4s/ParquetPartitioningFlow.scala:303-316).
Resume = anti-join the planned (group, salt) work units against the
committed manifest and encode only what's missing
(SURVEY.md §7 step 5).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import fsio
from .decoder import decode_table
from .encoder import (
    ENCODED_DDL,
    MANIFEST_COLS,
    TARGET_GROUP_BYTES,
    encode_table,
    group_key_expr,
    payload_ck,
    plan_salts,
)

SCHEMA_FILE = "schema.json"
CHUNKS_DIR = "chunks"
MANIFEST_DIR = "manifest"
SALT_PLAN_DIR = "salt_plan"


def _write_schema(path: str, schema: T.StructType) -> None:
    fsio.makedirs(path)
    fsio.write_text(fsio.join(path, SCHEMA_FILE), schema.json())


def read_schema(path: str) -> T.StructType:
    p = fsio.join(path, SCHEMA_FILE)
    if not fsio.exists(p):
        epochs = _committed_epoch_dirs(path)
        if epochs:
            p = fsio.join(epochs[0], SCHEMA_FILE)
    return T.StructType.fromJson(fsio.read_json(p))


def write_encoded(
    df: DataFrame,
    path: str,
    mode: str = "error",
    file_map: bool = True,
    **encode_kwargs,
) -> None:
    """Encode ``df`` and persist chunks + manifest at ``path``.

    mode: 'error' (CREATE semantics, like parquet4s Mode.CREATE —
    /root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/IOOps.scala:37-56),
    'overwrite', or 'append'.

    ``file_map`` is ignored. It once turned the chunk->file sidecar
    build on or off and stays only because perfbench/layers.py still
    passes it; no write builds the sidecar.

    Grouped writes without a ``salt_plan`` plan the salts here
    (plan_salts, one histogram pass) and record the plan as the
    salt_plan/ sidecar before the chunks; encode_table sizes the encode
    from the plan it is handed.
    """
    if mode not in ("error", "overwrite", "append"):
        # an unrecognized mode must fail loudly: it would otherwise
        # skip the CREATE existence check and silently APPEND
        raise ValueError(f"mode must be error|overwrite|append, got {mode!r}")
    chunks_path = fsio.join(path, CHUNKS_DIR)
    manifest_path = fsio.join(path, MANIFEST_DIR)
    if mode == "error" and fsio.exists(chunks_path):
        raise FileExistsError(f"{path} already contains an encoded dataset")
    if mode == "append" and fsio.exists(fsio.join(path, SCHEMA_FILE)):
        existing = read_schema(path)
        if existing != df.schema:
            raise ValueError(
                f"append schema mismatch: dataset has {existing.simpleString()}, "
                f"got {df.schema.simpleString()}"
            )
    # salts are planned HERE so the plan can be recorded: resume/append
    # re-encodes then reuse it instead of paying a second full input
    # scan, and the recorded salts make re-encode chunk identity a
    # stored fact rather than a recomputation
    group_cols = list(encode_kwargs.get("group_cols") or [])
    plan = encode_kwargs.get("salt_plan")
    if plan is None and group_cols:
        plan = encode_kwargs["salt_plan"] = plan_salts(
            df,
            group_cols,
            encode_kwargs.get("target_group_bytes", TARGET_GROUP_BYTES),
        )
    encoded = encode_table(df, **encode_kwargs).persist()
    try:
        _write_schema(path, df.schema)
        write_mode = "overwrite" if mode == "overwrite" else "append"
        if plan is not None:
            # the plan sidecar lands BEFORE the chunks: a write that
            # crashes mid-chunk-job leaves the recorded plan behind, so
            # the resume re-encode skips the histogram pass and
            # reproduces the originally planned chunking exactly
            plan.write.mode(write_mode).parquet(fsio.join(path, SALT_PLAN_DIR))
        (
            encoded.write.mode(write_mode)
            .option("compression", "uncompressed")
            .parquet(chunks_path)
        )
        # manifest rows come from the SAME persisted plan (encode runs
        # once; no chunk re-scan) and commit strictly after the chunks —
        # in append mode only the new rows are appended, so the manifest
        # write cost stays proportional to the increment at 100 TB
        manifest = encoded.select(*MANIFEST_COLS)
        manifest.write.mode(write_mode).parquet(manifest_path)
    finally:
        encoded.unpersist()


def _committed_epoch_dirs(path: str) -> list[str]:
    """Epoch sub-datasets (streaming sink layout) whose manifest is
    committed — an epoch dir with chunks but no manifest/_SUCCESS is an
    uncommitted partial write and must stay invisible to readers."""
    if not fsio.isdir(path):
        return []
    out = []
    for d in sorted(fsio.listdir(path)):
        if d.startswith("epoch=") and fsio.exists(
            fsio.join(path, d, MANIFEST_DIR, "_SUCCESS")
        ):
            out.append(fsio.join(path, d))
    return out


def _direct_committed(path: str) -> bool:
    """The base-layout dataset at ``path`` is committed iff its
    manifest carries Spark's job-commit marker — a crashed compaction
    or write leaves chunks without a committed manifest, and readers
    must then keep seeing the epoch sub-datasets instead."""
    return fsio.exists(fsio.join(path, MANIFEST_DIR, "_SUCCESS"))


# Explicit read schemas: a dataset appended to across format revisions
# holds parquet files with and without the r6 payload_ck column, and
# plain spark.read.parquet infers the schema from ONE arbitrary footer
# — checksums would nondeterministically vanish (and compact_epochs
# would then drop them permanently). Reading with the declared schema
# fills absent columns with NULL deterministically, and unlike
# mergeSchema costs zero footer reads — which matters when chunks/ is
# millions of files at 100 TB.
_MANIFEST_DDL = ", ".join(
    f for f in ENCODED_DDL.split(", ") if not f.startswith("payload ")
)


def _committed_dirs(path: str, sub: str) -> list[str]:
    """The ``sub`` directories (chunks/ or manifest/) a reader sees: a
    committed base layout wins, else the committed epoch sub-datasets,
    else the bare path's, so that Spark raises its own path error."""
    if _direct_committed(path):
        roots = [path]
    else:
        roots = _committed_epoch_dirs(path) or [path]
    return [fsio.join(r, sub) for r in roots]


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(_MANIFEST_DDL).parquet(
        *_committed_dirs(path, MANIFEST_DIR)
    )


def read_chunks(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(ENCODED_DDL).parquet(
        *_committed_dirs(path, CHUNKS_DIR)
    )


def _committed_part_files(path: str) -> list[tuple[str, int]]:
    """(full path, size) of every committed chunk part file."""
    out = []
    for d in _committed_dirs(path, CHUNKS_DIR):
        if not fsio.isdir(d):
            # nothing committed: the caller's Spark read of the bare
            # path raises Spark's own path error
            continue
        for name, size in fsio.list_files(d):
            if name.endswith(".parquet"):
                out.append((fsio.join(d, name), size))
    return out


def ensure_file_map(spark: SparkSession, path: str) -> int:
    """(Re)write the chunk->file sidecar: one row per (part file,
    chunk_id) under ``file_map/``, built by reading only each committed
    part file's chunk_id column, with paths relative to the dataset
    root. Returns the number of mapped part files.

    Kept only because perfbench/layers.py still times this build as
    its ``engine.dataset.ensure_file_map`` layer. Nothing else calls
    it, and nothing reads ``file_map/``: scans prune with the manifest
    alone. The file-pruned scan that read the map lost to that plan on
    point lookups (4-vCPU host, 4,000 F1 rows: 1.02 vs 0.66 s wall,
    1.50 vs 0.95 CPU-s per lookup), so it was removed, and a map left
    by an earlier revision is inert bytes. A no-op (0) on JVM-only
    schemes (hdfs://, viewfs://), whose files the worker cannot open
    with pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not fsio.pyarrow_openable(path):
        return 0
    files = _committed_part_files(path)
    fdf = _colocated_file_df(spark, files)
    if fdf is None:
        return 0
    root = path.rstrip("/")

    def fn(it):
        pa.set_cpu_count(1)
        for batch in it:
            fulls = [f for fs in batch.column("files").to_pylist() for f in fs]
            for full in fulls:
                # close each file as soon as its ids are read — a
                # task mapping many s3:// files would otherwise
                # hold every NativeFile's buffers until GC. NOTE
                # close(force=True): fsio.open_input_file returns a
                # plain path for local files (ParquetFile owns the
                # handle) but a NativeFile for s3://, and
                # ParquetFile.close() skips externally-opened
                # sources unless forced (verified on pyarrow 16).
                pf = pq.ParquetFile(fsio.open_input_file(full))
                try:
                    ids: set = set()
                    for rb in pf.iter_batches(
                        columns=["chunk_id"], batch_size=8192
                    ):
                        ids.update(rb.column("chunk_id").to_pylist())
                finally:
                    pf.close(force=True)
                ids = sorted(ids)
                yield pa.record_batch(
                    [
                        pa.array(
                            [full[len(root) + 1 :]] * len(ids),
                            type=pa.string(),
                        ),
                        pa.array(ids, type=pa.string()),
                    ],
                    names=["file", "chunk_id"],
                )

    (
        fdf.mapInArrow(fn, "file string, chunk_id string")
        .write.mode("overwrite")
        .parquet(fsio.join(path, "file_map"))
    )
    return len(files)


def _colocated_file_df(
    spark: SparkSession, files: "list[tuple[str, int]]"
) -> "DataFrame | None":
    """The (full_path, size) part files ``files``, greedy size-binned
    into min(n_files, defaultParallelism) bins: one row per bin
    (``bin int, files array<string>``). 1x parallelism, not an
    oversubscribed multiple: a python-stage TASK has a fixed setup cost
    (measured interleaved when this was tuned: 32 bins cost +4.8 CPU-s
    over 8 bins for identical work at bench scale, ~0.2 CPU-s a task),
    which is also why AQE's parallelismFirst coalesces the exchange
    read path to ~defaultParallelism tasks — matching it keeps the
    fused read at CPU parity. Most of that cost was the worker's
    per-task zip-directory re-reads, not the Arrow stream; colcrush's
    worker daemon skips them, and a trivial task now costs ~0.04 CPU-s
    (4-vCPU host, CPython 3.11), so the 1x rule awaits a re-tune.
    Greedy largest-first size-binning bounds bin skew by the largest
    single file (a file is never split). None when ``files`` is empty.
    Callers pass the driver-side listing of _committed_part_files, the
    same listing Spark's own file source makes."""
    import heapq

    import pyarrow as pa

    if not files:
        return None
    n_bins = min(len(files), spark.sparkContext.defaultParallelism)
    # largest-first into the least-loaded bin via a heap — O(n log b),
    # driver-tractable at the ~3M-file target; (load, bin) ordering +
    # file-path tiebreak keep the assignment deterministic
    heap = [(0, b) for b in range(n_bins)]
    binned: list[list[str]] = [[] for _ in range(n_bins)]
    for f, size in sorted(files, key=lambda t: (-t[1], t[0])):
        load, b = heapq.heappop(heap)
        heapq.heappush(heap, (load + size, b))
        binned[b].append(f)
    # an Arrow-built frame is a LocalTableScan that Spark slices one
    # row per task (rows <= defaultParallelism), so every bin gets its
    # own task with no exchange and no sampling job; a frame built from
    # a Python list would be a Python RDD, run through Python workers
    return spark.createDataFrame(
        pa.table(
            {
                "bin": pa.array(range(n_bins), type=pa.int32()),
                "files": pa.array(binned, type=pa.list_(pa.string())),
            }
        )
    )


def _chunk_file_batches(files, requested: "list[str] | None"):
    """Yield normalized chunk-row batches (chunk_id, column, payload,
    payload_ck) from whole chunk part files — pyarrow-read inside the
    worker. Mirrors the explicit-schema Spark read: absent payload_ck
    (pre-r6 files) reads as NULLs, unknown columns are never read.
    ``requested`` (original-table column names) prunes rows before any
    payload leaves the reader; batch_size is row-bounded low because a
    single chunk-column payload can be MBs."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    want_set = pa.array(requested, type=pa.string()) if requested else None
    target = pa.schema(
        [
            ("chunk_id", pa.string()),
            ("column", pa.string()),
            ("payload", pa.binary()),
            ("payload_ck", pa.int64()),
        ]
    )
    for f in files:
        # close each file after its batches are consumed: a long
        # fused-decode task iterating many part files must not hold
        # all handles/buffers until GC. close(force=True) because
        # fsio.open_input_file returns a plain path for local files
        # but a NativeFile for s3://, and ParquetFile.close() skips
        # externally-opened sources unless forced (pyarrow 16).
        pf = pq.ParquetFile(fsio.open_input_file(f))
        try:
            present = set(pf.schema_arrow.names)
            cols = [c for c in target.names if c in present]
            # 64 rows/batch bounds worker memory: a chunk-COLUMN payload
            # can approach target_chunk_bytes (8 MB default), so 64 rows
            # caps a batch at ~512 MB worst-case and ~1 MB at typical
            # ratios
            for rb in pf.iter_batches(columns=cols, batch_size=64):
                if want_set is not None:
                    rb = rb.filter(
                        pc.is_in(rb.column("column"), value_set=want_set)
                    )
                if rb.num_rows == 0:
                    continue
                arrays = []
                for field in target:
                    if field.name in present:
                        arrays.append(rb.column(field.name).cast(field.type))
                    else:
                        arrays.append(pa.nulls(rb.num_rows, field.type))
                yield pa.record_batch(arrays, schema=target)
        finally:
            pf.close(force=True)


COMPACTED_FILE = "_compacted.json"


def _absorbed_epochs(path: str) -> list[str] | None:
    """Epoch dir basenames recorded as absorbed by a compaction, or
    None when no compaction record exists."""
    p = fsio.join(path, COMPACTED_FILE)
    if not fsio.exists(p):
        return None
    return fsio.read_json(p)["epochs"]


def compact_epochs(spark: SparkSession, path: str) -> int:
    """Compact a streaming-sink dataset (epoch=NNNNNNNN sub-datasets)
    into the base layout — a CHUNK-LEVEL move, never a re-encode: chunk
    payloads are already compressed and their ids are epoch-namespaced
    (no collisions), so compaction is one distributed copy of chunk
    rows plus the manifest. Returns the number of epochs compacted.

    Crash-safe ordering: base chunks first, then the _compacted.json
    record of which epoch dirs the base absorbs, then the base manifest
    (its _SUCCESS marker is what flips readers from the epoch view to
    the base view — see _direct_committed), epoch-dir cleanup last. A
    crash at any point leaves readers on exactly one consistent view;
    re-running compaction after a crash between the manifest commit and
    the cleanup deletes exactly the recorded absorbed dirs (returns 0).
    Epochs NOT in the record with a committed base present are an
    inconsistent state (a sink kept writing past compaction — the
    encode sink refuses to, see streaming/encode_sink.py) and raise.
    Compaction writes no chunk->file map; a ``file_map/`` dir left by
    an earlier revision is neither read nor refreshed.
    """
    epochs = _committed_epoch_dirs(path)
    if _direct_committed(path):
        # resume of the cleanup phase: delete only what the base absorbs
        absorbed = _absorbed_epochs(path)
        if absorbed is None and epochs:
            raise ValueError(
                f"{path} has a committed base dataset but no compaction "
                "record — cannot tell whether the remaining epoch dirs "
                "are absorbed (safe to delete) or contain unmerged data"
            )
        leftover = [e for e in epochs if os.path.basename(e) not in (absorbed or [])]
        if leftover:
            raise ValueError(
                f"{path} has epochs written AFTER compaction "
                f"({[os.path.basename(e) for e in leftover]}); their data "
                "is invisible to base-view readers — move them to a fresh "
                "dataset path and compact there"
            )
        for e in epochs:
            fsio.rmtree(e)
        return 0
    if not epochs:
        return 0
    # explicit schemas: epochs written across the payload_ck format
    # revision must compact deterministically (see read_chunks note)
    chunks = spark.read.schema(ENCODED_DDL).parquet(
        *[fsio.join(e, CHUNKS_DIR) for e in epochs]
    )
    (
        # repartition on chunk_id: the compacted rewrite must keep each
        # chunk's rows within ONE output file (Spark's read can split a
        # source file mid-chunk at a row-group boundary) so the fused
        # read_decoded plan stays valid after maintenance. One extra
        # shuffle during a one-time compaction buys every future read
        # its shuffle-free plan — the right trade at 100 TB.
        chunks.repartition("chunk_id")
        .write.mode("overwrite")
        .option("compression", "uncompressed")
        .parquet(fsio.join(path, CHUNKS_DIR))
    )
    manifest = spark.read.schema(_MANIFEST_DDL).parquet(
        *[fsio.join(e, MANIFEST_DIR) for e in epochs]
    )
    fsio.write_text(
        fsio.join(path, SCHEMA_FILE),
        fsio.read_text(fsio.join(epochs[0], SCHEMA_FILE)),
    )
    fsio.write_text_atomic(
        fsio.join(path, COMPACTED_FILE),
        json.dumps({"epochs": [os.path.basename(e) for e in epochs]}),
    )
    manifest.write.mode("overwrite").parquet(fsio.join(path, MANIFEST_DIR))
    for e in epochs:
        fsio.rmtree(e)
    return len(epochs)


def read_decoded(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    decimal_formats: dict[str, tuple[int, int]] | None = None,
    colocated: bool = False,
) -> DataFrame:
    """Full decode of a persisted dataset (optionally projected).
    ``decimal_formats`` rescales stored decimal columns on read
    (parquet4s rescaleOnRead, HALF_UP — see decoder._rescale_decimal).

    The plan is :func:`fused_decode`: a whole-file pyarrow chunk reader
    and the decode worker in one mapInArrow stage over a local table of
    size bins (one task per bin, one Spark job). No exchange, and
    payload bytes never cross a process boundary (disk -> pyarrow read
    -> decode -> decoded rows out). At 100 TB the avoided chunk_id
    exchange is ~10 TB of shuffle disk+network per full read.

    Precondition: every chunk's rows sit in ONE part file. This
    engine's writers keep it (encode emits each chunk from one
    partition; compact_epochs repartitions on chunk_id before its
    rewrite). A file set that breaks it never mis-decodes: the read
    raises the decoder's "incomplete chunks" error naming the dataset
    and the way out, ``decode_table(read_chunks(spark, path), schema)``,
    whose chunk_id exchange puts split chunks back together.

    That exchange plan is also the fallback, chosen by the path, not
    by a flag: a JVM-only scheme (hdfs://, viewfs://), where workers
    have no pyarrow handle, and a dataset with no part files.

    Measured on a 4-vCPU host, interleaved medians, reads digested as
    the ingest_read benchmark does, fused vs exchange plan: 4,000 F1
    rows full read 0.70 vs 0.94 s wall, 1.06 vs 1.19 CPU-s; 2-column
    projection 0.42 vs 0.50 s, 0.59 vs 0.66 CPU-s; 40,000 rows full
    0.67 vs 0.94 s, 1.86 vs 2.56 CPU-s; projection 0.35 vs 0.52 s,
    0.87 vs 0.84 CPU-s. A traced 2,000-row read sent 480 bytes into
    Python workers and wrote no shuffle; the exchange plan sent 1.2 MB
    and wrote 714 KB of shuffle.

    ``colocated`` is ignored. It once selected the fused plan and stays
    only because perfbench/layers.py still passes it."""
    schema = read_schema(path)
    fused = fused_decode(
        spark, path, schema, columns=columns, decimal_formats=decimal_formats,
    )
    if fused is not None:
        return fused
    return decode_table(
        read_chunks(spark, path), schema, columns=columns,
        decimal_formats=decimal_formats,
    )


def fused_decode(
    spark: SparkSession,
    path: str,
    schema: "T.StructType",
    columns: list[str] | None = None,
    decimal_formats: dict[str, tuple[int, int]] | None = None,
) -> "DataFrame | None":
    """The fused (reader + decoder, one mapInArrow stage) plan over a
    persisted dataset's committed part files, or None when there are
    none. See read_decoded for the precondition and the measured
    trade. None also for JVM-only schemes (hdfs://, viewfs://) — the
    worker has no pyarrow handle there; callers fall back to the
    Spark-scan + chunk_id exchange plan."""
    if not fsio.pyarrow_openable(path):
        return None
    fdf = _colocated_file_df(spark, _committed_part_files(path))
    if fdf is None:
        return None
    from .decoder import IncompleteChunksError, decode_worker

    ordered, out_schema, decode_fn = decode_worker(
        schema, columns=columns, decimal_formats=decimal_formats,
    )

    def fused(it):
        import pyarrow as pa

        pa.set_cpu_count(1)

        def chunk_rows():
            for batch in it:
                for files in batch.column("files").to_pylist():
                    yield from _chunk_file_batches(files, ordered)

        try:
            yield from decode_fn(chunk_rows())
        except IncompleteChunksError as e:
            raise IncompleteChunksError(
                f"{e} in dataset {path}: a chunk's rows are split across "
                "part files, which the fused read requires to hold whole "
                "chunks; read it with decode_table(read_chunks(spark, "
                "path), schema), whose chunk_id exchange puts split "
                "chunks back together"
            ) from e

    return fdf.mapInArrow(fused, out_schema)


def verify_dataset(
    spark: SparkSession,
    path: str,
    deep: "bool | float" = False,
    scrub_slice: int = 0,
) -> dict:
    """fsck for an encoded dataset: cross-check manifest against chunk
    files and (``deep=True``) scrub every payload's stored checksum.

    At 100 TB a dataset is maintained for years across resumes,
    appends, compactions and storage migrations; this is the audit that
    says "every committed chunk is present, exactly once, and intact"
    without decoding anything. Detects, per (chunk_id, column) key:
    manifest rows whose chunk payload is gone (lost files), chunk rows
    the manifest never committed (orphans from a crashed write — the
    manifest-commits-chunks protocol makes these invisible to readers,
    but they cost storage), duplicate keys on either side (a resume
    bug would double-append), and stored-checksum divergence between
    the manifest copy and the chunk copy. ``deep=True`` additionally
    re-computes every payload's md5 checksum from its bytes (the same
    verification decode performs, but over ALL columns without
    decoding) — the scheduled-scrub pattern object stores recommend
    for bit rot. Runs as one metadata aggregation (+ one payload scan
    when deep); returns a dict of counts with ``ok``.

    Datasets written before the checksum column report their payloads
    as ``payloads_unchecked`` rather than failing. A write that crashed
    before creating any manifest (chunks exist, manifest dir absent)
    reports every chunk as ``missing_in_manifest`` instead of raising
    Spark's path error. The audit covers COMMITTED data: epoch dirs
    without a committed manifest are invisible to readers by protocol
    and are not scanned here.

    ``deep`` may also be a FRACTION in (0, 1): ``deep=True`` reads
    every payload byte — right for a one-off audit, too expensive as a
    SCHEDULED scrub at 100 TB. A fraction scrubs a deterministic
    1/round(1/deep) slice of (chunk_id, column) keys selected by
    ``pmod(xxhash64(chunk_id, column), n_slices) == scrub_slice`` —
    pure metadata, no RNG state — so a scheduler stepping
    ``scrub_slice`` 0,1,2,... covers DISJOINT slices and the whole
    dataset every n_slices passes (the object-store rolling-scrub
    pattern). ``payloads_scanned`` reports the slice size."""
    from pyspark.errors import AnalysisException

    chunks = read_chunks(spark, path)
    try:
        manifest = read_manifest(spark, path)
    except AnalysisException:
        manifest = spark.createDataFrame([], _MANIFEST_DDL)
    key = ["chunk_id", "column"]
    m_ck = (
        F.col("payload_ck")
        if "payload_ck" in manifest.columns
        else F.lit(None).cast("bigint")
    )
    c_ck = (
        F.col("payload_ck")
        if "payload_ck" in chunks.columns
        else F.lit(None).cast("bigint")
    )
    m = manifest.groupBy(*key).agg(
        F.count("*").alias("m_n"), F.min(m_ck).alias("m_ck")
    )
    c = chunks.groupBy(*key).agg(
        F.count("*").alias("c_n"), F.min(c_ck).alias("c_ck")
    )
    j = m.join(c, key, "full_outer")
    flag = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    row = j.agg(
        F.count("*").alias("keys"),
        flag(F.col("c_n").isNull()).alias("missing_in_chunks"),
        flag(F.col("m_n").isNull()).alias("missing_in_manifest"),
        flag(F.col("m_n") > 1).alias("dup_manifest_keys"),
        flag(F.col("c_n") > 1).alias("dup_chunk_keys"),
        flag(
            F.col("m_ck").isNotNull()
            & F.col("c_ck").isNotNull()
            & (F.col("m_ck") != F.col("c_ck"))
        ).alias("metadata_ck_mismatches"),
    ).collect()[0]
    out = {k: int(v or 0) for k, v in row.asDict().items()}
    if deep:
        import pyarrow as pa

        if deep is not True:
            f = float(deep)
            if not (0.0 < f < 1.0):
                raise ValueError(
                    f"deep must be True/False or a fraction in (0,1), got {deep!r}"
                )
            n_slices = max(1, round(1.0 / f))
            chunks = chunks.where(
                F.pmod(
                    F.xxhash64("chunk_id", "column"), F.lit(n_slices)
                ) == F.lit(scrub_slice % n_slices)
            )
        sel = chunks.select("payload", c_ck.alias("stored_ck"))

        def scrub(it):
            pa.set_cpu_count(1)
            for batch in it:
                cks = batch.column("stored_ck").to_pylist()
                payloads = batch.column("payload")
                bad = unchecked = 0
                for i, ck in enumerate(cks):
                    blob = payloads[i].as_py()
                    if blob is None:
                        # a NULL payload with a stored checksum IS
                        # corruption; without one it is unauditable
                        if ck is None:
                            unchecked += 1
                        else:
                            bad += 1
                    elif ck is None:
                        unchecked += 1
                    elif payload_ck(blob) != ck:
                        bad += 1
                yield pa.record_batch(
                    [
                        pa.array([bad], type=pa.int64()),
                        pa.array([unchecked], type=pa.int64()),
                        pa.array([batch.num_rows], type=pa.int64()),
                    ],
                    names=["bad", "unchecked", "n"],
                )

        agg = (
            sel.mapInArrow(scrub, "bad bigint, unchecked bigint, n bigint")
            .agg(
                F.sum("bad").alias("b"),
                F.sum("unchecked").alias("u"),
                F.sum("n").alias("n"),
            )
            .collect()[0]
        )
        out["payload_ck_mismatches"] = int(agg["b"] or 0)
        out["payloads_unchecked"] = int(agg["u"] or 0)
        out["payloads_scanned"] = int(agg["n"] or 0)
    out["ok"] = not (
        out["missing_in_chunks"]
        or out["missing_in_manifest"]
        or out["dup_manifest_keys"]
        or out["dup_chunk_keys"]
        or out["metadata_ck_mismatches"]
        or out.get("payload_ck_mismatches", 0)
    )
    return out


def register_view(
    spark: SparkSession,
    path: str,
    name: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Expose an encoded dataset as a Spark SQL temp view, so
    ``spark.sql(f"SELECT ... FROM {name}")`` runs over decoded rows —
    the parquet4s-user migration path to plain SQL."""
    df = read_decoded(spark, path, columns=columns)
    df.createOrReplaceTempView(name)
    return df


def resume_encode(
    df: DataFrame,
    path: str,
    group_cols: list[str],
    **encode_kwargs,
) -> int:
    """Encode only groups not yet committed in the manifest; append.

    Returns the number of (group) work units that were still missing.
    Chunk determinism (hash partitioning on group+salt, sorted rows,
    content-independent chunk ids) guarantees a resumed run reproduces
    byte-identical chunks for the missing groups.
    """
    spark = df.sparkSession
    manifest_path = fsio.join(path, MANIFEST_DIR)
    chunks_path = fsio.join(path, CHUNKS_DIR)
    key_expr = group_key_expr(group_cols)
    if not fsio.exists(manifest_path):
        if fsio.exists(fsio.join(chunks_path, "_SUCCESS")):
            # crashed between chunk write and manifest commit: the chunk
            # job itself completed (_SUCCESS), so recover the manifest.
            # Explicit read schema: columns the legacy chunk files lack
            # (bloom, payload_ck) surface as NULL — a dataset written
            # before they existed stays recoverable, deterministically
            chunk_rows = spark.read.schema(ENCODED_DDL).parquet(chunks_path)
            manifest = chunk_rows.select(
                *[c for c in MANIFEST_COLS if c in chunk_rows.columns]
            )
            manifest.write.mode("overwrite").parquet(manifest_path)
            have_manifest = True  # fall through: anti-join verifies it
        else:
            have_manifest = False  # fresh restart: every group pending
    else:
        have_manifest = True
    if not have_manifest:
        pending = df.withColumn("_gk", key_expr)
    else:
        committed_keys = (
            read_manifest(spark, path)
            .select("group_key")
            .distinct()
            .withColumn("_gk", F.col("group_key"))
            .drop("group_key")
        )
        # no broadcast hint: the committed-group set grows with the
        # dataset (AQE broadcasts it at runtime whenever it fits)
        pending = df.withColumn("_gk", key_expr).join(
            committed_keys, on="_gk", how="left_anti"
        )
    pend_groups = pending.select(*group_cols).distinct().persist()
    try:
        n_missing = pend_groups.count()
        if n_missing == 0:
            return 0
        # reuse the recorded salt plan: the resume encode then skips the
        # size-histogram pass over the pending rows (at 100 TB that pass
        # is itself a full read), and the recorded salts reproduce the
        # originally planned chunking as a stored fact. Duplicate
        # sidecar rows (an earlier crashed resume appended its slice
        # again) collapse via a deterministic max — for a group with NO
        # committed chunks any self-consistent plan yields correct,
        # internally consistent chunks.
        plan_path = fsio.join(path, SALT_PLAN_DIR)
        if (
            "salt_plan" not in encode_kwargs
            and not encode_kwargs.get("range_cols")
            and fsio.exists(plan_path)
        ):
            recorded = spark.read.parquet(plan_path)
            if {*group_cols, "_grp_bytes", "_n_salts"} <= set(recorded.columns):
                restricted = (
                    recorded.join(pend_groups, on=group_cols, how="left_semi")
                    .groupBy(*group_cols)
                    .agg(
                        F.max("_grp_bytes").alias("_grp_bytes"),
                        F.max("_n_salts").alias("_n_salts"),
                    )
                )
                # collected once into a driver-side table, like a fresh
                # plan_salts plan. Every pending group must be covered —
                # a partial sidecar (legacy or clipped) falls back to
                # re-planning
                tbl = restricted.toArrow()
                if tbl.num_rows == n_missing:
                    encode_kwargs["salt_plan"] = spark.createDataFrame(
                        tbl, schema=restricted.schema
                    )
        write_encoded(
            pending.drop("_gk"), path, mode="append", group_cols=group_cols,
            **encode_kwargs,
        )
        return n_missing
    finally:
        pend_groups.unpersist()
