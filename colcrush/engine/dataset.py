"""Encoded dataset persistence: chunk files plus a commit record, one
commit per write.

Directory layout (an Iceberg-metadata-style commit protocol without the
Iceberg jars, which aren't in this image):

  <root>/schema.json          original table schema (Spark JSON)
  <root>/chunks/              chunk rows (encoder.CHUNK_SCHEMA), parquet,
                              UNCOMPRESSED (our codecs did the compression
                              — storing them re-compressed would hide the
                              ratio); each row carries its chunk column's
                              lineage and stats (codec, sizes, row counts,
                              min/max, bloom), the metadata readers read
  <root>/_commit.json         the commit record: {"files": [[name, size],
                              ...]}, the chunk part files of this commit,
                              plus a stream commit's "epoch" and a
                              compaction's "absorbs" (roots it folded)
  <root>/commit=NNNNNNNN/     each later commit: the same three entries

A ``salt_plan/`` or ``file_map/`` dir left by an earlier revision is
inert: nothing reads or writes it.

Every write is one commit, written in overwrite mode, and visible once
its ``_commit.json`` lands — the analog of parquet4s's postWriteHandler
checkpoint (ParquetPartitioningFlow.scala 303-316). The encode runs
once, unpersisted, into the chunk files; the driver then lists them
once and writes the record atomically (on ``s3://`` one PUT), as
parquet-mr writes a footer describing the pages it wrote. Metadata
readers (count_rows, column_min_max, resume's anti-join) read the
chunk files without their payload column; the fused reader bins the
files the records name and lists no chunk dir. The first write is the
base; commit n > 0 is ``commit=n``, n one above the highest committed
commit, so a retry replaces its own uncommitted attempt; a stream
micro-batch and a compaction are commits too. Readers see the
committed base plus every committed commit that no committed record
absorbs; a crash leaves nothing to repair.

A root an earlier revision committed carries ``manifest/_SUCCESS``
(its ``manifest/`` a payload-less copy of the chunk rows) and no
record: it stays committed, and its chunk dir is listed instead. Its
stream epochs (``epoch=NNNNNNNN/``) read as commits with no "epoch",
and its ``_compacted.json`` as the base record's "absorbs".
Earlier revisions cannot read a dataset this one writes.
Resume = anti-join the input's groups against the committed chunk rows,
plan the salts of the pending groups and commit only those
(SURVEY.md §7 step 5).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import fsio
from .decoder import decode_table
from .encoder import (
    ENCODED_DDL,
    MANIFEST_DDL,
    TARGET_GROUP_BYTES,
    encode_table,
    group_key_expr,
    layout_cols,
    payload_ck,
    plan_salts,
)

SCHEMA_FILE = "schema.json"
CHUNKS_DIR = "chunks"
COMMIT_FILE = "_commit.json"
# an earlier revision's commit: manifest/_SUCCESS, no record
MANIFEST_DIR = "manifest"
COMMIT_PREFIX = "commit="
# an earlier revision's stream epoch and compaction record, read only
EPOCH_PREFIX = "epoch="
COMPACTED_FILE = "_compacted.json"


def _write_schema(path: str, schema: T.StructType) -> None:
    fsio.makedirs(path)
    fsio.write_text(fsio.join(path, SCHEMA_FILE), schema.json())


def read_schema(path: str) -> T.StructType:
    p = fsio.join(path, SCHEMA_FILE)
    if not fsio.exists(p):
        p = fsio.join(_visible(path)[0][0], SCHEMA_FILE)
    return T.StructType.fromJson(fsio.read_json(p))


def write_encoded(
    df: DataFrame,
    path: str,
    mode: str = "error",
    file_map: bool = True,
    **encode_kwargs,
) -> None:
    """Encode ``df`` and commit its chunks at ``path``.

    mode: 'error' (CREATE semantics, like parquet4s Mode.CREATE,
    IOOps.scala:37-56) refuses base chunks or committed commits;
    'overwrite' removes every commit (and an earlier revision's epochs
    and compaction record), then rewrites the base (not crash-atomic,
    like Spark's overwrite); 'append' is the next commit, its chunk ids
    namespaced ``commit-<n>``. A crashed append is invisible; re-run it.

    ``file_map`` is ignored. It once turned the chunk->file sidecar
    build on or off and stays only because perfbench/layers.py still
    passes it; no write builds the sidecar.

    ``encode_kwargs`` go to encode_table, which plans the salts and
    sizes the encode; chunk bytes are a pure function of the input and
    these kwargs. The write records no plan: resume_encode re-plans
    the groups it finds missing.
    """
    if mode not in ("error", "overwrite", "append"):
        # an unrecognized mode must fail loudly: it would otherwise
        # skip the CREATE existence check and silently APPEND
        raise ValueError(f"mode must be error|overwrite|append, got {mode!r}")
    if mode == "error" and (
        fsio.exists(fsio.join(path, CHUNKS_DIR)) or _commit_log(path)
    ):
        raise FileExistsError(f"{path} already contains an encoded dataset")
    if mode == "overwrite" and fsio.isdir(path):
        for name in fsio.listdir(path):
            if name.startswith((COMMIT_PREFIX, EPOCH_PREFIX)):
                fsio.rmtree(fsio.join(path, name))
            elif name == COMPACTED_FILE:
                fsio.remove(fsio.join(path, name))
    if mode == "append":
        _append(df, path, {}, **encode_kwargs)
    else:
        _commit(df, path, 0, {}, **encode_kwargs)


def _append(df: DataFrame, path: str, meta: dict, **encode_kwargs) -> None:
    """Commit ``df`` as the next commit of the dataset at ``path``: the
    base when nothing is committed, else ``commit=n`` with its chunk ids
    namespaced ``commit-<n>``. ``meta`` adds its keys to the record
    (the encode sink's ``epoch``)."""
    n = _next_commit(_commit_log(path))
    if n:
        ns = encode_kwargs.get("namespace")
        encode_kwargs["namespace"] = f"{ns}|commit-{n}" if ns else f"commit-{n}"
    _commit(df, path, n, meta, **encode_kwargs)


def _commit(df: DataFrame, path: str, n: int, meta: dict, **encode_kwargs) -> None:
    """Encode ``df`` into commit ``n`` of the dataset at ``path`` (the
    base layout when 0), recording ``meta``; nothing is persisted."""
    if n:
        existing = read_schema(path)
        if existing != df.schema:
            raise ValueError(
                f"append schema mismatch: dataset has {existing.simpleString()}, "
                f"got {df.schema.simpleString()}"
            )
        path = fsio.join(path, f"{COMMIT_PREFIX}{n:08d}")
    # encode_table checks its kwargs (and plans) before anything lands
    _land(encode_table(df, **encode_kwargs), path, df.schema, meta)


def _land(chunks: DataFrame, root: str, schema: T.StructType, meta: dict) -> None:
    """Write the chunk rows ``chunks`` as the commit at ``root``, in
    overwrite mode: the old record and any earlier revision's
    ``manifest/`` go first, so an overwrite or a retry is never visible
    half-written; then schema.json, the chunk job, and the record,
    whose landing makes the commit visible."""
    fsio.remove(fsio.join(root, COMMIT_FILE))
    fsio.rmtree(fsio.join(root, MANIFEST_DIR))
    _write_schema(root, schema)
    chunks.write.mode("overwrite").option("compression", "uncompressed").parquet(
        fsio.join(root, CHUNKS_DIR)
    )
    _write_record(root, meta)


def _write_record(root: str, meta: "dict | None" = None) -> None:
    """Commit the (sub-)dataset at ``root``, the one commit writer (a
    write, a stream commit, a resumed crash, a compaction): list its
    chunk dir once and write the ``.parquet`` files' names and sizes,
    plus ``meta``'s keys, to ``_commit.json``, atomically. No Spark
    job: the chunk rows already carry the stats metadata readers read,
    and the record spares every reader the listing."""
    files = sorted(
        [name, size]
        for name, size in fsio.list_files(fsio.join(root, CHUNKS_DIR))
        if name.endswith(".parquet")
    )
    fsio.write_text_atomic(
        fsio.join(root, COMMIT_FILE), json.dumps({"files": files, **(meta or {})})
    )


def _record(root: str) -> "dict | None":
    """The commit record of the (sub-)dataset at ``root``; ``{}`` for an
    earlier revision's commit (its manifest carries Spark's job-commit
    marker, and it has no record); None when it is not committed."""
    p = fsio.join(root, COMMIT_FILE)
    if fsio.exists(p):
        return fsio.read_json(p)
    return {} if fsio.exists(fsio.join(root, MANIFEST_DIR, "_SUCCESS")) else None


def _root(path: str, name: str) -> str:
    """The root of the commit ``name`` at ``path`` ("" is the base)."""
    return fsio.join(path, name) if name else path


def _commit_log(path: str) -> "list[tuple[str, dict]]":
    """``(name, record)`` of every committed root at ``path``: the base
    (name "") first, then the ``commit=`` and ``epoch=`` roots by name.
    One listing of the dataset root and one read of each record. An
    earlier revision's ``_compacted.json`` is the committed base's
    "absorbs"."""
    if not fsio.isdir(path):
        return []
    names = fsio.listdir(path)
    log = []
    for name in [""] + sorted(
        d for d in names if d.startswith((COMMIT_PREFIX, EPOCH_PREFIX))
    ):
        rec = _record(_root(path, name))
        if rec is None:
            continue
        if not name and COMPACTED_FILE in names:
            legacy = fsio.read_json(fsio.join(path, COMPACTED_FILE))
            rec["absorbs"] = legacy["epochs"]
        log.append((name, rec))
    return log


def _next_commit(log: "list[tuple[str, dict]]") -> int:
    """0 (the base) when nothing is committed, else one above the
    highest committed commit (a base or legacy epochs count as 0)."""
    if not log:
        return 0
    return 1 + max(
        (int(d[len(COMMIT_PREFIX):]) for d, _ in log if d.startswith(COMMIT_PREFIX)),
        default=0,
    )


def _last_epoch(path: str) -> int:
    """The highest stream epoch a committed record carries, -1 when
    none does: the encode sink's replay test."""
    return max(
        (rec["epoch"] for _, rec in _commit_log(path) if "epoch" in rec),
        default=-1,
    )


def _visible(path: str) -> "list[tuple[str, dict | None]]":
    """``(root, record)`` of the roots a reader sees: every committed
    root that no committed record absorbs; the bare path with no record
    when nothing is committed, so that Spark raises its own path
    error."""
    log = _commit_log(path)
    absorbed = {a for _, rec in log for a in rec.get("absorbs", ())}
    return [
        (_root(path, name), rec) for name, rec in log if name not in absorbed
    ] or [(path, None)]


def _chunk_dirs(path: str) -> list[str]:
    """The chunk dirs of the roots a reader sees."""
    return [fsio.join(r, CHUNKS_DIR) for r, _ in _visible(path)]


# Explicit read schemas: a dataset appended to across format revisions
# holds parquet files with and without the r6 payload_ck column, and
# plain spark.read.parquet infers the schema from ONE arbitrary footer
# — checksums would nondeterministically vanish (and compact
# would then drop them permanently). Reading with the declared schema
# fills absent columns with NULL deterministically, and unlike
# mergeSchema costs zero footer reads — which matters when chunks/ is
# millions of files at 100 TB.
def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """The committed chunk rows without their payload column, which
    parquet's column projection never reads: the rows an earlier
    revision's ``manifest/`` copied."""
    return spark.read.schema(MANIFEST_DDL).parquet(
        *_chunk_dirs(path)
    )


def read_chunks(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(ENCODED_DDL).parquet(
        *_chunk_dirs(path)
    )


def _root_part_files(root: str, rec: "dict | None") -> list[tuple[str, int]]:
    """(full path, size) of the chunk part files of ``root``: the ones
    its commit record ``rec`` names; for a root without one (an earlier
    revision's commit, or the bare path of an uncommitted dataset),
    the ``.parquet`` files its chunk dir lists."""
    d = fsio.join(root, CHUNKS_DIR)
    files = (rec or {}).get("files")
    if files is None:
        if not fsio.isdir(d):
            # nothing committed: the caller's Spark read of the bare
            # path raises Spark's own path error
            return []
        files = [f for f in fsio.list_files(d) if f[0].endswith(".parquet")]
    return [(fsio.join(d, name), size) for name, size in files]


def _committed_part_files(path: str) -> list[tuple[str, int]]:
    """(full path, size) of every committed chunk part file a reader
    sees."""
    return [f for r, rec in _visible(path) for f in _root_part_files(r, rec)]


def ensure_file_map(spark: SparkSession, path: str) -> int:
    """(Re)write the chunk->file sidecar: one row per (part file,
    chunk_id) under ``file_map/``, built by reading only each committed
    part file's chunk_id column, with paths relative to the dataset
    root. Returns the number of mapped part files.

    Kept only because perfbench/layers.py still times this build as
    its ``engine.dataset.ensure_file_map`` layer. Nothing else calls
    it, and nothing reads ``file_map/``: a scan prunes chunks inside
    its decode worker, from the stats on every chunk row, in the one
    job of a full read. The file-pruned scan that read the map lost on
    point lookups to the manifest-pruned scan of its time (4-vCPU host,
    4,000 F1 rows: 1.02 vs 0.66 s wall, 1.50 vs 0.95 CPU-s per lookup),
    so it was removed, and a map left by an earlier revision is inert
    bytes. The in-worker prune beats that manifest prune in turn: at
    40,000 F1 rows a lookup took 0.22 vs 0.82 s wall and 0.49 vs 1.47
    CPU-s (medians of 5 interleaved pairs). A no-op (0) on JVM-only
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
    Callers pass _committed_part_files: the files and sizes the commit
    records name, so binning needs no listing."""
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


def _chunk_file_batches(files, requested: "list[str] | None", target):
    """Yield normalized chunk-row batches of the Arrow schema
    ``target`` (a subset of the CHUNK_SCHEMA fields, as the decode
    worker asks for them) from whole chunk part files — pyarrow-read
    inside the worker. Mirrors the explicit-schema Spark read: a
    column absent from a file an earlier revision wrote (payload_ck,
    bloom) reads as NULLs, and columns outside ``target`` are never read.
    ``requested`` (original-table column names) prunes rows before any
    payload leaves the reader; batch_size is row-bounded low because a
    single chunk-column payload can be MBs."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    want_set = pa.array(requested, type=pa.string()) if requested else None
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


def compact(spark: SparkSession, path: str) -> int:
    """Fold the commits beside the base into one new commit, a
    CHUNK-LEVEL copy (chunk ids are unique across commits), and return
    how many it folded: 0 when fewer than two. The base is never
    folded, so the cost follows the commits. The new record names the
    roots it ``absorbs`` (and their highest stream ``epoch``); its
    landing flips readers to it, and the absorbed dirs go last. A
    crash before it leaves readers on the folded roots, one after it
    leaves dirs readers skip. Each run first deletes every absorbed
    root: a folded root must absorb nothing that could resurface."""
    log = _commit_log(path)
    absorbed = {a for _, rec in log for a in rec.get("absorbs", ())}
    for name in absorbed:
        fsio.rmtree(fsio.join(path, name))
    folded = [(name, rec) for name, rec in log if name and name not in absorbed]
    if len(folded) < 2:
        return 0
    meta = {"absorbs": [name for name, _ in folded]}
    epochs = [rec["epoch"] for _, rec in folded if "epoch" in rec]
    if epochs:
        meta["epoch"] = max(epochs)
    # explicit schema: roots written across the payload_ck format
    # revision must compact deterministically (see the read_chunks note)
    chunks = spark.read.schema(ENCODED_DDL).parquet(*[
        f for name, rec in folded
        for f, _ in _root_part_files(fsio.join(path, name), rec)
    ])
    # repartition on chunk_id: each chunk's rows must stay in ONE
    # output file (Spark's read can split a source file mid-chunk at a
    # row-group boundary) for the fused read_decoded plan; one shuffle
    # per compaction buys every later read its shuffle-free plan
    _land(
        chunks.repartition("chunk_id"),
        fsio.join(path, f"{COMMIT_PREFIX}{_next_commit(log):08d}"),
        read_schema(path),
        meta,
    )
    for name, _ in folded:
        fsio.rmtree(fsio.join(path, name))
    return len(folded)


def read_decoded(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    decimal_formats: dict[str, tuple[int, int]] | None = None,
    colocated: bool = False,
) -> DataFrame:
    """Full decode of a persisted dataset (optionally projected).
    ``decimal_formats`` rescales stored decimal columns on read
    (parquet4s rescaleOnRead, HALF_UP — see
    codecs.dec_rescale.rescale_decimal128).

    The plan is :func:`fused_decode`: a whole-file pyarrow chunk reader
    and the decode worker in one mapInArrow stage over a local table of
    size bins (one task per bin, one Spark job). No exchange, and
    payload bytes never cross a process boundary (disk -> pyarrow read
    -> decode -> decoded rows out). At 100 TB the avoided chunk_id
    exchange is ~10 TB of shuffle disk+network per full read.

    Precondition: every chunk's rows sit in ONE part file. This
    engine's writers keep it (encode emits each chunk from one
    partition; compact repartitions on chunk_id before its
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
    return _decode_plan(
        spark, path, read_schema(path), columns=columns,
        decimal_formats=decimal_formats,
    )


def _decode_plan(
    spark: SparkSession,
    path: str,
    schema: "T.StructType",
    columns: list[str] | None = None,
    decimal_formats: dict[str, tuple[int, int]] | None = None,
    prune: "tuple | None" = None,
    decode: bool = True,
) -> DataFrame:
    """The one read plan of read_decoded, scan and scan_udp:
    :func:`fused_decode`, or where it cannot run (JVM-only scheme, no
    part files) the exchange plan ``decode_table(read_chunks(spark,
    path), ...)``. Both run the same decode worker with the same chunk
    predicate ``prune`` and ``decode`` (see decoder.decode_worker)."""
    kw = dict(
        columns=columns, decimal_formats=decimal_formats, prune=prune,
        decode=decode,
    )
    fused = fused_decode(spark, path, schema, **kw)
    if fused is not None:
        return fused
    return decode_table(read_chunks(spark, path), schema, **kw)


def fused_decode(
    spark: SparkSession,
    path: str,
    schema: "T.StructType",
    columns: list[str] | None = None,
    decimal_formats: dict[str, tuple[int, int]] | None = None,
    prune: "tuple | None" = None,
    decode: bool = True,
) -> "DataFrame | None":
    """The fused (reader + decoder, one mapInArrow stage) plan over a
    persisted dataset's committed part files, or None when there are
    none. See read_decoded for the precondition and the measured
    trade. None also for JVM-only schemes (hdfs://, viewfs://) — the
    worker has no pyarrow handle there; callers fall back to the
    Spark-scan + chunk_id exchange plan. ``prune`` and ``decode``
    prune chunks inside the worker (decoder.decode_worker): the reader
    then also reads the stats columns, and with ``decode=False`` never
    reads a payload."""
    if not fsio.pyarrow_openable(path):
        return None
    fdf = _colocated_file_df(spark, _committed_part_files(path))
    if fdf is None:
        return None
    from .decoder import IncompleteChunksError, decode_worker

    ordered, in_schema, out_schema, decode_fn = decode_worker(
        schema, columns=columns, decimal_formats=decimal_formats,
        prune=prune, decode=decode,
    )

    def fused(it):
        import pyarrow as pa

        pa.set_cpu_count(1)

        def chunk_rows():
            for batch in it:
                for files in batch.column("files").to_pylist():
                    yield from _chunk_file_batches(files, ordered, in_schema)

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
    """fsck for an encoded dataset: check each commit record against
    its chunk dir and (``deep=True``) scrub every payload's stored
    checksum.

    At 100 TB a dataset is maintained for years across resumes,
    appends, compactions and storage migrations; this is the audit that
    says "every committed chunk is present, exactly once, and intact"
    without decoding anything. Counts:

    - ``missing_files``: part files a commit record names that are
      absent from its chunk dir or have another size (lost or
      rewritten files; the fused read fails on them);
    - ``unlisted_files``: ``.parquet`` files in a record-committed
      chunk dir that its record does not name (readers skip them), or,
      when nothing at ``path`` is committed (a write that crashed
      before its record), in the bare chunk dir;
    - ``keys`` and ``dup_chunk_keys``: (chunk_id, column) keys of the
      committed chunk rows, and those that occur more than once
      (appends by earlier revisions reused chunk ids).

    A root an earlier revision committed has no record, so it reports
    no missing or unlisted files. ``deep=True`` additionally re-computes
    every payload's md5 checksum from its bytes (the same verification
    decode performs, but over ALL columns without decoding) — the
    scheduled-scrub pattern object stores recommend for bit rot. Runs
    as one listing per committed root and one metadata aggregation (+
    one payload scan when deep); returns a dict of counts with ``ok``.

    Datasets written before the checksum column report their payloads
    as ``payloads_unchecked`` rather than failing. The audit covers
    COMMITTED data: commit dirs without a record, and those a record
    absorbs, are invisible to readers by protocol and are not scanned
    here.

    ``deep`` may also be a FRACTION in (0, 1): ``deep=True`` reads
    every payload byte — right for a one-off audit, too expensive as a
    SCHEDULED scrub at 100 TB. A fraction scrubs a deterministic
    1/round(1/deep) slice of (chunk_id, column) keys selected by
    ``pmod(xxhash64(chunk_id, column), n_slices) == scrub_slice`` —
    pure metadata, no RNG state — so a scheduler stepping
    ``scrub_slice`` 0,1,2,... covers DISJOINT slices and the whole
    dataset every n_slices passes (the object-store rolling-scrub
    pattern). ``payloads_scanned`` reports the slice size."""
    out = {"missing_files": 0, "unlisted_files": 0}
    for root, rec in _visible(path):
        listed = (rec or {}).get("files")
        if listed is None and rec is not None:
            continue  # an earlier revision's commit names no files
        d = fsio.join(root, CHUNKS_DIR)
        present = dict(
            f for f in (fsio.list_files(d) if fsio.isdir(d) else [])
            if f[0].endswith(".parquet")
        )
        listed = dict(listed or [])
        out["missing_files"] += sum(
            present.get(name) != size for name, size in listed.items()
        )
        out["unlisted_files"] += len(present.keys() - listed.keys())
    chunks = read_chunks(spark, path)
    row = (
        chunks.groupBy("chunk_id", "column")
        .count()
        .agg(
            F.count("*").alias("keys"),
            F.sum(F.when(F.col("count") > 1, 1).otherwise(0)).alias(
                "dup_chunk_keys"
            ),
        )
        .collect()[0]
    )
    out.update({k: int(v or 0) for k, v in row.asDict().items()})
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
        sel = chunks.select("payload", F.col("payload_ck").alias("stored_ck"))

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
        out["missing_files"]
        or out["unlisted_files"]
        or out["dup_chunk_keys"]
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
    """Encode only groups not yet committed, as one new commit.

    Returns the number of (group) work units that were still missing.
    A pending group is a whole group (the anti-join is on the group
    key), so the salt plan of the pending rows gives it the bytes and
    salts the original write gave it; with chunk determinism (hash
    partitioning on group+salt, sorted rows, content-independent chunk
    ids) a resumed run reproduces byte-identical chunks for the missing
    groups. Pass the original write's ``encode_kwargs`` (group and
    chunk byte targets, profile, bloom, namespace) to reproduce its
    bytes; ``num_partitions`` may differ. The plan's aggregation is the
    pass that finds the pending groups, so a resume reads its input
    twice: once to plan, once to encode.

    The pending groups are the next commit, under the caller's
    namespace: their keys are in no committed chunk row, so their ids
    are new. Resume is group-granular: a crashed append into committed
    groups is retried by re-running it.
    """
    layout_cols(group_cols, encode_kwargs.get("range_cols"))
    spark = df.sparkSession
    chunks_path = fsio.join(path, CHUNKS_DIR)
    if _record(path) is None and fsio.exists(fsio.join(chunks_path, "_SUCCESS")):
        # crashed between the chunk job and the record: the chunk job
        # itself completed (_SUCCESS), so record its files
        _write_record(path)
    n = _next_commit(_commit_log(path))
    pending = df
    if n:
        committed_keys = (
            read_manifest(spark, path)
            .select(F.col("group_key").alias("_gk"))
            .distinct()
        )
        # no broadcast hint: the committed-group set grows with the
        # dataset (AQE broadcasts it at runtime whenever it fits)
        pending = (
            df.withColumn("_gk", group_key_expr(group_cols))
            .join(committed_keys, on="_gk", how="left_anti")
            .drop("_gk")
        )
    plan = plan_salts(
        pending, group_cols,
        encode_kwargs.get("target_group_bytes", TARGET_GROUP_BYTES),
    )
    # one plan row per pending group, read on the driver (no Spark job)
    n_missing = len(plan.collect())
    if n_missing:
        _commit(
            pending, path, n, {}, group_cols=group_cols, salt_plan=plan,
            **encode_kwargs,
        )
    return n_missing
