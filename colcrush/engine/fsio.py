"""Scheme-aware filesystem I/O for dataset metadata.

The chunk/manifest parquet files already go through Spark's Hadoop-FS
layer (any scheme Spark supports: file://, hdfs://, s3a://, ...), but
the engine's own metadata — schema.json, the _compacted.json record,
flush markers, epoch-dir listings — used plain ``os``/``open`` and was
therefore silently LOCAL-ONLY. This module routes those operations
through the JVM's Hadoop FileSystem whenever the path carries a scheme
(parquet4s's Path is a Hadoop path end to end — IOOps.scala works
against any FileSystem, incl. the s3Test integration suite
/root/reference/s3Test/src/it/.../S3ItSpec.scala), while bare local
paths keep the cheap ``os`` fast path. Two schemes are exercised in
tests/test_remote_fs_paths.py: ``file://`` and ``viewfs://`` (Hadoop's
client-side mount-table FileSystem — distinct authority handling,
mount resolution and a checksummed delegate path).

Object-store routes (parquet4s S3ItSpec.scala analog):
- ``s3a://`` stays on the JVM Hadoop route — on a real cluster the
  hadoop-aws connector handles it; the connector jar is not in this
  sandbox (re-checked round 6: pyspark 4.1.2 ships only
  hadoop-client-api/runtime, and installs are off), so that path
  remains declared-residual for live evidence.
- ``s3://`` takes a PYTHON route through pyarrow.fs.S3FileSystem —
  fully exercised in tests against an in-process moto server (real S3
  HTTP protocol, bucket/object semantics). Credentials and endpoint
  come from the standard AWS env vars (AWS_ACCESS_KEY_ID /
  AWS_SECRET_ACCESS_KEY / AWS_ENDPOINT_URL). These fsio ops are
  small-metadata IO (markers, schema.json); bulk chunk parquet always
  goes through Spark's own FileSystem layer.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession


def has_scheme(path: str) -> bool:
    return "://" in path or path.startswith("file:")


def _is_s3(path: str) -> bool:
    return path.startswith("s3://")


_s3_cache: dict = {}


def _s3(path: str):
    """(pyarrow S3FileSystem, bucket/key) for an s3:// url. The
    filesystem is cached per endpoint — construction does credential
    resolution each time otherwise."""
    from pyarrow import fs as pafs

    endpoint = os.environ.get("AWS_ENDPOINT_URL") or None
    region = os.environ.get("AWS_REGION") or os.environ.get(
        "AWS_DEFAULT_REGION"
    )
    # cache on the full resolution inputs: keying on endpoint alone
    # silently reused a stale client after an in-process region or
    # credential change (long-lived services rotate keys). Secret and
    # session token are hashed in too — rotations that change only the
    # secret (mis-set secret fix, fixed-key-id minio/proxy setups) must
    # also invalidate; hashing keeps secrets out of dict keys.
    import hashlib

    secret_fp = hashlib.sha256(
        (
            (os.environ.get("AWS_SECRET_ACCESS_KEY") or "")
            + "\x00"
            + (os.environ.get("AWS_SESSION_TOKEN") or "")
        ).encode()
    ).hexdigest()[:16]
    cache_key = (
        endpoint,
        region,
        os.environ.get("AWS_ACCESS_KEY_ID"),
        secret_fp,
    )
    if cache_key not in _s3_cache:
        kwargs = {"endpoint_override": endpoint} if endpoint else {}
        if region:
            kwargs["region"] = region
        _s3_cache[cache_key] = pafs.S3FileSystem(**kwargs)
    return _s3_cache[cache_key], path[len("s3://") :].rstrip("/")


def join(path: str, *parts: str) -> str:
    if has_scheme(path):
        return "/".join([path.rstrip("/")] + [p.strip("/") for p in parts])
    return os.path.join(path, *parts)


def _fs(path: str):
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"a scheme path ({path!r}) needs an active SparkSession "
            "(Hadoop FileSystem access goes through the JVM)"
        )
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, p


def exists(path: str) -> bool:
    if not has_scheme(path):
        return os.path.exists(path)
    if _is_s3(path):
        from pyarrow import fs as pafs

        s3, key = _s3(path)
        return s3.get_file_info(key).type != pafs.FileType.NotFound
    _, fs, p = _fs(path)
    return bool(fs.exists(p))


def isdir(path: str) -> bool:
    if not has_scheme(path):
        return os.path.isdir(path)
    if _is_s3(path):
        from pyarrow import fs as pafs

        s3, key = _s3(path)
        return s3.get_file_info(key).type == pafs.FileType.Directory
    _, fs, p = _fs(path)
    return bool(fs.exists(p) and fs.isDirectory(p))


def listdir(path: str) -> list[str]:
    if not has_scheme(path):
        return os.listdir(path)
    if _is_s3(path):
        from pyarrow import fs as pafs

        s3, key = _s3(path)
        infos = s3.get_file_info(pafs.FileSelector(key))
        return [i.path.rstrip("/").rsplit("/", 1)[-1] for i in infos]
    _, fs, p = _fs(path)
    return [st.getPath().getName() for st in fs.listStatus(p)]


def list_files(path: str) -> list[tuple[str, int]]:
    """(basename, size_bytes) of the regular files directly under
    ``path`` (no recursion). Used by the fused chunk reader to
    enumerate part files with sizes for task balancing."""
    if not has_scheme(path):
        out = []
        with os.scandir(path) as it:
            for e in it:
                if e.is_file():
                    out.append((e.name, e.stat().st_size))
        return out
    if _is_s3(path):
        from pyarrow import fs as pafs

        s3, key = _s3(path)
        infos = s3.get_file_info(pafs.FileSelector(key))
        return [
            (i.path.rstrip("/").rsplit("/", 1)[-1], int(i.size))
            for i in infos
            if i.type == pafs.FileType.File
        ]
    _, fs, p = _fs(path)
    return [
        (st.getPath().getName(), int(st.getLen()))
        for st in fs.listStatus(p)
        if st.isFile()
    ]


def pyarrow_openable(path: str) -> bool:
    """True when open_input_file can produce a handle for this path
    scheme (local, file:, s3://) — the fused reader gates on this and
    leaves JVM-only schemes (hdfs://, viewfs://) to the Spark read
    path."""
    return not has_scheme(path) or path.startswith("file:") or _is_s3(path)


def open_input_file(path: str):
    """A pyarrow-readable binary input for a chunk part file. Local and
    s3:// paths open natively in Python workers; JVM-only schemes
    (hdfs://, viewfs://) have no pyarrow handle here and raise — the
    caller falls back to the Spark-scan + shuffle read path."""
    if not has_scheme(path):
        return path  # pq.ParquetFile accepts a plain path
    if path.startswith("file:"):
        return path[len("file:"):] or "/"
    if _is_s3(path):
        s3, key = _s3(path)
        return s3.open_input_file(key)
    raise ValueError(
        f"no pyarrow file handle for scheme path {path!r} (local and "
        "s3:// only) — use the default read_chunks path"
    )


def makedirs(path: str) -> None:
    if not has_scheme(path):
        os.makedirs(path, exist_ok=True)
        return
    if _is_s3(path):
        s3, key = _s3(path)
        s3.create_dir(key, recursive=True)
        return
    _, fs, p = _fs(path)
    fs.mkdirs(p)


def rmtree(path: str) -> None:
    if not has_scheme(path):
        shutil.rmtree(path, ignore_errors=True)
        return
    if _is_s3(path):
        s3, key = _s3(path)
        try:
            s3.delete_dir(key)
        except (OSError, IOError):
            pass  # mirror ignore_errors=True on the local path
        return
    _, fs, p = _fs(path)
    fs.delete(p, True)


def read_text(path: str) -> str:
    if not has_scheme(path):
        with open(path) as f:
            return f.read()
    if _is_s3(path):
        s3, key = _s3(path)
        with s3.open_input_stream(key) as f:
            return f.read().decode("utf-8")
    jvm, fs, p = _fs(path)
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def write_text(path: str, content: str) -> None:
    """Create/overwrite a small metadata file."""
    if not has_scheme(path):
        with open(path, "w") as f:
            f.write(content)
        return
    if _is_s3(path):
        s3, key = _s3(path)
        with s3.open_output_stream(key) as f:
            f.write(content.encode("utf-8"))
        return
    _, fs, p = _fs(path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def write_text_atomic(path: str, content: str) -> None:
    """Write via a temp sibling + rename — atomic on POSIX and HDFS;
    object stores degrade to copy semantics, acceptable for a small
    marker file. Hadoop's FileSystem.rename reports failure by
    RETURNING false (no exception), so both steps are checked: a
    silently-lost commit record would leave the dataset in a state a
    later crash cannot recover from.

    On ``s3://`` there is no rename at all — but a single-object PUT
    is itself atomic (readers see the old or the new object, never a
    partial one), so the direct write IS the atomic path there."""
    if _is_s3(path):
        write_text(path, content)
        return
    tmp = path + ".tmp"
    write_text(tmp, content)
    if not has_scheme(path):
        os.replace(tmp, path)
        return
    _, fs, p = _fs(path)
    _, _, tp = _fs(tmp)
    if fs.exists(p) and not fs.delete(p, False):
        raise IOError(f"could not replace existing {path}")
    if not fs.rename(tp, p):
        raise IOError(f"rename {tmp} -> {path} failed")


def read_json(path: str):
    return json.loads(read_text(path))
