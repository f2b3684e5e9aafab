"""s3:// lifecycle against a real in-process S3 server (moto).

Reference parity: s3Test/src/it/.../S3ItSpec.scala:32-46 — write a
small typed dataset to an S3 bucket, read it back, compare — the
reference runs it against a LocalStack container; here the container
role is played by moto's ThreadedMotoServer (same S3 HTTP protocol,
real bucket/object semantics, in-process so no docker needed).

Two layers are exercised:
- sources/object_store.py — the S3ItSpec analog itself (single parquet
  object write/read through pyarrow's S3FileSystem);
- engine/fsio.py — the metadata ops (exists/listdir/makedirs/rmtree/
  read_text/write_text/write_text_atomic) on their s3:// route, the
  same ops the file:// and viewfs:// suites pin on the Hadoop route.
"""

from __future__ import annotations

import json
import os

import pytest

pytest.importorskip("moto.server")
boto3 = pytest.importorskip("boto3")

from colcrush.engine import fsio
from colcrush.sources.object_store import (
    read_parquet_object,
    write_parquet_object,
)

BUCKET = "data"


def _real_s3_tag_app():
    """Moto's WSGI app with one protocol fix: real S3 answers
    CompleteMultipartUpload with root tag <CompleteMultipartUploadResult>
    but moto 5.2 emits <...Response>, which the AWS C++ SDK inside
    pyarrow rejects as "error embedded in a 200 OK". Rewrite the tag so
    moto speaks the same XML real S3 does (boto3 accepts both)."""
    from moto.moto_server.werkzeug_app import (
        DomainDispatcherApplication,
        create_backend_app,
    )

    app = DomainDispatcherApplication(create_backend_app)

    def fixed(environ, start_response):
        captured = {}

        def capture(status, headers, exc_info=None):
            captured["status"] = status
            captured["headers"] = headers

        body = b"".join(app(environ, capture))
        if b"CompleteMultipartUploadResponse" in body:
            body = body.replace(
                b"CompleteMultipartUploadResponse",
                b"CompleteMultipartUploadResult",
            )
            captured["headers"] = [
                (k, str(len(body)) if k.lower() == "content-length" else v)
                for k, v in captured["headers"]
            ]
        start_response(captured["status"], captured["headers"])
        return [body]

    return fixed


@pytest.fixture(scope="module")
def s3_env():
    import threading

    from werkzeug.serving import make_server

    server = make_server("127.0.0.1", 0, _real_s3_tag_app(), threaded=True)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    endpoint = f"http://127.0.0.1:{server.server_port}"
    overrides = {
        "AWS_ACCESS_KEY_ID": "testing",
        "AWS_SECRET_ACCESS_KEY": "testing",
        "AWS_ENDPOINT_URL": endpoint,
        "AWS_REGION": "us-east-1",
        # pyarrow's S3 client must not wander off to the instance
        # metadata service when moto answers everything locally
        "AWS_EC2_METADATA_DISABLED": "true",
    }
    saved = {k: os.environ.get(k) for k in overrides}
    os.environ.update(overrides)
    fsio._s3_cache.clear()
    boto3.client("s3", endpoint_url=endpoint).create_bucket(Bucket=BUCKET)
    try:
        yield endpoint
    finally:
        server.shutdown()
        fsio._s3_cache.clear()
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def test_s3_write_read_parquet_object(spark, s3_env):
    # S3ItSpec:17-20 — Data(1,"a"), Data(2,"b") to s3://data/file.parquet
    url = f"s3://{BUCKET}/file.parquet"
    df = spark.createDataFrame([(1, "a"), (2, "b")], "i int, text string")
    write_parquet_object(df, url)

    back = read_parquet_object(spark, url)
    assert [r.asDict() for r in back.orderBy("i").collect()] == [
        {"i": 1, "text": "a"},
        {"i": 2, "text": "b"},
    ]

    # CREATE-mode refusal sees the existing object (IOOps.scala:47-56)
    with pytest.raises(FileExistsError):
        write_parquet_object(df, url, mode="error")

    # OVERWRITE replaces it
    df2 = spark.createDataFrame([(3, "c")], "i int, text string")
    write_parquet_object(df2, url, mode="overwrite")
    assert read_parquet_object(spark, url).count() == 1

    # projected read prunes columns in the object reader
    proj = read_parquet_object(spark, url, columns=["text"])
    assert proj.columns == ["text"]


def test_s3_fsio_metadata_lifecycle(spark, s3_env):
    base = f"s3://{BUCKET}/ds"
    assert not fsio.exists(base)

    fsio.makedirs(fsio.join(base, "chunks"))
    assert fsio.exists(base) and fsio.isdir(base)
    assert fsio.isdir(fsio.join(base, "chunks"))

    fsio.write_text(fsio.join(base, "schema.json"), json.dumps({"v": 1}))
    assert fsio.read_json(fsio.join(base, "schema.json")) == {"v": 1}
    assert not fsio.isdir(fsio.join(base, "schema.json"))

    # atomic marker write: on S3 a single PUT is the atomic path
    fsio.write_text_atomic(fsio.join(base, "_compacted.json"), "{}")
    assert fsio.read_text(fsio.join(base, "_compacted.json")) == "{}"
    # no stray .tmp sibling may remain
    names = set(fsio.listdir(base))
    assert "_compacted.json" in names and "schema.json" in names
    assert not any(n.endswith(".tmp") for n in names)

    fsio.rmtree(base)
    assert not fsio.exists(fsio.join(base, "schema.json"))
    # idempotent like shutil.rmtree(ignore_errors=True)
    fsio.rmtree(base)


def test_s3_client_cache_invalidates_on_secret_rotation(s3_env):
    """ADVICE r7: a rotation that changes only the secret or session
    token (fixed key id — minio/proxy setups, or correcting a mis-set
    secret) must not reuse the stale client. The cache key carries a
    hash of (secret, session token), never the secrets themselves."""
    fsio._s3_cache.clear()
    fs1, _ = fsio._s3(f"s3://{BUCKET}/x")
    assert len(fsio._s3_cache) == 1
    saved = {
        k: os.environ.get(k)
        for k in ("AWS_SECRET_ACCESS_KEY", "AWS_SESSION_TOKEN")
    }
    try:
        os.environ["AWS_SECRET_ACCESS_KEY"] = "rotated-secret"
        fs2, _ = fsio._s3(f"s3://{BUCKET}/x")
        assert len(fsio._s3_cache) == 2, "secret rotation reused stale client"
        os.environ["AWS_SESSION_TOKEN"] = "fresh-token"
        fsio._s3(f"s3://{BUCKET}/x")
        assert len(fsio._s3_cache) == 3, "token rotation reused stale client"
        # and no cache key may contain the secret material itself
        for key in fsio._s3_cache:
            assert "rotated-secret" not in repr(key)
            assert "fresh-token" not in repr(key)
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        fsio._s3_cache.clear()


def test_s3_epoch_listing_shape(spark, s3_env):
    # the dataset-root listing the commit log reads: commit=N/ (and an
    # earlier revision's epoch=N/) prefixes must come back as directory
    # names
    base = f"s3://{BUCKET}/stream"
    for e in (0, 1, 2):
        fsio.write_text(fsio.join(base, f"epoch={e}", "part.json"), "{}")
    names = sorted(fsio.listdir(base))
    assert names == ["epoch=0", "epoch=1", "epoch=2"]
    assert all(fsio.isdir(fsio.join(base, n)) for n in names)
    fsio.rmtree(base)
