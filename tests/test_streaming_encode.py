"""Streaming encode sink: stream -> encoded dataset, decodable and
append-consistent across epochs."""

from __future__ import annotations

import pyspark.sql.functions as F

from colcrush.engine import read_decoded, read_manifest
from colcrush.fixtures import source_code_df
from colcrush.streaming.encode_sink import encoded_stream_sink


def test_stream_encodes_to_dataset(spark, tmp_path):
    src_dir = str(tmp_path / "in")
    ds = str(tmp_path / "ds")
    ck = str(tmp_path / "ck")
    df = source_code_df(spark, 600, n_repos=5)
    # two source files -> availableNow processes them (possibly one epoch)
    df.where(F.col("lang") < "m").write.parquet(src_dir)
    df.where(F.col("lang") >= "m").write.mode("append").parquet(src_dir)

    commits = []
    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", 2
    ).parquet(src_dir)
    q = encoded_stream_sink(
        stream,
        ds,
        ck,
        group_cols=["lang"],
        post_commit=lambda e, n: commits.append((e, n)),
        target_chunk_rows=256,
    )
    q.awaitTermination(120)
    assert sum(n for _, n in commits) == 600
    dec = read_decoded(spark, ds)
    assert dec.count() == 600
    assert dec.exceptAll(df).count() == 0 and df.exceptAll(dec).count() == 0
    m = read_manifest(spark, ds)
    assert m.where(F.col("column") == "content").agg(
        F.sum("n_rows")
    ).collect()[0][0] == 600


def test_epoch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a retried epoch must overwrite its
    own sub-dataset, not append a second copy; an epoch whose record
    never landed must stay invisible to readers."""
    import os

    from colcrush.engine import write_encoded
    from colcrush.engine.dataset import CHUNKS_DIR, COMMIT_FILE

    ds = str(tmp_path / "ds")
    df = source_code_df(spark, 200, n_repos=3)
    ep = os.path.join(ds, "epoch=00000000")
    write_encoded(df, ep, mode="overwrite", group_cols=["lang"],
                  namespace="epoch-0")
    assert read_decoded(spark, ds).count() == 200

    # retry after a crash between chunk write and commit record:
    # record gone, stale chunks present
    os.remove(os.path.join(ep, COMMIT_FILE))
    # uncommitted epoch is invisible to readers
    import pytest as _pytest
    with _pytest.raises(Exception):
        read_manifest(spark, ds).count()

    write_encoded(df, ep, mode="overwrite", group_cols=["lang"],
                  namespace="epoch-0")
    got = read_decoded(spark, ds)
    assert got.count() == 200
    assert got.exceptAll(df).count() == 0 and df.exceptAll(got).count() == 0

    # full replay of a committed epoch: second write with same namespace
    # (overwrite) must leave row count unchanged
    write_encoded(df, ep, mode="overwrite", group_cols=["lang"],
                  namespace="epoch-0")
    assert read_decoded(spark, ds).count() == 200

    # distinct epochs with identical content never collide on chunk_id
    ep1 = os.path.join(ds, "epoch=00000001")
    write_encoded(df, ep1, mode="overwrite", group_cols=["lang"],
                  namespace="epoch-1")
    m = read_manifest(spark, ds)
    n_per_epoch = (
        spark.read.parquet(os.path.join(ep, CHUNKS_DIR))
        .select("chunk_id").distinct().count()
    )
    assert m.select("chunk_id").distinct().count() == 2 * n_per_epoch
    assert read_decoded(spark, ds).count() == 400


def test_compact_epochs(spark, tmp_path):
    """Chunk-level compaction of streaming epochs into the base layout:
    row counts and decode results unchanged, epoch dirs removed, and a
    partial (uncommitted) compaction stays invisible to readers."""
    import os
    import shutil

    from colcrush.engine import compact_epochs, write_encoded
    from colcrush.engine.dataset import CHUNKS_DIR, COMMIT_FILE

    ds = str(tmp_path / "ds")
    df = source_code_df(spark, 300, n_repos=4)
    half_a = df.where(F.col("lang") < "m")
    half_b = df.where(F.col("lang") >= "m")
    write_encoded(half_a, os.path.join(ds, "epoch=00000000"),
                  mode="overwrite", group_cols=["lang"], namespace="epoch-0")
    write_encoded(half_b, os.path.join(ds, "epoch=00000001"),
                  mode="overwrite", group_cols=["lang"], namespace="epoch-1")
    assert read_decoded(spark, ds).count() == 300

    # a crashed compaction (chunks written, no record)
    # leaves readers on the epoch view
    chunks_dir = os.path.join(ds, CHUNKS_DIR)
    os.makedirs(chunks_dir, exist_ok=True)
    assert read_decoded(spark, ds).count() == 300
    shutil.rmtree(chunks_dir)

    n = compact_epochs(spark, ds)
    assert n == 2
    assert os.path.exists(os.path.join(ds, COMMIT_FILE))
    assert not [d for d in os.listdir(ds) if d.startswith("epoch=")]
    got = read_decoded(spark, ds)
    assert got.count() == 300
    assert got.exceptAll(df).count() == 0 and df.exceptAll(got).count() == 0
    # compacting again with no epochs is a no-op
    assert compact_epochs(spark, ds) == 0
    # an epoch written AFTER compaction is invisible to base-view
    # readers — compaction refuses loudly instead of deleting it
    write_encoded(half_a, os.path.join(ds, "epoch=00000009"),
                  mode="overwrite", group_cols=["lang"], namespace="epoch-9")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="AFTER compaction"):
        compact_epochs(spark, ds)


def test_compact_epochs_crash_cleanup_resumes(spark, tmp_path):
    """A crash between the base's commit record and the epoch-dir
    cleanup leaves absorbed epoch dirs behind; re-running compaction
    completes the cleanup (deletes exactly the recorded absorbed dirs)
    instead of raising."""
    import json
    import os

    from colcrush.engine import compact_epochs, write_encoded
    from colcrush.engine.dataset import COMPACTED_FILE

    ds = str(tmp_path / "ds")
    df = source_code_df(spark, 200, n_repos=3)
    ep0 = os.path.join(ds, "epoch=00000000")
    write_encoded(df, ep0, mode="overwrite", group_cols=["lang"],
                  namespace="epoch-0")
    assert compact_epochs(spark, ds) == 1
    # simulate the crash: recreate the absorbed epoch dir post-commit
    write_encoded(df, ep0, mode="overwrite", group_cols=["lang"],
                  namespace="epoch-0")
    rec = json.load(open(os.path.join(ds, COMPACTED_FILE)))
    assert rec["epochs"] == ["epoch=00000000"]
    assert compact_epochs(spark, ds) == 0  # cleanup, not an error
    assert not os.path.exists(ep0)
    assert read_decoded(spark, ds).count() == 200


def test_sink_refuses_committed_base(spark, tmp_path):
    """The encode sink must refuse to write epochs into a dataset with a
    committed compacted base — those epochs would be invisible to
    readers (the base view short-circuits the epoch view)."""
    import os

    import pytest as _pytest

    from colcrush.engine import compact_epochs, write_encoded

    ds = str(tmp_path / "ds")
    ck = str(tmp_path / "ck")
    src_dir = str(tmp_path / "in")
    df = source_code_df(spark, 100, n_repos=2)
    write_encoded(df, os.path.join(ds, "epoch=00000000"),
                  mode="overwrite", group_cols=["lang"], namespace="epoch-0")
    assert compact_epochs(spark, ds) == 1

    df.write.parquet(src_dir)
    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    q = encoded_stream_sink(stream, ds, ck, group_cols=["lang"])
    with _pytest.raises(Exception, match="committed compacted base"):
        q.awaitTermination(120)
        q.processAllAvailable()
    assert read_decoded(spark, ds).count() == 100  # base untouched
