"""Streaming encode sink: stream -> encoded dataset, one commit per
epoch, decodable and append-consistent across epochs and compactions."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from colcrush.engine import (
    compact, count_rows, read_decoded, read_manifest, write_encoded,
)
from colcrush.engine.dataset import CHUNKS_DIR, COMMIT_FILE
from colcrush.fixtures import source_code_df
from colcrush.streaming.encode_sink import encoded_stream_sink, write_batch

from .test_commit_protocol import _tree


def _same(got, want):
    return got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def _commits(ds):
    return sorted(d for d in os.listdir(ds) if d.startswith("commit="))


def _record(root):
    with open(os.path.join(root, COMMIT_FILE)) as f:
        return json.load(f)


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
    # a stream into an empty path writes the base first
    assert _record(ds)["epoch"] == commits[0][0]
    dec = read_decoded(spark, ds)
    assert dec.count() == 600
    assert dec.exceptAll(df).count() == 0 and df.exceptAll(dec).count() == 0
    m = read_manifest(spark, ds)
    assert m.where(F.col("column") == "content").agg(
        F.sum("n_rows")
    ).collect()[0][0] == 600


def test_epoch_retry_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed committed epoch writes
    nothing, and a retried epoch whose record never landed takes the
    same commit and replaces its attempt, which stays invisible to
    readers until then."""
    ds = str(tmp_path / "ds")
    df = source_code_df(spark, 200, n_repos=3)
    write_batch(df, 0, ds, ["lang"])
    write_batch(df, 1, ds, ["lang"])
    assert _commits(ds) == ["commit=00000001"]
    assert read_decoded(spark, ds).count() == 400
    ep = os.path.join(ds, "commit=00000001")
    assert _record(ep)["epoch"] == 1

    # a crash between the chunk write and the record: record gone,
    # stale chunks present, the epoch invisible to readers
    os.remove(os.path.join(ep, COMMIT_FILE))
    assert read_decoded(spark, ds).count() == 200
    assert count_rows(spark, ds) == 200

    write_batch(df, 1, ds, ["lang"])
    assert _commits(ds) == ["commit=00000001"]
    got = read_decoded(spark, ds)
    assert got.count() == 400
    assert _same(got, df.unionAll(df))

    # a replay of a committed epoch touches no file
    before = _tree(ds)
    for epoch in (0, 1):
        write_batch(df, epoch, ds, ["lang"])
    assert _tree(ds) == before
    assert read_decoded(spark, ds).count() == 400

    # distinct epochs with identical content never collide on chunk_id
    m = read_manifest(spark, ds)
    n_per_epoch = (
        spark.read.parquet(os.path.join(ep, CHUNKS_DIR))
        .select("chunk_id").distinct().count()
    )
    assert m.select("chunk_id").distinct().count() == 2 * n_per_epoch


def test_compact(spark, tmp_path):
    """Chunk-level compaction of stream commits into one commit: row
    counts and decode results unchanged, the folded dirs removed, a
    partial (uncommitted) compaction invisible to readers, and the
    stream continues on top, to be compacted again."""
    ds = str(tmp_path / "ds")
    df = source_code_df(spark, 300, n_repos=4)
    half_a = df.where(F.col("lang") < "m")
    half_b = df.where(F.col("lang") >= "m")
    for epoch, part in enumerate((half_a, half_b, half_a)):
        write_batch(part, epoch, ds, ["lang"])
    assert _commits(ds) == ["commit=00000001", "commit=00000002"]
    want = df.unionAll(half_a)
    assert _same(read_decoded(spark, ds), want)

    # a crashed compaction (chunks written, no record) leaves readers
    # on the commits it would fold
    os.makedirs(os.path.join(ds, "commit=00000003", CHUNKS_DIR))
    assert _same(read_decoded(spark, ds), want)

    assert compact(spark, ds) == 2
    assert _commits(ds) == ["commit=00000003"]
    rec = _record(os.path.join(ds, "commit=00000003"))
    assert rec["absorbs"] == ["commit=00000001", "commit=00000002"]
    assert rec["epoch"] == 2
    assert _same(read_decoded(spark, ds), want)
    # one commit beside the base: nothing to fold
    assert compact(spark, ds) == 0

    # the stream continues: a replayed epoch is a no-op, a new one
    # commits beside the compaction, and both fold again
    write_batch(half_b, 2, ds, ["lang"])
    write_batch(half_b, 3, ds, ["lang"])
    want = want.unionAll(half_b)
    assert _same(read_decoded(spark, ds), want)
    assert compact(spark, ds) == 2
    assert _commits(ds) == ["commit=00000005"]
    assert _record(os.path.join(ds, "commit=00000005"))["epoch"] == 3
    assert _same(read_decoded(spark, ds), want)
    assert count_rows(spark, ds) == 600


def test_compact_crash_cleanup_resumes(spark, tmp_path, monkeypatch):
    """A crash between the compaction's record and the removal of the
    dirs it absorbs (here halfway: one dir gone, one half gone, one
    untouched) leaves readers on the compaction alone; re-running
    compaction completes the cleanup and folds nothing."""
    from colcrush.engine import fsio, verify_dataset

    ds = str(tmp_path / "ds")
    df = source_code_df(spark, 200, n_repos=3)
    for epoch in range(4):
        write_batch(df, epoch, ds, ["lang"])
    rmtree, calls = fsio.rmtree, []

    def crashing(path):
        calls.append(path)
        if len(calls) == 3:
            rmtree(os.path.join(path, CHUNKS_DIR))
            raise RuntimeError("simulated crash in cleanup")
        rmtree(path)

    with monkeypatch.context() as m:
        m.setattr(fsio, "rmtree", crashing)
        with pytest.raises(RuntimeError, match="simulated crash"):
            compact(spark, ds)
    # the new commit's manifest/ removal, then two absorbed dirs
    assert calls[1:] == [
        os.path.join(ds, "commit=00000001"), os.path.join(ds, "commit=00000002")
    ]
    assert _commits(ds) == [
        "commit=00000002", "commit=00000003", "commit=00000004"
    ]
    assert read_decoded(spark, ds).count() == 800
    assert count_rows(spark, ds) == 800
    assert verify_dataset(spark, ds)["ok"]

    assert compact(spark, ds) == 0  # cleanup, not an error
    assert _commits(ds) == ["commit=00000004"]
    assert _same(read_decoded(spark, ds), df.unionAll(df).unionAll(df).unionAll(df))


def test_sink_continues_after_compaction(spark, tmp_path):
    """The encode sink starts on a dataset a batch write created and
    keeps committing after a compaction: a stream writes, is
    compacted, writes more from the same checkpoint, and is compacted
    again, every row read once in between."""
    ds = str(tmp_path / "ds")
    ck = str(tmp_path / "ck")
    src_dir = str(tmp_path / "in")
    df = source_code_df(spark, 300, n_repos=3)
    parts = [
        df.where(F.pmod(F.crc32("content"), F.lit(5)) == k) for k in range(5)
    ]
    write_encoded(parts[0], ds, group_cols=["lang"])

    want = parts[0]
    # one source file per round, so each round is one epoch
    for k, folded in ((1, None), (2, 2), (3, None), (4, 3)):
        parts[k].coalesce(1).write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema(df.schema).parquet(src_dir)
        q = encoded_stream_sink(stream, ds, ck, group_cols=["lang"])
        q.awaitTermination(120)
        assert q.exception() is None
        want = want.unionAll(parts[k])
        assert _same(read_decoded(spark, ds), want)
        if folded:
            assert compact(spark, ds) == folded
            assert _same(read_decoded(spark, ds), want)
    assert _commits(ds) == ["commit=00000006"]
    assert _record(os.path.join(ds, "commit=00000006"))["epoch"] == 3
    assert count_rows(spark, ds) == 300
