"""Scheme-path (Hadoop FileSystem) support for dataset metadata.

parquet4s runs against any Hadoop FileSystem (its Path is a Hadoop
path end to end; the reference ships an S3 integration suite,
s3Test/src/it/.../S3ItSpec.scala). colcrush's chunk/manifest parquet
always went through Spark's Hadoop layer, but the engine's own
metadata I/O (schema.json, commit records, commit listings, flush
markers) was os/open-based and silently local-only. These tests drive
the FULL engine lifecycle through ``file://`` URIs — the only scheme
mountable in this sandbox; the fsio layer uses the identical Hadoop
FileSystem API surface (exists/listStatus/open/create/rename/delete)
that s3a:// or hdfs:// paths would hit.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from colcrush.engine import (
    compact,
    read_decoded,
    read_manifest,
    resume_encode,
    write_encoded,
)
from colcrush.engine.scan import column_min_max, count_rows, scan, scan_udp
from colcrush.fixtures import source_code_df
from colcrush.streaming.encode_sink import write_batch


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()

def test_engine_lifecycle_over_scheme_paths(spark, tmp_path):
    uri = f"file://{tmp_path}/ds"
    df = source_code_df(spark, 300, n_repos=4)
    write_encoded(df, uri, mode="overwrite", group_cols=["lang"])

    # metadata files landed through the Hadoop FS layer
    assert os.path.exists(tmp_path / "ds" / "schema.json")

    back = read_decoded(spark, uri)
    assert back.count() == 300
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0
    # file:// is pyarrow-openable: the fused read, no chunk_id exchange
    assert "Exchange" not in _plan(back)

    # stats + filtered scan over the scheme path
    assert count_rows(spark, uri) == 300
    mn, mx = column_min_max(spark, uri, "lang")
    assert mn is not None and mx is not None and mn <= mx
    got = scan(spark, uri, columns=["repo"], filters=[("lang", "==", mn)])
    assert got.count() > 0

    # CREATE-mode refusal sees the existing dataset through the scheme
    with pytest.raises(FileExistsError):
        write_encoded(df, uri, mode="error", group_cols=["lang"])

    # resume over the scheme path: everything committed -> 0 units
    assert resume_encode(df, uri, group_cols=["lang"]) == 0


def test_epochs_and_compaction_over_scheme_paths(spark, tmp_path):
    uri = f"file://{tmp_path}/sds"
    df = source_code_df(spark, 200, n_repos=3)
    parts = (
        F.col("lang") < "j", (F.col("lang") >= "j") & (F.col("lang") < "m"),
        F.col("lang") >= "m",
    )
    for epoch, part in enumerate(parts):
        write_batch(df.where(part), epoch, uri, ["lang"])
    assert read_decoded(spark, uri).count() == 200  # commits via listings

    assert compact(spark, uri) == 2
    assert read_decoded(spark, uri).count() == 200
    assert [d for d in os.listdir(tmp_path / "sds")
            if d.startswith("commit=")] == ["commit=00000003"]
    # the compaction's record was written through the FS layer
    with open(tmp_path / "sds" / "commit=00000003" / "_commit.json") as f:
        assert json.load(f)["absorbs"] == ["commit=00000001", "commit=00000002"]
    m = read_manifest(spark, uri)
    assert m.where(F.col("column") == "content").agg(
        F.sum("n_rows")
    ).collect()[0][0] == 200


def test_flush_marker_over_scheme_paths(spark, tmp_path):
    from colcrush.streaming.sink import PostWriteState, last_flushed_epoch

    uri = f"file://{tmp_path}/out"
    state = PostWriteState(
        epoch_id=7, processed_record_count=42, last_processed_record=None,
        partitions=[], _path=uri,
    )
    marker = state.flush()
    assert state.flushed and marker.endswith("00000007")
    assert os.path.exists(tmp_path / "out" / "_flush" / "00000007")
    assert last_flushed_epoch(uri) == 7


def test_engine_lifecycle_over_viewfs(spark, tmp_path):
    """A SECOND Hadoop FileSystem implementation beyond file://:
    ViewFileSystem (hadoop-common's client-side mount table, the
    federation scheme) resolves ``viewfs://cluster/...`` through a
    mount table and delegates to ChecksumFileSystem — different Path
    authority handling, mount resolution, rename constraints and a
    checksummed data path. Driving the full engine lifecycle through
    it is the closest available analog of the reference's S3ItSpec
    (s3a jars are not in this sandbox; documented in COVERAGE.md):
    every fsio call and Spark parquet read/write must be
    scheme-correct, not just file:-tolerant."""
    conf = spark._jsc.hadoopConfiguration()
    conf.set(
        "fs.viewfs.mounttable.colcrushtest.link./data", f"file://{tmp_path}"
    )
    uri = "viewfs://colcrushtest/data/ds"
    df = source_code_df(spark, 300, n_repos=4)
    write_encoded(df, uri, mode="overwrite", group_cols=["lang"])

    # metadata + chunks landed through the mount (with checksum files)
    assert os.path.exists(tmp_path / "ds" / "schema.json")
    assert os.path.exists(tmp_path / "ds" / ".schema.json.crc")

    back = read_decoded(spark, uri)
    assert back.count() == 300
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0
    # viewfs:// is JVM-only: read_decoded fell back to the exchange plan
    assert "Exchange hashpartitioning(chunk_id" in _plan(back)

    assert count_rows(spark, uri) == 300
    mn, mx = column_min_max(spark, uri, "lang")
    assert mn is not None and mn <= mx
    assert scan(
        spark, uri, columns=["repo"], filters=[("lang", "==", mn)]
    ).count() > 0
    # a negated user-defined predicate on the exchange fallback: chunks
    # whose every lang is mn hold no row of the negation
    cond = F.col("lang") == mn
    got = scan_udp(
        spark, uri, "lang", None, cond, ["repo", "lang"], negated=True,
        inverse_chunk_drop=lambda st: st["min_s"] == st["max_s"] == mn,
    )
    assert "Exchange hashpartitioning(chunk_id" in _plan(got)
    want = back.where(~cond).select("repo", "lang")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.count() == 300 - back.where(cond).count() > 0

    with pytest.raises(FileExistsError):
        write_encoded(df, uri, mode="error", group_cols=["lang"])
    assert resume_encode(df, uri, group_cols=["lang"]) == 0
