"""Shuffle-free colocated read path (engine/dataset.py r8).

read_decoded's plan fuses a whole-file pyarrow chunk reader with the
decode worker in ONE mapInArrow stage: the chunk_id exchange (which
moves every encoded payload byte — ~10 TB per full read at 100 TB) is
gone, and payload bytes never cross a process boundary. These tests
pin value equality with the exchange plan
``decode_table(read_chunks(spark, ds), read_schema(ds))`` (the
reference), the shuffle-free plan, legacy-file NULL-checksum
tolerance, corruption detection, the self-describing failure when a
chunk is split across part files, and that compaction preserves the
whole-chunks-per-file precondition.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import pyspark.sql.functions as F

from colcrush.engine import (
    compact,
    decode_table,
    read_chunks,
    read_decoded,
    read_schema,
    write_encoded,
)
from colcrush.engine.dataset import CHUNKS_DIR
from colcrush.fixtures import source_code_df
from colcrush.streaming.encode_sink import write_batch


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _reference(spark, ds, columns=None):
    """The exchange plan: Spark scan + chunk_id repartition + decode."""
    return decode_table(read_chunks(spark, ds), read_schema(ds), columns=columns)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _drop_stale_crc_siblings(chunks_dir):
    """Rewriting a part file with pyarrow invalidates the Hadoop local
    FS .crc sidecar Spark wrote; drop them so the exchange plan
    (used as the comparison oracle) doesn't fail on its own checksum."""
    for n in os.listdir(chunks_dir):
        if n.endswith(".crc"):
            os.remove(os.path.join(chunks_dir, n))


def test_colocated_matches_default_full_and_projected(spark, tmp_path):
    ds = str(tmp_path / "ds")
    write_encoded(
        source_code_df(spark, 400, n_repos=6), ds,
        mode="overwrite", group_cols=["repo", "lang"],
    )
    # an append adds part files; per-file chunk completeness must hold
    # across revisions of the same dataset
    write_encoded(
        source_code_df(spark, 200, n_repos=6).withColumn(
            "commit", F.concat(F.lit("b"), "commit")
        ),
        ds, mode="append", group_cols=["repo", "lang"],
    )
    assert _rows(read_decoded(spark, ds)) == _rows(_reference(spark, ds))
    assert _rows(read_decoded(spark, ds, columns=["path", "lang"])) == _rows(
        _reference(spark, ds, columns=["path", "lang"])
    )


def test_colocated_plan_has_no_payload_exchange(spark, tmp_path):
    ds = str(tmp_path / "ds")
    # explicit num_partitions: the r9 bytes-justified default would
    # right-size this tiny input to ONE part file — this test pins the
    # MULTI-file plan shape, so force a multi-file write
    write_encoded(
        source_code_df(spark, 200, n_repos=4), ds,
        mode="overwrite", group_cols=["lang"], num_partitions=4,
    )
    # no exchange at all, full or projected: the size bins are a local
    # table scan of one row per bin (one task each)
    for columns in (None, ["path", "lang"]):
        plan = _plan(read_decoded(spark, ds, columns=columns))
        assert "Exchange" not in plan, plan
        assert "LocalTableScan" in plan, plan
        # the reference plan still reassembles chunks by exchange
        assert "Exchange hashpartitioning(chunk_id" in _plan(
            _reference(spark, ds, columns=columns)
        )


def test_colocated_bins_run_one_task_each(spark):
    """Every size bin is its own task, also with more part files than
    cores and bins holding different numbers of files."""
    from pyspark import TaskContext

    from colcrush.engine.dataset import _colocated_file_df

    n_bins = spark.sparkContext.defaultParallelism
    # one large file fills a bin alone; the small ones pair up
    files = [("/ds/chunks/big.parquet", 100)] + [
        (f"/ds/chunks/part-{i:02d}.parquet", 10) for i in range(12)
    ]
    assert len(files) > n_bins
    fdf = _colocated_file_df(spark, files)

    def report(it):
        pid = TaskContext.get().partitionId()
        for batch in it:
            n_files = [len(fs) for fs in batch.column("files").to_pylist()]
            yield pa.record_batch(
                [
                    pa.array([pid] * batch.num_rows, type=pa.int32()),
                    batch.column("bin"),
                    pa.array(n_files, type=pa.int32()),
                ],
                names=["pid", "bin", "n_files"],
            )

    rows = fdf.mapInArrow(report, "pid int, bin int, n_files int").collect()
    assert sorted(r["bin"] for r in rows) == list(range(n_bins))
    assert len({r["pid"] for r in rows}) == n_bins  # one bin per task
    assert sum(r["n_files"] for r in rows) == len(files)
    assert len({r["n_files"] for r in rows}) > 1  # uneven bins


def test_colocated_reads_legacy_file_without_payload_ck(spark, tmp_path):
    """A pre-r6 part file has no payload_ck column; the colocated
    reader must surface NULL checksums (per-row skip), matching the
    explicit-schema Spark read."""
    ds = str(tmp_path / "ds")
    write_encoded(
        source_code_df(spark, 150, n_repos=3), ds,
        mode="overwrite", group_cols=["lang"],
    )
    chunks_dir = os.path.join(ds, CHUNKS_DIR)
    for name in os.listdir(chunks_dir):
        if not name.endswith(".parquet"):
            continue
        f = os.path.join(chunks_dir, name)
        tbl = pq.read_table(f)
        if "payload_ck" in tbl.column_names:
            pq.write_table(tbl.drop_columns(["payload_ck"]), f)
    _drop_stale_crc_siblings(chunks_dir)
    assert _rows(read_decoded(spark, ds)) == _rows(_reference(spark, ds))


def test_colocated_detects_payload_corruption(spark, tmp_path):
    """Bit rot on a part file must still fail loudly through the fused
    path (decode-time checksum verify is not bypassed by the reader)."""
    ds = str(tmp_path / "ds")
    write_encoded(
        source_code_df(spark, 150, n_repos=3), ds,
        mode="overwrite", group_cols=["lang"],
    )
    chunks_dir = os.path.join(ds, CHUNKS_DIR)
    victim = sorted(
        n for n in os.listdir(chunks_dir) if n.endswith(".parquet")
    )[0]
    f = os.path.join(chunks_dir, victim)
    tbl = pq.read_table(f)
    payloads = tbl.column("payload").to_pylist()
    payloads[0] = bytes([payloads[0][0] ^ 0xFF]) + payloads[0][1:]
    arrays = [
        pa.array(payloads, type=pa.binary())
        if name == "payload"
        else tbl.column(name)
        for name in tbl.column_names
    ]
    pq.write_table(
        pa.table(arrays, names=tbl.column_names), f
    )
    _drop_stale_crc_siblings(chunks_dir)
    with pytest.raises(Exception, match="integrity"):
        read_decoded(spark, ds).count()


def test_split_chunk_raises_with_the_way_out(spark, tmp_path):
    """A chunk whose rows are split across two part files breaks the
    fused read's precondition: read_decoded must raise the decoder's
    "incomplete chunks" error naming the dataset and the exchange plan,
    and that plan must still return the source rows."""
    ds = str(tmp_path / "ds")
    src = source_code_df(spark, 150, n_repos=3)
    write_encoded(src, ds, mode="overwrite", group_cols=["lang"])
    chunks_dir = os.path.join(ds, CHUNKS_DIR)
    parts = sorted(n for n in os.listdir(chunks_dir) if n.endswith(".parquet"))
    f = os.path.join(chunks_dir, parts[0])
    tbl = pq.read_table(f).sort_by([("chunk_id", "ascending")])
    # the first chunk has one row per column: cut between its first two
    pq.write_table(tbl.slice(0, 1), f)
    pq.write_table(tbl.slice(1), os.path.join(chunks_dir, "part-split.parquet"))
    _drop_stale_crc_siblings(chunks_dir)
    with pytest.raises(Exception, match="incomplete chunks") as err:
        read_decoded(spark, ds).collect()
    assert ds in str(err.value)
    assert "decode_table(read_chunks(spark, path), schema)" in str(err.value)
    assert _rows(_reference(spark, ds)) == _rows(src)


def test_dataset_without_chunks_raises_spark_path_error(spark, tmp_path):
    """No part files (a write that crashed before its chunk job): the
    read falls back to the exchange plan, whose Spark scan raises its
    own path error."""
    from pyspark.errors import AnalysisException

    from colcrush.engine.dataset import _write_schema

    ds = str(tmp_path / "ds")
    _write_schema(ds, source_code_df(spark, 10, n_repos=1).schema)
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_decoded(spark, ds).count()


def test_colocated_across_epochs_and_compaction(spark, tmp_path):
    """Stream datasets read colocated; compaction (which repartitions
    on chunk_id before its rewrite) preserves the whole-chunks-per-file
    precondition, so the colocated read keeps working after it."""
    ds = str(tmp_path / "ds")
    df = source_code_df(spark, 300, n_repos=4)
    parts = (
        F.col("lang") < "j", (F.col("lang") >= "j") & (F.col("lang") < "m"),
        F.col("lang") >= "m",
    )
    for epoch, part in enumerate(parts):
        write_batch(df.where(part), epoch, ds, ["lang"])
    before = _rows(read_decoded(spark, ds))
    assert before == _rows(_reference(spark, ds))
    assert len(before) == 300
    assert compact(spark, ds) == 2
    assert _rows(read_decoded(spark, ds)) == before
    assert _rows(_reference(spark, ds)) == before


def test_legacy_file_map_sidecar_is_inert(spark, tmp_path):
    """A dataset written by an earlier revision carries a file_map/
    chunk->file sidecar. No reader consults it and no write touches
    it: the dataset reads, scans, verifies and appends as if it were
    absent."""
    from colcrush.engine import ensure_file_map, scan, verify_dataset

    ds = str(tmp_path / "ds")
    src = source_code_df(spark, 300, n_repos=5)
    write_encoded(src, ds, mode="overwrite", group_cols=["repo", "lang"])
    fm = os.path.join(ds, "file_map")
    assert not os.path.exists(fm)
    assert ensure_file_map(spark, ds) > 0
    # the completeness marker earlier revisions wrote beside the rows
    with open(os.path.join(fm, "_complete.json"), "w") as f:
        f.write('{"n_files": 1, "xor_md5": 0}')
    legacy = sorted(os.listdir(fm))

    assert _rows(read_decoded(spark, ds)) == _rows(_reference(spark, ds))
    key = src.orderBy("path").first()["path"]
    got = scan(spark, ds, columns=["path", "lang"], filters=[("path", "==", key)])
    want = _rows(src.where(F.col("path") == key).select("path", "lang"))
    assert _rows(got) == want and len(want) >= 1
    assert verify_dataset(spark, ds, deep=True)["ok"]

    more = source_code_df(spark, 150, n_repos=5).withColumn(
        "commit", F.concat(F.lit("z"), "commit")
    )
    write_encoded(more, ds, mode="append", group_cols=["repo", "lang"])
    full = _rows(read_decoded(spark, ds))
    assert full == _rows(_reference(spark, ds))
    assert full == _rows(src.unionByName(more))
    assert sorted(os.listdir(fm)) == legacy
