"""Persisted datasets: write/read modes, manifest commit, resume, scans.

Models parquet4s's IOOps CREATE/OVERWRITE semantics
(/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/IOOps.scala:37-56),
the postWriteHandler checkpoint (ParquetPartitioningFlow.scala:303-316)
and the stats / row-group-skipping layer (stats/FilteredFileStats.scala:129-143)
— re-expressed as manifest-driven DataFrame logic (FIXTURES.md F3/F4).
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from colcrush.engine import (
    column_min_max,
    count_rows,
    pruned_chunk_count,
    read_decoded,
    read_manifest,
    resume_encode,
    scan,
    write_encoded,
)
from colcrush.fixtures import source_code_df


@pytest.fixture()
def tmp(tmp_path):
    return str(tmp_path / "ds")


@pytest.fixture(scope="module")
def src(spark):
    df = source_code_df(spark, 1500, n_repos=10).cache()
    df.count()
    return df


def test_write_create_mode_refuses_overwrite(spark, src, tmp):
    write_encoded(src, tmp, group_cols=["repo", "lang"])
    with pytest.raises(FileExistsError):
        write_encoded(src, tmp, group_cols=["repo", "lang"])
    write_encoded(src, tmp, mode="overwrite", group_cols=["repo", "lang"])


def test_write_rejects_unknown_mode(spark, src, tmp):
    """An unrecognized mode string must raise, not fall through to the
    non-error branches (it would skip the CREATE existence check and
    silently APPEND to an existing dataset)."""
    with pytest.raises(ValueError, match="mode must be"):
        write_encoded(src, tmp, mode="create", group_cols=["repo", "lang"])


def test_failed_encode_releases_salt_plan(spark, src, tmp):
    """If encode_table raises after the salt-plan histogram was
    persisted (unknown bloom column here), write_encoded must unpersist
    the plan on the error path — a leaked persisted DataFrame eats
    executor storage for the session's lifetime (ADVICE r5)."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    with pytest.raises(ValueError, match="not in the input"):
        write_encoded(src, tmp, group_cols=["repo", "lang"], bloom=["nope"])
    leaked = set(sc._jsc.getPersistentRDDs().keySet().toArray()) - before
    assert not leaked


def test_encode_and_resume_persist_no_salt_plan(spark, src, tmp):
    """The salt plan is a driver-side table, never a persisted
    histogram: encode_table without a plan (the roundtrip queries'
    path) and a resume that reuses the recorded sidecar both add no
    persisted RDD to the session."""
    from colcrush.engine import decode_table, encode_table
    from colcrush.engine.dataset import CHUNKS_DIR, MANIFEST_DIR

    sc = spark.sparkContext

    def added():
        # RDDs the ContextCleaner drops meanwhile may leave the set;
        # none may join it
        return set(sc._jsc.getPersistentRDDs().keySet().toArray()) - before

    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    enc = encode_table(li, group_cols=["l_returnflag"])
    assert decode_table(enc, li.schema).count() == li.count()
    assert not added()

    write_encoded(src, tmp, group_cols=["repo", "lang"])
    shutil.rmtree(os.path.join(tmp, CHUNKS_DIR))
    shutil.rmtree(os.path.join(tmp, MANIFEST_DIR))
    assert resume_encode(src, tmp, group_cols=["repo", "lang"]) > 0
    assert read_decoded(spark, tmp).count() == src.count()
    assert not added()


# Spark jobs one grouped write_encoded of the input below runs under
# the test session. Building a chunk->file map would add one more.
WRITE_ENCODED_JOBS = 8


def test_write_encoded_job_count_and_no_file_map(spark, tmp_path):
    """A grouped write runs a pinned number of Spark jobs and no write
    or compaction leaves a file_map/ dir behind."""
    from colcrush.engine import compact_epochs

    sc = spark.sparkContext
    df = source_code_df(spark, 400, n_repos=6)
    ds = str(tmp_path / "ds")
    group = "write-encoded-job-count"
    sc.setJobGroup(group, "one grouped write_encoded")
    try:
        write_encoded(df, ds, group_cols=["repo", "lang"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == WRITE_ENCODED_JOBS

    def no_file_map(p):
        return not os.path.exists(os.path.join(p, "file_map"))

    assert no_file_map(ds)
    write_encoded(df, ds, mode="append", group_cols=["lang"])
    assert no_file_map(ds)
    write_encoded(df, ds, mode="overwrite", group_cols=["repo", "lang"])
    assert no_file_map(ds)

    streamed = str(tmp_path / "streamed")
    for i, part in enumerate(
        (df.where(F.col("lang") < "m"), df.where(F.col("lang") >= "m"))
    ):
        write_encoded(
            part, os.path.join(streamed, f"epoch={i:08d}"), mode="overwrite",
            group_cols=["lang"], namespace=f"epoch-{i}",
        )
    assert compact_epochs(spark, streamed) == 2
    assert no_file_map(streamed)
    assert read_decoded(spark, streamed).count() == 400


def test_read_decoded_matches_source(spark, src, tmp):
    write_encoded(src, tmp, group_cols=["repo", "lang"])
    dec = read_decoded(spark, tmp)
    assert dec.exceptAll(src).count() == 0
    assert src.exceptAll(dec).count() == 0


def test_metadata_only_stats(spark, src, tmp):
    write_encoded(src, tmp, group_cols=["repo", "lang"])
    assert count_rows(spark, tmp) == src.count()
    mn, mx = column_min_max(spark, tmp, "lang")
    langs = [r[0] for r in src.select("lang").distinct().collect()]
    assert mn == min(langs) and mx == max(langs)


def test_resume_encodes_only_missing_groups(spark, src, tmp):
    langs = [r[0] for r in src.select("lang").distinct().collect()]
    half = sorted(langs)[: len(langs) // 2]
    part = src.where(F.col("lang").isin(half))
    write_encoded(part, tmp, group_cols=["repo", "lang"])
    committed_before = read_manifest(spark, tmp).select("chunk_id").distinct().count()

    n_missing = resume_encode(src, tmp, group_cols=["repo", "lang"])
    assert n_missing > 0
    dec = read_decoded(spark, tmp)
    assert dec.exceptAll(src).count() == 0
    assert src.exceptAll(dec).count() == 0

    # second resume: nothing left to do
    assert resume_encode(src, tmp, group_cols=["repo", "lang"]) == 0
    committed_after = read_manifest(spark, tmp).select("chunk_id").distinct().count()
    assert committed_after > committed_before


def test_resume_recovers_lost_manifest(spark, src, tmp):
    write_encoded(src, tmp, group_cols=["repo", "lang"])
    shutil.rmtree(os.path.join(tmp, "manifest"))
    assert resume_encode(src, tmp, group_cols=["repo", "lang"]) == 0
    dec = read_decoded(spark, tmp)
    assert dec.count() == src.count()


def test_resumed_chunks_byte_identical(spark, src, tmp):
    """F4(c): a resumed run must reproduce byte-identical output."""
    tmp2 = tmp + "_full"
    write_encoded(src, tmp2, group_cols=["repo", "lang"])

    langs = [r[0] for r in src.select("lang").distinct().collect()]
    part = src.where(F.col("lang").isin(sorted(langs)[:3]))
    write_encoded(part, tmp, group_cols=["repo", "lang"])
    resume_encode(src, tmp, group_cols=["repo", "lang"])

    a = read_manifest(spark, tmp).select("chunk_id", "column", "enc_bytes", "n_rows")
    b = read_manifest(spark, tmp2).select("chunk_id", "column", "enc_bytes", "n_rows")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_resume_across_parallelism_byte_identical(spark, src, tmp):
    """The 100 TB restart story: a job killed on an N-executor cluster
    and resumed on a 4N one must append chunks byte-identical to what a
    single uninterrupted run at ANY width would have written. Byte-cap
    pressure on salted mega-groups is forced (small group/chunk byte
    targets) because that is exactly the regime where the pre-r6
    slice-end byte-cap check leaked the partition count into cut
    positions. Compares full payload bytes, not just sizes."""
    kw = dict(
        group_cols=["repo", "lang"],
        target_group_bytes=64 << 10,   # multi-salt mega-groups
        target_chunk_bytes=16 << 10,   # byte-cap cuts dominate
    )
    langs = [r[0] for r in src.select("lang").distinct().collect()]
    part = src.where(F.col("lang").isin(sorted(langs)[:3]))
    write_encoded(part, tmp, num_partitions=7, **kw)
    assert resume_encode(src, tmp, num_partitions=23, **kw) > 0

    tmp2 = tmp + "_oneshot"
    write_encoded(src, tmp2, num_partitions=13, **kw)

    def payloads(p):
        return sorted(
            (r["chunk_id"], r["column"], bytes(r["payload"]))
            for r in spark.read.parquet(os.path.join(p, "chunks"))
            .select("chunk_id", "column", "payload")
            .collect()
        )

    assert payloads(tmp) == payloads(tmp2)


def test_scan_filters_and_projects(spark, src, tmp):
    write_encoded(src, tmp, group_cols=["repo", "lang"])
    got = scan(spark, tmp, columns=["repo", "path"], filters=[("lang", "==", "python")])
    want = src.where(F.col("lang") == "python").select("repo", "path")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_chunk_skipping_actually_skips(spark, tmp):
    """FIXTURES.md F3: small chunks + a range predicate must prune
    chunks via manifest min/max without touching payloads."""
    sdf = spark.range(4096).select(
        F.col("id").alias("idx"),
        (F.col("id") % 4).alias("enum_i"),
        F.col("id").cast("double").alias("val"),
    )
    write_encoded(sdf, tmp, range_cols=["idx"], target_chunk_rows=512)
    alive, total = pruned_chunk_count(spark, tmp, [("idx", "<", 100)])
    assert total >= 8
    assert alive < total, "range predicate should prune chunks"
    got = scan(spark, tmp, filters=[("idx", "<", 100)])
    assert got.count() == 100
    assert got.agg(F.max("idx")).collect()[0][0] == 99


def test_scan_or_filter(spark, tmp_path):
    """Boolean algebra parity (Filter.scala:79-89): OR of two ranges
    prunes the middle chunks and keeps both ends."""
    from colcrush.engine import pruned_chunk_count, scan, write_encoded

    p = str(tmp_path / "or_ds")
    sdf = spark.range(4096).select(F.col("id").alias("idx"))
    write_encoded(sdf, p, range_cols=["idx"], target_chunk_rows=256)
    filt = [("or", [("idx", "<", 100), ("idx", ">=", 4000)])]
    alive, total = pruned_chunk_count(spark, p, filt)
    assert alive < total
    got = scan(spark, p, filters=filt)
    assert got.count() == 100 + 96
    assert got.where((F.col("idx") >= 100) & (F.col("idx") < 4000)).count() == 0


def test_register_view_sql_over_encoded(spark, src, tmp):
    from colcrush.engine import register_view

    write_encoded(src, tmp, group_cols=["repo", "lang"])
    register_view(spark, tmp, "code_files")
    got = spark.sql(
        "SELECT lang, count(*) AS n FROM code_files GROUP BY lang"
    ).collect()
    want = {r["lang"]: r["count"] for r in src.groupBy("lang").count().collect()}
    assert {r["lang"]: r["n"] for r in got} == want


def test_append_schema_guard(spark, src, tmp):
    write_encoded(src, tmp, group_cols=["repo", "lang"])
    bad = src.withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="schema mismatch"):
        write_encoded(bad, tmp, mode="append", group_cols=["repo", "lang"])


def test_scan_nan_rows_not_pruned(spark, tmp_path):
    """NaN soundness: Spark orders NaN above every double, so a chunk
    whose only rows matching (val > 10.0) are NaN must NOT be pruned.
    Encoder writes null min/max for NaN-bearing float chunks."""
    p = str(tmp_path / "nan_ds")
    sdf = spark.createDataFrame(
        [(0, 1.0), (1, float("nan")), (2, 5.0)], ["idx", "val"]
    )
    write_encoded(sdf, p, target_chunk_rows=512)
    got = scan(spark, p, filters=[("val", ">", 10.0)]).collect()
    # Spark semantics: NaN > 10.0 is true
    assert len(got) == 1 and got[0]["idx"] == 1
    # and a NaN-free dataset still prunes normally
    p2 = str(tmp_path / "clean_ds")
    sdf2 = spark.range(4096).select(
        F.col("id").alias("idx"), F.col("id").cast("double").alias("val")
    )
    write_encoded(sdf2, p2, range_cols=["idx"], target_chunk_rows=512)
    alive, total = pruned_chunk_count(spark, p2, [("val", ">", 4000.0)])
    assert alive < total


def test_resume_noop_for_nonstring_group_cols(spark, tmp_path):
    """Resume identity for boolean / float / nullable group columns:
    the worker-side group key must byte-match Spark's to_json rendering
    ('true'/null/'1.0E-7', not Python's 'True'/'None'/'1e-07'), else
    every resume re-appends every group as duplicate chunks."""
    p = str(tmp_path / "ds")
    df = spark.createDataFrame(
        [
            (True, 1e-07, "a", 1),
            (True, 1e-07, "a", 2),
            (False, 2.5, None, 3),
            (False, 2.5, None, 4),
            (True, None, "b", 5),
        ],
        ["flag", "ratio", "tag", "v"],
    )
    write_encoded(df, p, group_cols=["flag", "ratio", "tag"])
    n_chunks = read_manifest(spark, p).select("chunk_id").distinct().count()
    # resume with the SAME data: every group is committed -> 0 missing
    assert resume_encode(df, p, group_cols=["flag", "ratio", "tag"]) == 0
    assert (
        read_manifest(spark, p).select("chunk_id").distinct().count() == n_chunks
    )
    got = read_decoded(spark, p)
    assert got.count() == 5


def test_decimal_columns_use_int_codec(spark, tmp_path):
    """north_rule lineage check: DECIMAL(12,2) money columns must ride
    the lightweight int codec, not the arrow-IPC fallback."""
    p = str(tmp_path / "dec_ds")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
    )
    write_encoded(li, p, group_cols=["l_returnflag"])
    codecs = {
        r["codec"]
        for r in read_manifest(spark, p).where(F.col("column") == "price").collect()
    }
    assert codecs and "ipc" not in codecs, codecs
    got = read_decoded(spark, p)
    assert got.count() == li.count()
    s1 = got.agg(F.sum("price")).collect()[0][0]
    s2 = li.agg(F.sum("price")).collect()[0][0]
    assert s1 == s2


def test_filtered_min_max_early_termination(spark, tmp_path):
    """FilteredFileStats early termination analog
    (stats/FilteredFileStats.scala:129-143): on range-sorted chunks a
    filtered min/max decodes only the boundary chunks, and the result
    equals the full filtered scan's."""
    from colcrush.engine import filtered_min_max

    p = str(tmp_path / "fmm")
    sdf = spark.range(8192).select(
        F.col("id").alias("idx"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    write_encoded(sdf, p, range_cols=["idx"], target_chunk_rows=512)
    audit = {}
    mn, mx = filtered_min_max(
        spark, p, "idx", [("idx", ">=", 1000), ("idx", "<", 7000)],
        seed_chunks=2, audit=audit,
    )
    assert (mn, mx) == (1000, 6999)
    # range-sorted: the extremes live in the seed chunks; phase 2 empty
    assert audit["n_seed"] <= 4
    assert audit["n_rest"] == 0
    assert audit["n_survivors"] > audit["n_seed"], "skipping had work to skip"

    # unsorted chunks on the aggregated column still give exact answers
    audit2 = {}
    mn2, mx2 = filtered_min_max(
        spark, p, "v", [("idx", ">=", 1000), ("idx", "<", 1100)],
        audit=audit2,
    )
    want = (
        sdf.where((F.col("idx") >= 1000) & (F.col("idx") < 1100))
        .agg(F.min("v"), F.max("v"))
        .collect()[0]
    )
    assert (mn2, mx2) == (want[0], want[1])


def test_resume_reuses_recorded_salt_plan(spark, src, tmp, monkeypatch):
    """The salt plan sidecar lands BEFORE the chunks, so a write that
    crashed mid-chunk-job leaves the plan behind; the resume re-encode
    must REUSE it — no second size-histogram pass over the input (at
    100 TB the histogram is itself a full read) — and produce chunks
    byte-identical to an uncrashed encode."""
    import colcrush.engine.encoder as enc_mod
    from colcrush.engine.dataset import CHUNKS_DIR, SALT_PLAN_DIR

    tmp2 = tmp + "_full"
    write_encoded(src, tmp2, group_cols=["repo", "lang"])

    write_encoded(src, tmp, group_cols=["repo", "lang"])
    assert os.path.isdir(os.path.join(tmp, SALT_PLAN_DIR))
    # simulate the crash window: chunk job died mid-write (no chunks,
    # no manifest), the plan sidecar survives
    shutil.rmtree(os.path.join(tmp, CHUNKS_DIR))
    shutil.rmtree(os.path.join(tmp, "manifest"))

    def _boom(*a, **k):
        raise AssertionError("plan_salts must not run during resume")

    monkeypatch.setattr(enc_mod, "plan_salts", _boom)
    # dataset.write_encoded imported plan_salts by name too
    import colcrush.engine.dataset as ds_mod

    monkeypatch.setattr(ds_mod, "plan_salts", _boom)
    assert resume_encode(src, tmp, group_cols=["repo", "lang"]) > 0
    monkeypatch.undo()

    a = read_manifest(spark, tmp).select("chunk_id", "column", "enc_bytes", "n_rows")
    b = read_manifest(spark, tmp2).select("chunk_id", "column", "enc_bytes", "n_rows")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # a resume that ADDS groups the sidecar does not cover must fall
    # back to planning those groups (coverage check), not mis-salt them
    more = src.withColumn("lang", F.concat(F.col("lang"), F.lit("_x")))
    assert resume_encode(src.unionAll(more), tmp, group_cols=["repo", "lang"]) > 0
    assert read_decoded(spark, tmp).count() == src.count() * 2


def test_verify_dataset_fsck(spark, src, tmp):
    """verify_dataset: clean dataset passes shallow + deep; a manifest
    row without its chunk (lost file) and a chunk/manifest checksum
    divergence are each counted and flip ok=False; a legacy dataset
    (pre-checksum columns) reports unchecked payloads, not failures."""
    from colcrush.engine import read_chunks, verify_dataset
    from colcrush.engine.dataset import MANIFEST_DIR

    write_encoded(src, tmp, group_cols=["repo", "lang"])
    report = verify_dataset(spark, tmp, deep=True)
    assert report["ok"] and report["keys"] > 0
    assert report["payload_ck_mismatches"] == 0
    assert report["payloads_unchecked"] == 0

    # plant a manifest row whose chunk does not exist (lost chunk file)
    phantom = read_manifest(spark, tmp).limit(1).withColumn(
        "chunk_id", F.lit("phantom-chunk")
    )
    phantom.write.mode("append").parquet(os.path.join(tmp, MANIFEST_DIR))
    report = verify_dataset(spark, tmp)
    assert report["missing_in_chunks"] == 1 and not report["ok"]

    # divergent stored checksums (manifest copy vs chunk copy):
    # rewrite via a temp dir + rename — a cached-DF-over-deleted-files
    # pattern would flake on block eviction
    tmp2 = tmp + "_ck"
    write_encoded(src, tmp2, group_cols=["repo", "lang"])
    chunks_dir = os.path.join(tmp2, "chunks")
    read_chunks(spark, tmp2).withColumn(
        "payload_ck", F.col("payload_ck") + F.lit(1)
    ).write.parquet(chunks_dir + ".new")
    shutil.rmtree(chunks_dir)
    os.rename(chunks_dir + ".new", chunks_dir)
    report = verify_dataset(spark, tmp2, deep=True)
    assert report["metadata_ck_mismatches"] > 0
    assert report["payload_ck_mismatches"] > 0  # bytes no longer match
    assert not report["ok"]

    # legacy dataset: strip the checksum columns everywhere
    tmp3 = tmp + "_legacy"
    write_encoded(src, tmp3, group_cols=["repo", "lang"])
    for sub in ("chunks", "manifest"):
        d = os.path.join(tmp3, sub)
        spark.read.parquet(d).drop("payload_ck").write.parquet(d + ".new")
        shutil.rmtree(d)
        os.rename(d + ".new", d)
    report = verify_dataset(spark, tmp3, deep=True)
    assert report["ok"]
    assert report["payloads_unchecked"] == report["keys"]

    # crashed write: chunks committed, manifest dir never created
    tmp4 = tmp + "_nomanifest"
    write_encoded(src, tmp4, group_cols=["repo", "lang"])
    shutil.rmtree(os.path.join(tmp4, "manifest"))
    report = verify_dataset(spark, tmp4)
    assert report["missing_in_manifest"] == report["keys"] > 0
    assert not report["ok"]


def test_verify_dataset_sampled_scrub(spark, src, tmp):
    """deep=<fraction> scrubs a deterministic xxhash64-selected slice of
    (chunk_id, column) keys: successive scrub_slice values cover
    DISJOINT slices that sum to the whole dataset, and a planted payload
    corruption is caught exactly when its slice is scrubbed — the
    scheduled rolling-scrub pattern a 100 TB store needs (deep=True
    reads every payload byte, too expensive on a schedule)."""
    from colcrush.engine import read_chunks, verify_dataset

    write_encoded(src, tmp, group_cols=["repo", "lang"])
    n_slices = 4  # deep=0.25

    # slice sizes are deterministic and partition the key set
    sizes = {
        k: verify_dataset(spark, tmp, deep=0.25, scrub_slice=k)[
            "payloads_scanned"
        ]
        for k in range(n_slices)
    }
    total = verify_dataset(spark, tmp, deep=True)["payloads_scanned"]
    assert sum(sizes.values()) == total > 0
    assert sizes == {
        k: verify_dataset(spark, tmp, deep=0.25, scrub_slice=k)[
            "payloads_scanned"
        ]
        for k in range(n_slices)
    }
    # scrub_slice wraps modulo n_slices
    assert (
        verify_dataset(spark, tmp, deep=0.25, scrub_slice=n_slices)[
            "payloads_scanned"
        ]
        == sizes[0]
    )

    # plant one corrupted payload; find which slice its key hashes into
    target = read_chunks(spark, tmp).select("chunk_id", "column").first()
    bad_slice = (
        spark.range(1)
        .select(
            F.pmod(
                F.xxhash64(F.lit(target["chunk_id"]), F.lit(target["column"])),
                F.lit(n_slices),
            ).alias("s")
        )
        .first()["s"]
    )
    chunks_dir = os.path.join(tmp, "chunks")
    read_chunks(spark, tmp).withColumn(
        "payload",
        F.when(
            (F.col("chunk_id") == target["chunk_id"])
            & (F.col("column") == target["column"]),
            F.concat(F.col("payload"), F.lit(bytearray(b"\x00"))),
        ).otherwise(F.col("payload")),
    ).write.parquet(chunks_dir + ".new")
    shutil.rmtree(chunks_dir)
    os.rename(chunks_dir + ".new", chunks_dir)

    hit = verify_dataset(spark, tmp, deep=0.25, scrub_slice=bad_slice)
    assert hit["payload_ck_mismatches"] == 1 and not hit["ok"]
    miss = verify_dataset(
        spark, tmp, deep=0.25, scrub_slice=(bad_slice + 1) % n_slices
    )
    assert miss["payload_ck_mismatches"] == 0 and miss["ok"]

    # invalid fractions fail loudly
    with pytest.raises(ValueError, match="fraction"):
        verify_dataset(spark, tmp, deep=1.5)
