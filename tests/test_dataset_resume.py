"""Persisted datasets: write/read modes, commit records, resume, scans.

Models parquet4s's IOOps CREATE/OVERWRITE semantics
(/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/IOOps.scala:37-56),
the postWriteHandler checkpoint (ParquetPartitioningFlow.scala:303-316)
and the stats / row-group-skipping layer (stats/FilteredFileStats.scala:129-143)
— re-expressed as chunk-stats-driven DataFrame logic (FIXTURES.md F3/F4).
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyspark.sql.functions as F
import pytest

from colcrush.engine import (
    column_min_max,
    count_rows,
    pruned_chunk_count,
    read_chunks,
    read_decoded,
    read_manifest,
    resume_encode,
    scan,
    write_encoded,
)
from colcrush.engine.scan import scan_udp
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


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_unknown_bloom_column_raises_before_any_job(spark, src, tmp):
    """An unknown bloom column name is checked before the salt plan's
    aggregation: write_encoded raises with no Spark job run and no
    persisted RDD left behind (a leaked one would eat executor storage
    for the session's lifetime)."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())

    def write():
        with pytest.raises(ValueError, match="not in the input"):
            write_encoded(src, tmp, group_cols=["repo", "lang"], bloom=["nope"])

    _, jobs = _jobs(spark, write)
    assert jobs == 0
    leaked = set(sc._jsc.getPersistentRDDs().keySet().toArray()) - before
    assert not leaked
    assert not os.path.exists(tmp)


def test_encode_and_resume_persist_no_salt_plan(spark, src, tmp):
    """The salt plan is a driver-side table, never a persisted
    histogram: encode_table without a plan (the roundtrip queries'
    path) and a resume that plans its pending groups both add no
    persisted RDD to the session."""
    from colcrush.engine import decode_table, encode_table
    from colcrush.engine.dataset import CHUNKS_DIR, COMMIT_FILE

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
    os.remove(os.path.join(tmp, COMMIT_FILE))
    assert resume_encode(src, tmp, group_cols=["repo", "lang"]) > 0
    assert read_decoded(spark, tmp).count() == src.count()
    assert not added()


def _stream_in_three(df, ds):
    """Commit ``df`` to ``ds`` as three stream epochs: the base and two
    commits."""
    from colcrush.streaming.encode_sink import write_batch

    parts = (
        F.col("lang") < "j", (F.col("lang") >= "j") & (F.col("lang") < "m"),
        F.col("lang") >= "m",
    )
    for epoch, part in enumerate(parts):
        write_batch(df.where(part), epoch, ds, ["lang"])


def test_no_write_path_persists(spark, tmp_path, monkeypatch):
    """No write caches its encode output: with DataFrame.persist and
    DataFrame.cache raising, a write, an append, the resumes of a write
    that crashed after its chunk job and of one that crashed before it,
    and a compaction all succeed and verify."""
    from colcrush.engine import compact, verify_dataset
    from colcrush.engine.dataset import CHUNKS_DIR, COMMIT_FILE

    def refuse(self, *args, **kwargs):
        raise AssertionError("a write path persisted a DataFrame")

    groups = ["repo", "lang"]
    df = source_code_df(spark, 400, n_repos=6)
    # the session's DataFrame class (Spark 4's classic DataFrame
    # overrides both methods of pyspark.sql.DataFrame)
    monkeypatch.setattr(type(df), "persist", refuse)
    monkeypatch.setattr(type(df), "cache", refuse)

    def check(p, rows):
        assert read_decoded(spark, p).count() == rows
        assert verify_dataset(spark, p)["ok"]

    ds = str(tmp_path / "ds")
    write_encoded(df, ds, group_cols=groups)
    write_encoded(df, ds, mode="append", group_cols=["lang"])
    check(ds, 800)

    crashed = str(tmp_path / "crashed")
    write_encoded(df, crashed, group_cols=groups)
    os.remove(os.path.join(crashed, COMMIT_FILE))
    assert resume_encode(df, crashed, group_cols=groups) == 0
    check(crashed, 400)
    shutil.rmtree(os.path.join(crashed, CHUNKS_DIR))
    os.remove(os.path.join(crashed, COMMIT_FILE))
    assert resume_encode(df, crashed, group_cols=groups) > 0
    check(crashed, 400)

    streamed = str(tmp_path / "streamed")
    _stream_in_three(df, streamed)
    assert compact(spark, streamed) == 2
    check(streamed, 400)


# Spark jobs one grouped write_encoded of the input below runs under
# the test session. Building a chunk->file map, recording the salt plan
# or copying the chunk rows into a manifest would add one more each.
WRITE_ENCODED_JOBS = 5


def test_write_encoded_job_count_and_no_file_map(spark, tmp_path):
    """A grouped write runs a pinned number of Spark jobs and no write,
    append, overwrite or compaction leaves a file_map/, salt_plan/ or
    manifest/ dir behind."""
    from colcrush.engine import compact

    df = source_code_df(spark, 400, n_repos=6)
    ds = str(tmp_path / "ds")
    _, jobs = _jobs(spark, lambda: write_encoded(df, ds, group_cols=["repo", "lang"]))
    assert jobs == WRITE_ENCODED_JOBS

    def no_sidecar(p):
        return not any(
            os.path.exists(os.path.join(r, d))
            for r, _, _ in os.walk(p)
            for d in ("file_map", "salt_plan", "manifest")
        )

    assert no_sidecar(ds)
    write_encoded(df, ds, mode="append", group_cols=["lang"])
    assert no_sidecar(ds)
    write_encoded(df, ds, mode="overwrite", group_cols=["repo", "lang"])
    assert no_sidecar(ds)

    streamed = str(tmp_path / "streamed")
    _stream_in_three(df, streamed)
    assert compact(spark, streamed) == 2
    assert no_sidecar(streamed)
    assert read_decoded(spark, streamed).count() == 400


def test_scan_lookup_is_one_job_without_exchange(spark, tmp_path):
    """An equality scan on a local dataset is one Spark job: the decode
    worker prunes chunks from the stats their rows carry, so the plan
    reads no manifest/ and has no exchange. scan_udp runs the same
    plan."""
    sc = spark.sparkContext
    df = source_code_df(spark, 400, n_repos=6)
    ds = str(tmp_path / "ds")
    write_encoded(df, ds, group_cols=["repo", "lang"])
    key = df.orderBy("path").first()["path"]
    got = scan(spark, ds, columns=["path", "lang"], filters=[("path", "==", key)])
    group = "scan-lookup-job-count"
    sc.setJobGroup(group, "one equality scan")
    try:
        rows = got.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "manifest" not in plan, plan
    want = df.where(F.col("path") == key).select("path", "lang").collect()
    assert sorted(rows) == sorted(want) and rows

    # a user-defined predicate runs the same plan: its stats callable
    # prunes in the decode worker
    cond = F.col("path") == key
    got = scan_udp(
        spark, ds, "path",
        lambda st: st["min_s"] is None or st["max_s"] is None
        or st["min_s"] <= key <= st["max_s"],
        cond, ["path", "lang"],
    )
    group = "scan-udp-job-count"
    sc.setJobGroup(group, "one user-defined-predicate scan")
    try:
        rows = got.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "manifest" not in plan, plan
    want = read_decoded(spark, ds).where(cond).select("path", "lang").collect()
    assert sorted(rows) == sorted(want) and rows


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
    """A write that crashed after its chunk job, before its commit
    record, is committed by a resume with nothing left to encode."""
    from colcrush.engine.dataset import COMMIT_FILE

    write_encoded(src, tmp, group_cols=["repo", "lang"])
    os.remove(os.path.join(tmp, COMMIT_FILE))
    assert resume_encode(src, tmp, group_cols=["repo", "lang"]) == 0
    assert os.path.exists(os.path.join(tmp, COMMIT_FILE))
    dec = read_decoded(spark, tmp)
    assert dec.count() == src.count()


def _crash_before_commit(monkeypatch):
    """Make every commit record write raise: a write then dies after
    its chunk job, before its commit."""
    from colcrush.engine import fsio
    from colcrush.engine.dataset import COMMIT_FILE

    write_text_atomic = fsio.write_text_atomic

    def crashing(path, content):
        if path.endswith(COMMIT_FILE):
            raise RuntimeError("simulated crash before the commit record")
        return write_text_atomic(path, content)

    monkeypatch.setattr(fsio, "write_text_atomic", crashing)


def test_crashed_append_is_invisible_until_rerun(spark, tmp_path, monkeypatch):
    """An append that crashed before its commit record leaves a commit
    dir that never committed: read_decoded, count_rows and
    scan see none of its rows. Re-running the same append replaces that
    attempt and commits the rows once, grouped and ungrouped; so does a
    resume, whose pending groups here are the crashed append's."""
    from colcrush.engine import verify_dataset

    src = source_code_df(spark, 400, n_repos=6).cache()
    first, rest = src.where(F.col("lang") < "j"), src.where(F.col("lang") >= "j")
    n_first = first.count()
    assert 0 < n_first < 400
    key = rest.orderBy("path").first()["path"]
    cases = ((["repo", "lang"], "rerun"), ([], "rerun"), (["repo", "lang"], "resume"))
    for i, (groups, recovery) in enumerate(cases):
        ds = str(tmp_path / f"ds{i}")
        write_encoded(first, ds, group_cols=groups)

        def append():
            write_encoded(rest, ds, mode="append", group_cols=groups)

        with monkeypatch.context() as m:
            _crash_before_commit(m)
            with pytest.raises(RuntimeError, match="simulated crash"):
                append()
        assert count_rows(spark, ds) == n_first
        assert read_decoded(spark, ds).count() == n_first
        assert scan(spark, ds, filters=[("path", "==", key)]).count() == 0

        if recovery == "rerun":
            append()
        else:
            assert resume_encode(src, ds, group_cols=groups) > 0
        assert _same_rows(read_decoded(spark, ds), src)
        assert count_rows(spark, ds) == 400
        assert scan(spark, ds, filters=[("path", "==", key)]).count() == 1
        assert verify_dataset(spark, ds)["ok"]
        assert resume_encode(src, ds, group_cols=groups) == 0


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
            for r in read_chunks(spark, p)
            .select("chunk_id", "column", "payload")
            .collect()
        )

    assert payloads(tmp) == payloads(tmp2)


def test_null_keyed_group_takes_its_planned_salts(spark, tmp):
    """A NULL group key joins the salt plan by null-safe equality: a
    skewed NULL group is split across the salts the plan gives it, not
    encoded in one task, and its chunks are byte-identical at N and 4N
    partitions and after a crash resume, whose anti-join compares the
    key group_key_expr renders as [null]."""
    from colcrush.engine import plan_salts

    rows = spark.range(8000).select(
        F.when(F.col("id") % 2 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("k")).alias("g"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
        F.col("id"),
    )
    kw = dict(group_cols=["g"], target_group_bytes=32 << 10)
    salts = dict(plan_salts(rows, ["g"], 32 << 10).select("g", "_n_salts").collect())
    assert salts[None] > 1 and salts["k"] > 1

    def payloads(p):
        return sorted(
            (r["group_key"], r["chunk_id"], r["column"], bytes(r["payload"]))
            for r in read_chunks(spark, p).collect()
        )

    write_encoded(rows, tmp, num_partitions=4, **kw)
    got = payloads(tmp)
    chunks = {}
    for key, chunk_id, column, _ in got:
        if column == "v":
            chunks.setdefault(key, set()).add(chunk_id)
    assert len(chunks["[null]"]) >= salts[None]
    assert len(chunks['["k"]']) >= salts["k"]

    wide = tmp + "_4n"
    write_encoded(rows, wide, num_partitions=16, **kw)
    assert payloads(wide) == got

    resumed = tmp + "_resumed"
    write_encoded(rows.where(F.col("g").isNotNull()), resumed, num_partitions=4, **kw)
    assert resume_encode(rows, resumed, num_partitions=16, **kw) == 1
    assert payloads(resumed) == got


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


def test_range_encode_sizes_from_bytes(spark, tmp):
    """A range encode takes its partition count from the input bytes,
    not the core count: 8,192 rows of 16 bytes fit one range partition,
    so 512-row chunks make exactly 16 at any width."""
    sdf = spark.range(8192).select(
        F.col("id").alias("idx"), (F.col("id") * 7).alias("v")
    )
    write_encoded(sdf, tmp, range_cols=["idx"], target_chunk_rows=512)
    assert read_manifest(spark, tmp).select("chunk_id").distinct().count() == 16


def test_group_and_range_cols_are_exclusive(spark, tmp_path):
    """Passing both layouts raises a ValueError naming both, before any
    Spark job runs, from every encode entry point."""
    from colcrush.engine import encode_table

    sc = spark.sparkContext
    df = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("r"))
    p = str(tmp_path / "both")
    group = "group-and-range-cols"
    sc.setJobGroup(group, "encode with both layouts")
    try:
        for call in (
            lambda: encode_table(df, group_cols=["k"], range_cols=["r"]),
            lambda: write_encoded(df, p, group_cols=["k"], range_cols=["r"]),
            lambda: resume_encode(df, p, ["k"], range_cols=["r"]),
        ):
            with pytest.raises(ValueError, match=r"group_cols.*'k'.*range_cols.*'r'"):
                call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert not os.path.exists(p)


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


def _jobs_and_plans(spark, monkeypatch, fn):
    """``fn()``'s result, the number of Spark jobs it ran (statusTracker
    job group) and the physical plans of the DataFrames it collected."""
    plans = []
    frame = type(spark.range(0))  # the session's concrete DataFrame class
    collect = frame.collect

    def recording_collect(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return collect(df)

    with monkeypatch.context() as m:
        m.setattr(frame, "collect", recording_collect)
        out, jobs = _jobs(spark, fn)
    return out, jobs, plans


def test_filtered_min_max_early_termination(spark, tmp_path, monkeypatch):
    """FilteredFileStats analog (stats/FilteredFileStats.scala:129-143):
    on range-sorted chunks a filtered min/max is ONE filtered scan
    whose worker decodes only the chunks the stats keep, at most 2
    Spark jobs with no chunk_id exchange, and equals the full filtered
    aggregate. column_min_max on the integer column returns ints."""
    from colcrush.engine import filtered_min_max

    p = str(tmp_path / "fmm")
    sdf = spark.range(8192).select(
        F.col("id").alias("idx"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    write_encoded(sdf, p, range_cols=["idx"], target_chunk_rows=512)
    filters = [("idx", ">=", 1000), ("idx", "<", 7000)]
    (mn, mx), jobs, plans = _jobs_and_plans(
        spark, monkeypatch, lambda: filtered_min_max(spark, p, "idx", filters)
    )
    assert (mn, mx) == (1000, 6999)
    assert jobs <= 2, jobs
    assert plans and not any("Exchange hashpartitioning(chunk_id" in x for x in plans)
    alive, total = pruned_chunk_count(spark, p, filters)
    assert alive < total, "skipping had work to skip"

    # unsorted chunks on the aggregated column still give exact answers
    mn2, mx2 = filtered_min_max(
        spark, p, "v", [("idx", ">=", 1000), ("idx", "<", 1100)]
    )
    want = (
        sdf.where((F.col("idx") >= 1000) & (F.col("idx") < 1100))
        .agg(F.min("v"), F.max("v"))
        .collect()[0]
    )
    assert (mn2, mx2) == (want[0], want[1])

    # actual values of the column's type, not the double stats
    mn3, mx3 = column_min_max(spark, p, "idx")
    assert (mn3, mx3) == (0, 8191) and type(mn3) is int and type(mx3) is int


def test_column_min_max_long_strings_one_pruned_scan(spark, tmp_path, monkeypatch):
    """Truncated (>= 64-char) string stats are bounds, so column_min_max
    decodes the chunks that could beat the exact stats — through one
    pruned scan (at most 6 Spark jobs in all, no chunk_id exchange)."""
    rows = [(i, ("m" if i % 3 else "c") * 70 + f"{i:04d}") for i in range(2048)]
    # chunks of short strings: exact stats, which the long extremes beat
    rows += [(i, ("d" if i % 2 else "l") + f"{i:04d}") for i in range(2048, 2304)]
    df = spark.createDataFrame(rows, "i long, s string")
    p = str(tmp_path / "long")
    write_encoded(df, p, range_cols=["i"], target_chunk_rows=128)
    got, jobs, plans = _jobs_and_plans(
        spark, monkeypatch, lambda: column_min_max(spark, p, "s")
    )
    want = df.agg(F.min("s"), F.max("s")).first()
    assert got == (want[0], want[1])
    assert got[0].startswith("c" * 70) and got[1].startswith("m" * 70)
    assert jobs <= 6, jobs
    assert plans and not any("Exchange hashpartitioning(chunk_id" in x for x in plans)


# Spark jobs a resume of a write that crashed before its chunks landed
# (no chunks/, no commit record) runs under the test session: the plan of
# its pending groups, then write_encoded's jobs on that plan. A pass
# that only counts the pending groups would add jobs.
RESUME_JOBS = 5


def _chunk_rows(spark, p):
    return read_manifest(spark, p).select(
        "chunk_id", "column", "enc_bytes", "payload_ck"
    )


def _same_rows(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_resume_replans_pending_groups(spark, src, tmp):
    """A resume plans the salts of its pending groups from the pending
    rows, in the pass that finds them: a crashed write resumes in a
    pinned number of Spark jobs to chunks byte-identical to an
    uncrashed write. No write records a plan, and a ``salt_plan/`` dir
    left by an earlier revision is ignored, wrong salts and all."""
    from colcrush.engine.dataset import CHUNKS_DIR, COMMIT_FILE

    groups = ["repo", "lang"]
    full = tmp + "_full"
    write_encoded(src, full, group_cols=groups)
    write_encoded(src, tmp, group_cols=groups)
    # simulate the crash window: the chunk job died mid-write (no
    # chunks, no record)
    shutil.rmtree(os.path.join(tmp, CHUNKS_DIR))
    os.remove(os.path.join(tmp, COMMIT_FILE))
    # an earlier revision's plan, every group salted 7 ways
    src.groupBy(*groups).agg(
        F.lit(1 << 30).cast("long").alias("_grp_bytes"),
        F.lit(7).alias("_n_salts"),
    ).write.parquet(os.path.join(tmp, "salt_plan"))

    n, jobs = _jobs(spark, lambda: resume_encode(src, tmp, group_cols=groups))
    assert n == src.select(*groups).distinct().count()
    assert jobs == RESUME_JOBS
    assert _same_rows(_chunk_rows(spark, tmp), _chunk_rows(spark, full))
    assert resume_encode(src, tmp, group_cols=groups) == 0
    assert not os.path.exists(os.path.join(full, "salt_plan"))

    # a resume that ADDS groups plans them with the rest of its pending
    # rows
    more = src.withColumn("lang", F.concat(F.col("lang"), F.lit("_x")))
    assert resume_encode(src.unionAll(more), tmp, group_cols=groups) > 0
    assert read_decoded(spark, tmp).count() == src.count() * 2


def test_ungrouped_resume_after_crash_byte_identical(spark, src, tmp):
    """An ungrouped write that crashed before its chunks landed resumes
    to chunks byte-identical to an uncrashed write, and a second resume
    finds nothing missing: the empty pending input plans no group."""
    from colcrush.engine.dataset import CHUNKS_DIR, COMMIT_FILE

    full = tmp + "_full"
    write_encoded(src, full)
    write_encoded(src, tmp)
    shutil.rmtree(os.path.join(tmp, CHUNKS_DIR))
    os.remove(os.path.join(tmp, COMMIT_FILE))
    assert resume_encode(src, tmp, group_cols=[]) == 1
    assert _same_rows(_chunk_rows(spark, tmp), _chunk_rows(spark, full))
    assert resume_encode(src, tmp, group_cols=[]) == 0
    assert count_rows(spark, tmp) == src.count()


def test_verify_dataset_fsck(spark, src, tmp):
    """verify_dataset: a clean dataset passes shallow + deep; a listed
    part file that is gone or rewritten counts as missing, a part file
    no record names as unlisted, and a payload whose bytes no longer
    match its stored checksum as a mismatch, each flipping ok=False; a
    legacy dataset (pre-checksum columns) reports unchecked payloads,
    not failures."""
    from colcrush.engine import read_chunks, verify_dataset
    from colcrush.engine.dataset import CHUNKS_DIR, COMMIT_FILE, _write_record

    write_encoded(src, tmp, group_cols=["repo", "lang"])
    report = verify_dataset(spark, tmp, deep=True)
    assert report["ok"] and report["keys"] > 0
    assert report["missing_files"] == report["unlisted_files"] == 0
    assert report["payload_ck_mismatches"] == 0
    assert report["payloads_unchecked"] == 0

    # corrupt stored checksums: the chunk files rewritten (a rewrite
    # renames them, so the old record misses them all and names none of
    # the new ones), then re-recorded, which leaves only the scrub's
    # finding. A temp dir + rename: a cached-DF-over-deleted-files
    # pattern would flake on block eviction
    tmp2 = tmp + "_ck"
    write_encoded(src, tmp2, group_cols=["repo", "lang"])
    chunks_dir = os.path.join(tmp2, CHUNKS_DIR)
    n_files = len([f for f in os.listdir(chunks_dir) if f.endswith(".parquet")])
    read_chunks(spark, tmp2).withColumn(
        "payload_ck", F.col("payload_ck") + F.lit(1)
    ).repartition(1).write.parquet(chunks_dir + ".new")
    shutil.rmtree(chunks_dir)
    os.rename(chunks_dir + ".new", chunks_dir)
    report = verify_dataset(spark, tmp2)
    assert report["missing_files"] == n_files
    assert report["unlisted_files"] == 1 and not report["ok"]
    _write_record(tmp2)
    report = verify_dataset(spark, tmp2, deep=True)
    assert report["missing_files"] == report["unlisted_files"] == 0
    assert report["payload_ck_mismatches"] > 0  # bytes no longer match
    assert not report["ok"]

    # legacy dataset: strip the checksum column from the chunk files
    tmp3 = tmp + "_legacy"
    write_encoded(src, tmp3, group_cols=["repo", "lang"])
    d = os.path.join(tmp3, CHUNKS_DIR)
    spark.read.parquet(d).drop("payload_ck").write.parquet(d + ".new")
    shutil.rmtree(d)
    os.rename(d + ".new", d)
    _write_record(tmp3)
    report = verify_dataset(spark, tmp3, deep=True)
    assert report["ok"]
    assert report["payloads_unchecked"] == report["keys"]

    # crashed write: chunks written, no record
    tmp4 = tmp + "_uncommitted"
    write_encoded(src, tmp4, group_cols=["repo", "lang"])
    os.remove(os.path.join(tmp4, COMMIT_FILE))
    report = verify_dataset(spark, tmp4)
    assert report["unlisted_files"] > 0 and report["missing_files"] == 0
    assert not report["ok"]


def _listings(monkeypatch):
    """A list that grows by one path per fsio.list_files call."""
    from colcrush.engine import fsio

    calls = []
    list_files = fsio.list_files

    def counting(path):
        calls.append(path)
        return list_files(path)

    monkeypatch.setattr(fsio, "list_files", counting)
    return calls


def test_reads_list_no_chunk_dir(spark, tmp_path, monkeypatch):
    """The fused reader bins the part files the commit records name:
    read_decoded, scan and pruned_chunk_count on a base plus an
    appended commit list no chunk dir."""
    src = source_code_df(spark, 400, n_repos=6).cache()
    ds = str(tmp_path / "ds")
    write_encoded(src.where(F.col("path") < "m"), ds, group_cols=["repo", "lang"])
    write_encoded(
        src.where(F.col("path") >= "m"), ds, mode="append",
        group_cols=["repo", "lang"],
    )
    key = src.orderBy("path").first()["path"]
    calls = _listings(monkeypatch)
    assert _same_rows(read_decoded(spark, ds), src)
    assert scan(spark, ds, filters=[("path", "==", key)]).count() == 1
    surviving, total = pruned_chunk_count(spark, ds, [("path", "==", key)])
    assert 0 < surviving < total
    assert calls == []


def test_lost_and_stray_part_files(spark, tmp_path):
    """A listed part file that is gone fails the fused read, which
    names the file, and counts as missing; a stray part file in a
    committed chunk dir is never read and counts as unlisted."""
    from colcrush.engine import verify_dataset
    from colcrush.engine.dataset import CHUNKS_DIR

    src = source_code_df(spark, 400, n_repos=6)
    ds = str(tmp_path / "ds")
    write_encoded(src, ds, group_cols=["repo", "lang"], num_partitions=2)
    chunks = os.path.join(ds, CHUNKS_DIR)
    parts = sorted(f for f in os.listdir(chunks) if f.endswith(".parquet"))
    assert len(parts) == 2

    stray = os.path.join(chunks, "part-99999-stray.parquet")
    shutil.copy(os.path.join(chunks, parts[0]), stray)
    report = verify_dataset(spark, ds)
    assert report["unlisted_files"] == 1 and report["missing_files"] == 0
    assert not report["ok"]
    assert read_decoded(spark, ds).count() == 400
    os.remove(stray)

    os.remove(os.path.join(chunks, parts[0]))
    with pytest.raises(Exception, match=parts[0]):
        read_decoded(spark, ds).count()
    report = verify_dataset(spark, ds)
    assert report["missing_files"] == 1 and report["unlisted_files"] == 0
    assert not report["ok"]


def _as_legacy(spark, ds):
    """Turn the record-committed base at ``ds`` into an earlier
    revision's commit: its chunk rows less payload in manifest/ (with
    Spark's _SUCCESS), no record."""
    from colcrush.engine.dataset import CHUNKS_DIR, COMMIT_FILE, MANIFEST_DIR
    from colcrush.engine.encoder import MANIFEST_DDL

    chunks = spark.read.schema(MANIFEST_DDL).parquet(os.path.join(ds, CHUNKS_DIR))
    chunks.write.parquet(os.path.join(ds, MANIFEST_DIR))
    os.remove(os.path.join(ds, COMMIT_FILE))


def test_legacy_manifest_dataset(spark, tmp_path):
    """A dataset an earlier revision committed (manifest/_SUCCESS, the
    chunk rows without payload in manifest/, no record) reads, counts,
    verifies, resumes and takes an append, which commits with a
    record."""
    from colcrush.engine import verify_dataset
    from colcrush.engine.dataset import COMMIT_FILE, MANIFEST_DIR

    src = source_code_df(spark, 400, n_repos=6).cache()
    first, rest = src.where(F.col("path") < "m"), src.where(F.col("path") >= "m")
    ds = str(tmp_path / "ds")
    write_encoded(first, ds, group_cols=["repo", "lang"])
    _as_legacy(spark, ds)

    assert _same_rows(read_decoded(spark, ds), first)
    assert count_rows(spark, ds) == first.count()
    report = verify_dataset(spark, ds, deep=True)
    assert report["ok"] and report["missing_files"] == report["unlisted_files"] == 0
    assert resume_encode(first, ds, group_cols=["repo", "lang"]) == 0

    write_encoded(rest, ds, mode="append", group_cols=["repo", "lang"])
    assert os.path.exists(os.path.join(ds, "commit=00000001", COMMIT_FILE))
    assert os.path.exists(os.path.join(ds, MANIFEST_DIR, "_SUCCESS"))
    assert _same_rows(read_decoded(spark, ds), src)
    assert count_rows(spark, ds) == 400
    assert verify_dataset(spark, ds)["ok"]


def test_verify_dataset_sampled_scrub(spark, src, tmp):
    """deep=<fraction> scrubs a deterministic xxhash64-selected slice of
    (chunk_id, column) keys: successive scrub_slice values cover
    DISJOINT slices that sum to the whole dataset, and a planted payload
    corruption is caught exactly when its slice is scrubbed — the
    scheduled rolling-scrub pattern a 100 TB store needs (deep=True
    reads every payload byte, too expensive on a schedule)."""
    from colcrush.engine import read_chunks, verify_dataset
    from colcrush.engine.dataset import _write_record

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
    _write_record(tmp)  # the rewrite renamed the part files

    hit = verify_dataset(spark, tmp, deep=0.25, scrub_slice=bad_slice)
    assert hit["payload_ck_mismatches"] == 1 and not hit["ok"]
    miss = verify_dataset(
        spark, tmp, deep=0.25, scrub_slice=(bad_slice + 1) % n_slices
    )
    assert miss["payload_ck_mismatches"] == 0 and miss["ok"]

    # invalid fractions fail loudly
    with pytest.raises(ValueError, match="fraction"):
        verify_dataset(spark, tmp, deep=1.5)
