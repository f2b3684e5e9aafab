"""Physical-plan assertions: the Catalyst behaviors SURVEY.md §4 relies
on must actually appear in the plans (pushdown, pruning, broadcast,
codegen, bounded shuffle count). These are the scale guarantees — a
plan that reads all columns or shuffles twice is a 100 TB bug even if
the small-SF result is right."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from colcrush.engine import encode_table
from colcrush.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    spark = df.sparkSession
    jvm = spark._sc._jvm
    return jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    p = _plan(QUERIES["scan_filtered"](spark, SF))
    assert "PushedFilters" in p
    assert "GreaterThan(l_discount,0.05)" in p


def test_column_pruning(spark):
    p = _plan(QUERIES["scan_projected"](spark, SF))
    # scan must read only the 3 projected columns
    assert "doc_id" in p and "n_chars" in p
    assert "text" not in p, "projection leaked the heavy text column into the scan"


def test_in_filter_pushdown(spark):
    p = _plan(QUERIES["filter_in"](spark, SF))
    assert "In(l_returnflag" in p


def test_joins_are_broadcast(spark):
    for q in ("join_inner", "tpch_q3"):
        p = _plan(QUERIES[q](spark, SF))
        assert "BroadcastHashJoin" in p, f"{q} did not broadcast"


def test_q1_whole_stage_codegen(spark):
    # AQE's unexecuted AdaptiveSparkPlan hides codegen spans; turn it
    # off for the assertion only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = _plan(QUERIES["tpch_q1"](spark, SF))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # formatted mode marks whole-stage-codegen spans with "[codegen id : N]"
    assert "codegen id" in p, p[:1500]


def test_encode_single_shuffle(spark):
    """The DATA path must shuffle exactly once, and read the input
    exactly once. plan_salts collects the tiny size histogram to the
    driver, so its broadcast back (never the data) builds from a
    LocalTableScan, not from a second aggregation over the input or a
    cached copy of one."""

    def data_exchanges(plan: str) -> int:
        # any shuffle of the data, whatever its partitioning prints as:
        # hashpartitioning normally, SinglePartition when the r9
        # bytes-justified sizing gives a tiny input one partition
        return sum(
            1
            for ln in plan.splitlines()
            if "Exchange" in ln and "BroadcastExchange" not in ln
        )

    df = spark.read.parquet(f"{SF}/documents.parquet")
    p = (
        encode_table(df, group_cols=["lang"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # probe side (everything before the broadcast build) = the data
    # path: exactly one exchange moves the data
    data_side, build_side = p.split("BroadcastExchange", 1)
    assert data_exchanges(data_side) == 1, p[:2000]
    assert "LocalTableScan" in build_side, p[:2000]
    assert p.count("documents.parquet") == 1, p[:2000]


def test_salted_encode_splits_mega_group(spark):
    """Skew fix: a dominant group must land in >1 salt (FIXTURES.md F4a)."""
    from colcrush.fixtures import source_code_df

    src = source_code_df(spark, 3000, n_repos=10)
    enc = encode_table(
        src,
        group_cols=["repo"],  # repo-level groups: Zipf head dominates
        target_group_bytes=1 << 20,  # 1 MB -> mega-repo must split
        target_chunk_bytes=1 << 19,
    )
    per_group = (
        enc.where(F.col("column") == "content")
        .groupBy("group_key")
        .agg(F.countDistinct("salt").alias("n_salts"), F.sum("raw_bytes").alias("b"))
        .collect()
    )
    biggest = max(per_group, key=lambda r: r["b"])
    assert biggest["n_salts"] > 1, "mega group was not salted"
    small = [r for r in per_group if r["b"] < (1 << 20)]
    assert all(r["n_salts"] == 1 for r in small), "tiny groups should not salt"


def test_salted_encode_typed_group_keys(spark, tmp_path):
    """The salt plan makes a round trip through the driver (collected,
    then rebuilt as a local table); its keys must still join the input
    when they are not strings. A key that no longer matches falls back
    to 1 salt silently (coalesce(_n_salts, 1)), so the mega-group's
    salt count is the check. A non-UTC session zone makes a shifted
    timestamp key show."""
    from colcrush.engine import read_decoded, write_encoded

    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        # k: 0 = the mega-group (1,200 rows of ~1 KB), NULL = one
        # NULL-key group (40 rows), 1..50 = tiny groups (~15 rows each)
        k = (
            F.when(F.col("id") < 1200, F.lit(0))
            .when(F.col("id") < 1240, F.lit(None))
            .otherwise(F.col("id") % 50 + 1)
        ).cast("int")
        src = spark.range(2000).select(
            "id",
            F.date_add(F.lit("2024-01-01").cast("date"), k).alias("d"),
            (k * F.lit(1.25) + F.lit(0.01)).cast("decimal(12,2)").alias("dec"),
            F.timestamp_micros(
                F.lit(1_700_000_000_123_456) + k * F.lit(3_600_000_000)
            ).alias("ts"),
            F.repeat(F.sha2(F.col("id").cast("string"), 256), 16).alias("body"),
        )
        opts = dict(
            group_cols=["d", "dec", "ts"],
            target_group_bytes=64 << 10,
            target_chunk_bytes=32 << 10,
        )
        per_group = (
            encode_table(src, **opts)
            .where(F.col("column") == "body")
            .groupBy("group_key")
            .agg(
                F.countDistinct("salt").alias("n_salts"),
                F.sum("raw_bytes").alias("b"),
            )
            .collect()
        )
        assert len(per_group) == 52  # mega + NULL + 50 tiny
        biggest = max(per_group, key=lambda r: r["b"])
        assert biggest["n_salts"] > 1, "typed mega-group key missed the plan"
        small = [r for r in per_group if r["b"] < (64 << 10)]
        assert len(small) == 51
        assert all(r["n_salts"] == 1 for r in small), "tiny groups should not salt"

        path = str(tmp_path / "typed")
        write_encoded(src, path, **opts)
        dec = read_decoded(spark, path)
        assert dec.exceptAll(src).count() == 0
        assert src.exceptAll(dec).count() == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_record_filter_no_global_window(spark):
    """record_filter must never funnel the table through one task: the
    window is partitioned by _pid (VERDICT round-1: the unpartitioned
    Window.orderBy forced a single-partition Exchange)."""
    p = _plan(QUERIES["record_filter"](spark, SF))
    assert "Exchange SinglePartition" not in p, "global single-task window"
    assert "Window" in p  # partition-local window still present


def test_encode_with_salt_plan_scans_input_once(spark, tmp_path):
    """Given a salt plan, the encode plan must read the INPUT exactly
    once (the broadcast build side scans the tiny plan, not a second
    histogram aggregation over the input) — the property that keeps a
    resume, which hands the encode the plan it built of its pending
    rows, at two input passes: one to plan, one to encode."""
    import pyspark.sql.functions as F

    from colcrush.engine.encoder import plan_salts

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan_df = plan_salts(df, ["lang"], 16 << 20)
    pq = str(tmp_path / "plan")
    plan_df.write.parquet(pq)
    recorded = spark.read.parquet(pq)
    p = (
        encode_table(df, group_cols=["lang"], salt_plan=recorded,
                     num_partitions=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert p.count("documents.parquet") == 1, p[:2000]
    data_side = p.split("BroadcastExchange")[0]
    assert data_side.count("Exchange hashpartitioning") == 1, p[:2000]


def test_spread_treats_scheme_paths_as_wide(spark, tmp_path, monkeypatch):
    """An s3:// table counts as already wide without any filesystem
    access, so _spread adds no exchange; a local one-row-group table
    still gets its repair exchange."""
    import glob
    import os

    import pyarrow.parquet as pq

    import colcrush.queries as q

    spark.range(100).coalesce(1).write.parquet(str(tmp_path / "t.parquet"))
    local = spark.read.parquet(str(tmp_path / "t.parquet"))
    monkeypatch.setattr(q, "_t", lambda spark, sf_dir, name: local)

    def repartitioned(df):
        return "RepartitionByExpression" in df._jdf.queryExecution().logical().toString()

    assert repartitioned(q._spread(spark, str(tmp_path), "t"))

    def no_fs(*args, **kwargs):
        raise AssertionError("remote path touched the filesystem")

    for mod, name in ((glob, "glob"), (os.path, "isfile"), (pq, "ParquetFile")):
        monkeypatch.setattr(mod, name, no_fs)
    path = "s3://bucket/sf1/t.parquet"
    assert q._scan_parallelism(path) >= spark.sparkContext.defaultParallelism
    assert not repartitioned(q._spread(spark, "s3://bucket/sf1", "t"))
