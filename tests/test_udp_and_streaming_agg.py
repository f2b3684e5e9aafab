"""UDP-scan contract test + Structured Streaming windowed aggregation."""

from __future__ import annotations

import pyspark.sql.functions as F

from colcrush.engine import write_encoded
from colcrush.engine.scan import scan_udp


def test_scan_udp_contract(spark, tmp_path):
    """parquet4s UDP (UDP.scala:17-51): stats-level canDrop + row-level
    keep. ``chunk_keep`` reads one chunk's stats of ``idx`` and keeps
    only chunks whose range intersects [0, 100); row-keep: even idx."""
    p = str(tmp_path / "ds")
    df = spark.range(4096).select(
        F.col("id").alias("idx"), (F.col("id") % 7).alias("v")
    )
    write_encoded(df, p, range_cols=["idx"], target_chunk_rows=512)

    def chunk_keep(st):
        return st["min_d"] < 100 and st["max_d"] >= 0

    got = scan_udp(
        spark,
        p,
        "idx",
        chunk_keep,
        row_condition=(F.col("idx") % 2 == 0) & (F.col("idx") < 100),
    )
    rows = got.collect()
    assert len(rows) == 50
    assert all(r["idx"] % 2 == 0 and r["idx"] < 100 for r in rows)


def test_scan_udp_inverse_can_drop(spark, tmp_path):
    """NOT-predicate UDP pruning via inverseCanDrop (UDP.scala:37-46):
    a chunk is dropped iff EVERY value matches the original predicate
    (idx < 1000), because no row survives the negation. Soundness =
    full complement returned despite chunks being skipped."""
    from colcrush.engine.dataset import read_manifest

    p = str(tmp_path / "ds")
    df = spark.range(4096).select(
        F.col("id").alias("idx"), (F.col("id") % 7).alias("v")
    )
    write_encoded(df, p, range_cols=["idx"], target_chunk_rows=512)

    def inverse_drop(st):  # every idx in the chunk satisfies idx < 1000
        return st["max_d"] < 1000

    n_droppable = (
        read_manifest(spark, p)
        .where((F.col("column") == "idx") & (F.col("max_d") < 1000))
        .count()
    )
    assert n_droppable >= 1  # pruning has something to do

    got = scan_udp(
        spark,
        p,
        "idx",
        lambda st: False,  # ignored under negation
        row_condition=F.col("idx") < 1000,
        negated=True,
        inverse_chunk_drop=inverse_drop,
    )
    rows = got.collect()
    assert len(rows) == 4096 - 1000
    assert all(r["idx"] >= 1000 for r in rows)

    # without inverse_chunk_drop nothing is pruned but results match
    got2 = scan_udp(
        spark, p, "idx", None,
        row_condition=F.col("idx") < 1000,
        negated=True,
    )
    assert got2.count() == 4096 - 1000


def test_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """Event-time windowed aggregation with late-data watermark —
    beyond the reference's processing-time-only rotation
    (SURVEY.md §2.8), standard Structured Streaming."""
    src = str(tmp_path / "in")
    ev = spark.createDataFrame(
        [
            ("2024-01-01 00:00:30", "a", 1.0),
            ("2024-01-01 00:01:10", "a", 2.0),
            ("2024-01-01 00:00:45", "b", 5.0),
            ("2024-01-01 00:03:20", "a", 3.0),
        ],
        ["ts_s", "k", "v"],
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "k", "v")
    ev.write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"), "k")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = {
        (r["k"], r["window"].start.strftime("%H:%M")): (r["total"], r["n"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert rows[("a", "00:00")] == (1.0, 1)
    assert rows[("a", "00:01")] == (2.0, 1)
    assert rows[("a", "00:03")] == (3.0, 1)
    assert rows[("b", "00:00")] == (5.0, 1)


def test_parquet_stream_source_parallelism(spark, tmp_path):
    """Streaming source parallelism knob (ParquetSource.scala:257-268
    flatMapMerge analog): maxFilesPerTrigger bounds epoch width,
    repartition spreads each micro-batch over N tasks."""
    import os

    from colcrush.streaming.source import parquet_stream_source

    src = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("k"))
    for i in range(4):  # 4 separate files
        df.where(F.col("id") % 4 == i).write.mode("append").parquet(src)

    stream = parquet_stream_source(
        spark, src, df.schema, max_files_per_trigger=2, parallelism=3
    )
    epochs = []
    q = (
        stream.writeStream.foreachBatch(
            lambda b, e: epochs.append((e, b.count(), b.rdd.getNumPartitions()))
        )
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(n for _, n, _ in epochs) == 100
    assert len(epochs) >= 2  # maxFilesPerTrigger split the input
    assert all(p == 3 for _, _, p in epochs)  # parallelism respected
