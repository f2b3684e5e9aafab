"""End-to-end Spark encode/decode round trips.

Models the reference's write->read compatibility suite
(/root/reference/core/src/it/scala/com/github/mjakubowski84/parquet4s/ParquetWriterAndParquetReaderCompatibilityItSpec.scala:19-31):
every row must come back byte-identical; the per-row invariant from
BASELINE.json input_hint is sha256(content) equality.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from colcrush.engine import decode_table, encode_table
from colcrush.fixtures import source_code_df

N_ROWS = 2000


@pytest.fixture(scope="module")
def src(spark):
    df = source_code_df(spark, N_ROWS, n_repos=20).cache()
    df.count()
    return df


def _assert_same_rows(a, b, cols):
    a, b = a.select(*cols), b.select(*cols)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_roundtrip_grouped(spark, src):
    enc = encode_table(src, group_cols=["repo", "lang"], target_chunk_rows=256)
    dec = decode_table(enc, src.schema)
    _assert_same_rows(src, dec, src.columns)


def test_roundtrip_sha256_invariant(spark, src):
    enc = encode_table(src, group_cols=["repo", "lang"])
    dec = decode_table(enc, src.schema)
    want = src.select(F.sha2(F.col("content"), 256).alias("h"))
    got = dec.select(F.sha2(F.col("content"), 256).alias("h"))
    assert want.exceptAll(got).count() == 0
    assert got.exceptAll(want).count() == 0


def test_archive_profile_engine_roundtrip(spark, src):
    """profile='archive' through the full engine: zstd entropy layer
    over the lightweight codecs (compressionCodecName analog —
    ParquetWriter.scala:79,92). Bytes strictly smaller than balanced on
    the source-code fixture, content sha-identical after decode, and
    the wrap visible in the manifest codec names."""
    bal = encode_table(src, group_cols=["repo", "lang"])
    arc = encode_table(src, group_cols=["repo", "lang"], profile="archive")
    b_bytes = bal.agg(F.sum("enc_bytes")).collect()[0][0]
    a = arc.cache()
    try:
        a_bytes = a.agg(F.sum("enc_bytes")).collect()[0][0]
        assert a_bytes < b_bytes
        assert a.where(F.col("codec").endswith("+zstd")).count() > 0
        dec = decode_table(a, src.schema, assume_colocated=True)
        want = src.select(F.sha2(F.col("content"), 256).alias("h"))
        got = dec.select(F.sha2(F.col("content"), 256).alias("h"))
        assert want.exceptAll(got).count() == 0
        assert got.exceptAll(want).count() == 0
    finally:
        a.unpersist()


def test_roundtrip_ungrouped(spark, src):
    enc = encode_table(src.select("path", "content"))
    dec = decode_table(enc, src.select("path", "content").schema)
    _assert_same_rows(src.select("path", "content"), dec, ["path", "content"])


def test_projected_decode_reads_fewer_payloads(spark, src):
    enc = encode_table(src, group_cols=["repo", "lang"]).cache()
    try:
        dec = decode_table(enc, src.schema, columns=["repo", "lang"])
        assert dec.columns == ["repo", "lang"]
        _assert_same_rows(src.select("repo", "lang"), dec, ["repo", "lang"])
    finally:
        enc.unpersist()


def test_manifest_lineage_counts(spark, src):
    enc = encode_table(src, group_cols=["repo", "lang"]).cache()
    try:
        per_col = enc.groupBy("column").agg(F.sum("n_rows").alias("rows"))
        rows = {r["column"]: r["rows"] for r in per_col.collect()}
        assert set(rows) == set(src.columns)
        assert all(v == N_ROWS for v in rows.values())
        # raw_bytes lineage for content matches the source byte count
        raw = enc.where(F.col("column") == "content").agg(
            F.sum("raw_bytes")
        ).collect()[0][0]
        want = src.agg(F.sum(F.octet_length("content"))).collect()[0][0]
        assert raw == want
    finally:
        enc.unpersist()


def test_chunk_determinism_across_parallelism(spark, src):
    """north_rule: chunk ids/boundaries must not depend on the
    partition count (N vs 4N executors produce identical chunks)."""
    a = encode_table(src, group_cols=["repo", "lang"], num_partitions=4)
    b = encode_table(src, group_cols=["repo", "lang"], num_partitions=16)
    sig = lambda e: e.select("chunk_id", "column", "codec", "n_rows", "enc_bytes")
    assert sig(a).exceptAll(sig(b)).count() == 0
    assert sig(b).exceptAll(sig(a)).count() == 0


def test_compression_beats_raw(spark, src):
    enc = encode_table(src, group_cols=["repo", "lang"])
    agg = enc.agg(
        F.sum("enc_bytes").alias("enc"), F.sum("raw_bytes").alias("raw")
    ).collect()[0]
    assert agg["enc"] < agg["raw"] * 0.6, f"ratio too weak: {agg}"


def test_engine_roundtrip_nested_columns(spark, tmp_path):
    """End-to-end: a table with array/map/struct columns encodes with
    the nested codecs (manifest proves codec != ipc for the array) and
    decodes exactly through the full dataset path."""
    from colcrush.engine import read_decoded, read_manifest, write_encoded

    p = str(tmp_path / "nested_ds")
    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1)], {"k": str(i)}, (i, f"s{i}"))
         for i in range(200)],
        "id long, emb array<double>, props map<string,string>, "
        "rec struct<a: long, b: string>",
    )
    write_encoded(df, p, target_chunk_rows=64)
    m = {r["column"]: r["codec"]
         for r in read_manifest(spark, p).select("column", "codec").collect()}
    assert m["emb"] == "list" and m["rec"] == "struct" and m["props"] == "map"
    got = read_decoded(spark, p)
    assert got.count() == 200

    # Spark refuses set ops on MAP columns — compare canonical rows
    def canon(frame):
        return sorted(
            (r["id"], tuple(r["emb"]), tuple(sorted(r["props"].items())),
             (r["rec"]["a"], r["rec"]["b"]))
            for r in frame.collect()
        )

    assert canon(got) == canon(df)


def test_decimal38_roundtrip_and_rescale_on_read(spark, tmp_path):
    """The reference's DEFAULT decimal format DecimalType(38,18)
    (/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/DecimalFormat.scala:21-26)
    rides the dec128 lightweight codec (never IPC), and rescaleOnRead
    (DecimalFormat.scala:80-83) reads a stored decimal at a different
    format with HALF_UP rounding at both the MathContext and setScale
    steps."""
    import decimal

    import pytest

    from colcrush.engine import (
        read_chunks,
        read_decoded,
        read_manifest,
        read_schema,
        write_encoded,
    )

    D = decimal.Decimal
    df = spark.createDataFrame(
        [(i, D(i * 7 % 1000) / 100) for i in range(2000)]
        + [(2000, D("1.995")), (2001, D("-1.995")), (2002, None)],
        "id long, amount decimal(38,18)",
    )
    path = str(tmp_path / "ds")
    write_encoded(df, path, mode="overwrite", group_cols=[])
    m = read_manifest(spark, path)
    codecs = {r["column"]: r["codec"] for r in m.collect()}
    assert codecs["amount"] == "dec128"

    back = read_decoded(spark, path)
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0

    # rescale to (12,2): exact for the money rows, HALF_UP on 1.995
    fmt = {"amount": (12, 2)}
    got = {
        r["id"]: r["amount"]
        for r in read_decoded(spark, path, decimal_formats=fmt).collect()
    }
    # the fused read and the exchange plan rescale identically
    ref = decode_table(
        read_chunks(spark, path), read_schema(path), decimal_formats=fmt
    )
    assert got == {r["id"]: r["amount"] for r in ref.collect()}
    assert got[0] == D("0.00") and got[7] == D("0.49")
    assert got[2000] == D("2.00")   # HALF_UP, not banker's
    assert got[2001] == D("-2.00")  # HALF_UP away from zero
    assert got[2002] is None

    # widening rescale is exact
    wide = read_decoded(spark, path, decimal_formats={"amount": (38, 20)})
    assert wide.schema["amount"].dataType.simpleString() == "decimal(38,20)"
    assert wide.where(F.col("id") == 7).collect()[0]["amount"] == D("0.49")

    # precision overflow: Java BigDecimal silently exceeds the declared
    # precision (123.5 -> setScale(2) -> 123.50, 5 digits in a (4,2));
    # a typed column cannot, so the engine raises instead (pinned
    # divergence from the reference)
    df2 = spark.createDataFrame(
        [(1, D("123.456"))], "id long, amount decimal(38,18)"
    )
    p2 = str(tmp_path / "ds2")
    write_encoded(df2, p2, mode="overwrite", group_cols=[])
    with pytest.raises(Exception, match="overflow"):
        read_decoded(spark, p2, decimal_formats={"amount": (4, 2)}).collect()

    # non-decimal column refused loudly
    with pytest.raises(ValueError, match="not a decimal"):
        read_decoded(spark, path, decimal_formats={"id": (12, 2)})


def test_map_only_sort_cols_raise_loudly(spark):
    """Spark's xxhash64 rejects MAP columns, so a map-only sort set has
    no deterministic sort key — chunk bytes would silently depend on
    arrival order, breaking resume/N-vs-4N identity. The encoder must
    refuse unless the caller opts into unstable order explicitly."""
    df = spark.createDataFrame(
        [(1, {"a": 1}), (2, {"b": 2})], "k long, m map<string,long>"
    )
    with pytest.raises(ValueError, match="MAP-typed"):
        encode_table(df, group_cols=["k"], sort_cols=["m"])
    # escape hatch still round-trips
    enc = encode_table(
        df, group_cols=["k"], sort_cols=["m"], unstable_order_ok=True
    )
    from colcrush.engine import decode_table as _dt

    dec = _dt(enc, df.schema, assume_colocated=True)
    assert dec.count() == 2


def test_rescale_decimal_widening_fast_path():
    """precision>=old and scale>=old cannot round, so
    rescale_decimal128 takes a vectorized arrow cast (review finding:
    the decode hot path ran per-value Python decimal ops even for exact
    widenings). The
    fast path must agree with HALF_UP semantics (trivially: exactness)
    and overflow must still raise ValueError."""
    import decimal as dec

    import pyarrow as pa

    from colcrush.codecs.dec_rescale import rescale_decimal128

    vals = [dec.Decimal("1234567.89"), dec.Decimal("-0.01"), None,
            dec.Decimal("99999999.99")]
    arr = pa.array(vals, type=pa.decimal128(10, 2))

    out = rescale_decimal128(arr, 12, 4)
    assert out.type == pa.decimal128(12, 4)
    assert out.to_pylist() == [
        dec.Decimal("1234567.8900"), dec.Decimal("-0.0100"), None,
        dec.Decimal("99999999.9900")]

    # to the Spark/parquet4s default format
    wide = rescale_decimal128(arr, 38, 18)
    assert wide.type == pa.decimal128(38, 18)
    assert wide.to_pylist()[0] == dec.Decimal("1234567.89").scaleb(0)

    # widening scale but NOT precision enough: integer digits overflow
    import pytest
    with pytest.raises(ValueError):
        rescale_decimal128(arr, 11, 4)  # 8 int digits + 4 > 11

    # narrowing still rounds HALF_UP via the slow path
    nar = rescale_decimal128(arr, 10, 1)
    assert nar.to_pylist()[0] == dec.Decimal("1234567.9")
    assert nar.to_pylist()[1] == dec.Decimal("0.0")


def test_chunk_identity_independent_of_arrow_batch_size(spark):
    """Row-cap chunk boundaries are a pure function of row position
    within the (group, salt) run — NOT of arrow batch segmentation
    (pre-r5 a run inside one batch became one oversized chunk, so
    spark.sql.execution.arrow.maxRecordsPerBatch leaked into chunk
    identity). Same input, two batch sizes, identical manifests."""
    import pyspark.sql.functions as F

    from colcrush.engine import encode_table

    df = spark.read.parquet(
        "/root/testdata/sf0.001/customer.parquet"
    )

    def manifest(batch_rows):
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch_rows)
        try:
            enc = encode_table(
                df, group_cols=["c_mktsegment"], target_chunk_rows=17
            )
            return sorted(
                (r["chunk_id"], r["column"], r["n_rows"], bytes(r["payload"]))
                for r in enc.collect()
            )
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    a = manifest(23)   # batches smaller than and misaligned with runs
    b = manifest(10000)
    assert a == b


def test_chunk_identity_independent_of_partition_count(spark):
    """BYTE-capped chunks on a salted mega-group must be identical for
    every partition count (r6 fix: the byte cap was checked only at
    arrow-slice ends, and slice boundaries follow the per-partition
    batch stream — local[8] vs local[32] encoded the same input to
    different bytes, silently breaking the N-vs-4N and resume identity
    the manifest design promises). Same input, two partition counts,
    byte-for-byte identical chunk tables, grouped and ungrouped (one
    pseudo-group salted by its bytes)."""
    from colcrush.engine import encode_table
    from colcrush.fixtures import source_code_df

    df = source_code_df(spark, 6000, n_repos=5)

    def manifest(nparts, group_cols):
        # small arrow batches so every shard spans several batches: the
        # batch PHASE within a shard depends on which other shards
        # share its partition — exactly what changes with the partition
        # count, and what the old slice-end byte-cap check leaked
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", 256)
        try:
            enc = encode_table(
                df,
                group_cols=group_cols,
                target_group_bytes=1 << 20,   # force multi-salt mega-groups
                target_chunk_bytes=256 << 10,  # force byte-cap cuts
                num_partitions=nparts,
            )
            return sorted(
                (r["chunk_id"], r["column"], r["n_rows"], bytes(r["payload"]))
                for r in enc.collect()
            )
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    for group_cols in (["repo", "lang"], []):
        a = manifest(7, group_cols)
        assert len({r[0] for r in a}) > 1, group_cols
        assert a == manifest(23, group_cols), group_cols


def test_payload_checksum_integrity(spark, src):
    """Every encoded chunk row carries payload_ck = md5-prefix int64 of
    its payload; the decoder verifies it (bit rot at 100 TB must fail
    loudly, never silently decode wrong rows); legacy datasets without
    the column and NULL-ck rows from mixed appends still decode."""
    import pyarrow as pa
    from colcrush.engine.encoder import payload_ck

    enc = encode_table(src, group_cols=["repo", "lang"]).cache()
    try:
        # 1. stored checksums are the declared function of the payload
        sample = enc.select("payload", "payload_ck").limit(20).collect()
        assert sample and all(
            r["payload_ck"] == payload_ck(bytes(r["payload"])) for r in sample
        )

        # 2. a flipped payload byte fails the decode loudly
        def tamper(it):
            for batch in it:
                d = batch.to_pydict()
                d["payload"] = [
                    (bytes(p[:-1]) + bytes([p[-1] ^ 0x01])) if p else p
                    for p in d["payload"]
                ]
                yield pa.RecordBatch.from_pydict(
                    d, schema=batch.schema
                )

        tampered = enc.mapInArrow(tamper, enc.schema)
        with pytest.raises(Exception, match="chunk integrity failure"):
            decode_table(tampered, src.schema).count()

        # 3. legacy dataset (no checksum column) still decodes; the
        # structural length validation remains the backstop for
        # tampered payloads when verification is off
        legacy = enc.drop("payload_ck")
        assert decode_table(legacy, src.schema).count() == N_ROWS

        # 4. NULL ck (mixed append: rows written before the column) skips
        nulled = enc.withColumn(
            "payload_ck", F.lit(None).cast("bigint")
        )
        assert decode_table(nulled, src.schema).count() == N_ROWS

        # 5. a NULL payload under a NON-null checksum is itself
        # corruption (payload column lost) — the decoder must raise the
        # descriptive integrity ValueError, not hashlib's TypeError
        lost = enc.withColumn(
            "payload", F.lit(None).cast("binary")
        )
        with pytest.raises(Exception, match="chunk integrity failure"):
            decode_table(lost, src.schema).count()
    finally:
        enc.unpersist()
