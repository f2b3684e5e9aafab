"""Per-chunk Bloom filters (codecs/bloom.py + scan integration).

The parquet split-block BloomFilter analog (public parquet-format
spec): equality predicates on high-cardinality strings can't prune via
min/max, the manifest bloom drops chunks that provably lack the value.
False positives only UNDER-prune (the residual predicate still runs);
a false negative would silently drop rows — that property gets the
hypothesis treatment.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from colcrush.codecs import bloom


def _member(words: list[int], value) -> bool:
    m, k = words[0], words[1]
    h_lo, h_hi = bloom.probe_params(value)
    return all(
        (words[3 + (((h_lo + i * h_hi) % m) >> 6)] >> (((h_lo + i * h_hi) % m) & 63)) & 1
        for i in range(k)
    )


@settings(max_examples=80, deadline=None)
@given(
    st.lists(
        st.text(max_size=60) | st.binary(max_size=60), min_size=1, max_size=300
    )
)
def test_bloom_never_false_negative(values):
    bs = [
        v.encode("utf-8", "surrogatepass") if isinstance(v, str) else v
        for v in values
    ]
    lengths = np.array([len(b) for b in bs], dtype=np.int64)
    words = bloom.build_bloom(lengths, b"".join(bs))
    assert words is not None
    for v in values:
        assert _member(words, v), f"false negative for {v!r}"


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=255))
def test_hash_scalar_vector_parity(value):
    from hypothesis import assume

    b = value.encode("utf-8", "surrogatepass")
    # the hash domain is BYTE length < _MAX_VALUE_LEN (multibyte chars
    # can exceed it at 255 chars); out-of-domain raises on both sides
    assume(len(b) < bloom._MAX_VALUE_LEN)
    lengths = np.array([len(b)], dtype=np.int64)
    assert int(bloom.hash_values(lengths, b)[0]) == bloom.hash_value(value)


@settings(max_examples=120, deadline=None)
@given(
    st.lists(st.binary(max_size=bloom._MAX_VALUE_LEN - 1), max_size=200)
)
def test_hash_native_numpy_parity(bs):
    """The C bloom-hash kernel and the canonical numpy body must be
    bit-identical on every input (bloom words can never depend on the
    host toolchain — same invariant as every other kernel pair).
    Skipped only where no C toolchain exists (numpy is then the one
    path in production too)."""
    if bloom._native is None:
        pytest.skip("no C toolchain; numpy path is the only path")
    lengths = np.array([len(b) for b in bs], dtype=np.int64)
    blob = b"".join(bs)
    a = bloom._native.bloom_hash(lengths, blob, bloom._POW)
    b = bloom._hash_values_numpy(lengths, blob)
    assert a.tolist() == b.tolist()


def test_hash_numpy_oracle_total_on_empty():
    """_hash_values_numpy is documented as the standalone parity oracle,
    so it must be total on the public twin's domain — including n==0
    (ADVICE r7: starts[-1] raised IndexError before the guard)."""
    out = bloom._hash_values_numpy(np.zeros(0, dtype=np.int64), b"")
    assert out.dtype == np.uint64 and len(out) == 0


@settings(max_examples=120, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=(1 << 64) - 1),
        min_size=1,
        max_size=400,
    ),
    st.sampled_from([256, 512, 4096, bloom._MAX_BITS]),
    st.integers(min_value=1, max_value=bloom._MAX_K),
)
def test_scatter_native_numpy_parity(hs, m, k):
    """The C bloom-scatter kernel and the canonical numpy body must be
    value-identical on every input (bloom words can never depend on the
    host toolchain — same invariant as every other kernel pair)."""
    if bloom._native is None:
        pytest.skip("no C toolchain; numpy path is the only path")
    h = np.unique(np.array(hs, dtype=np.uint64))
    a = bloom._native.bloom_scatter(h, m, k)
    b = bloom._bloom_words_numpy(h, m, k)
    assert a.tolist() == b.tolist()


def test_build_bloom_native_numpy_identical():
    """End-to-end build_bloom parity with the native kernels disabled —
    the manifest array must not depend on which path ran."""
    vals = [f"key{i % 37}".encode() for i in range(500)] + [b"", b"x" * 255]
    lengths = np.array([len(v) for v in vals], dtype=np.int64)
    blob = b"".join(vals)
    with_native = bloom.build_bloom(lengths, blob)
    orig = bloom._native
    bloom._native = None
    try:
        pure = bloom.build_bloom(lengths, blob)
    finally:
        bloom._native = orig
    assert with_native == pure
    # negative words must appear (the signed two's-complement mapping
    # is exercised, not just small positives)
    assert any(w < 0 for w in with_native[3:])


def test_hash_domain_guard_on_both_twins():
    b = b"y" * bloom._MAX_VALUE_LEN
    with pytest.raises(ValueError):
        bloom.hash_value(b)
    with pytest.raises(ValueError):
        bloom.hash_values(np.array([len(b)], dtype=np.int64), b)


def test_bloom_ineligible_cases():
    # a single too-long value disables the whole column's bloom
    bs = [b"short", b"x" * bloom._MAX_VALUE_LEN]
    lengths = np.array([len(b) for b in bs], dtype=np.int64)
    assert bloom.build_bloom(lengths, b"".join(bs)) is None
    # too many distincts for a useful <=2KB bloom
    bs = [f"v{i}".encode() for i in range(bloom._MAX_DISTINCT + 1)]
    lengths = np.array([len(b) for b in bs], dtype=np.int64)
    assert bloom.build_bloom(lengths, b"".join(bs)) is None
    # empty column
    assert bloom.build_bloom(np.zeros(0, dtype=np.int64), b"") is None


def test_int_bloom_and_kind_tag():
    import struct

    vals = np.array([3, -7, 2**40, 0, 3], dtype="<i8")
    lengths = np.full(len(vals), 8, dtype=np.int64)
    words = bloom.build_bloom(lengths, vals.tobytes(), kind=bloom.KIND_INT)
    assert words is not None and words[2] == bloom.KIND_INT
    for v in (3, -7, 2**40, 0):
        assert _member(words, struct.pack("<q", v))
    # a string bloom carries the other kind tag
    swords = bloom.build_bloom(np.array([1], dtype=np.int64), b"a")
    assert swords[2] == bloom.KIND_STR


def test_bloom_scan_prunes_and_matches(spark, tmp_path):
    import pyspark.sql.functions as F

    from colcrush.engine import write_encoded
    from colcrush.engine.scan import pruned_chunk_count, scan

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    path = str(tmp_path / "ds")
    write_encoded(cust, path, group_cols=["c_mktsegment"], target_chunk_rows=32)

    target = cust.select("c_name").orderBy("c_custkey").limit(1).collect()[0][0]
    filt = [("c_name", "==", target)]
    surv, total = pruned_chunk_count(spark, path, filt)
    # min/max cannot prune same-format names; the bloom must
    assert total >= 4 and surv < total
    got = scan(spark, path, columns=["c_custkey", "c_name"], filters=filt)
    exp = cust.where(F.col("c_name") == target).select("c_custkey", "c_name")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))

    # absent value: every chunk provably excluded, scan returns nothing
    surv0, _ = pruned_chunk_count(
        spark, path, [("c_name", "==", "Customer#999999999")]
    )
    assert surv0 == 0
    assert scan(
        spark, path, filters=[("c_name", "==", "Customer#999999999")]
    ).count() == 0

    # in-set with one present and one absent member stays exact
    filt_in = [("c_name", "in", [target, "Customer#999999999"])]
    got_in = scan(spark, path, columns=["c_name"], filters=filt_in).collect()
    assert [r["c_name"] for r in got_in] == [target]

    # int point lookup: c_custkey equality must prune via the int bloom
    key = cust.select("c_custkey").orderBy("c_custkey").limit(1).collect()[0][0]
    got_k = scan(
        spark, path, columns=["c_custkey"], filters=[("c_custkey", "==", int(key))]
    ).collect()
    assert [r["c_custkey"] for r in got_k] == [key]
    surv_k, total_k = pruned_chunk_count(
        spark, path, [("c_custkey", "==", -424242)]
    )
    assert surv_k == 0  # absent id: every chunk bloom-excluded

    # CROSS-KIND literals: Spark casts (int_col = '<str>' can match
    # rows), but an int column's stringified min_s/max_s is NOT a
    # lexicographic bound and a string probe of an int-kind bloom is
    # meaningless — every pruning entry point REJECTS the mismatched
    # literal outright (typed filters, as in parquet4s)
    for fn in (
        lambda: scan(spark, path, filters=[("c_custkey", "==", str(key))]),
        lambda: pruned_chunk_count(
            spark, path, [("c_custkey", "==", str(key))]
        ),
    ):
        with pytest.raises(ValueError, match="does not match column"):
            fn()
    # oversized literals (beyond the bloom key domain) must not crash:
    # they provably match nothing in a bloom-carrying column
    surv_long, _ = pruned_chunk_count(
        spark, path, [("c_name", "==", "x" * 300)]
    )
    assert surv_long == 0
    # short string + int columns carry blooms; long text / float don't
    from colcrush.engine.dataset import read_manifest

    m = read_manifest(spark, path)
    per_col = {
        r["column"]: r["n"]
        for r in m.groupBy("column")
        .agg(F.sum(F.when(F.col("bloom").isNotNull(), 1).otherwise(0)).alias("n"))
        .collect()
    }
    assert per_col["c_name"] > 0
    assert per_col["c_custkey"] > 0  # int columns bloom too
    assert per_col["c_acctbal"] == 0  # float column: no bloom


def test_bloom_absent_manifest_is_tolerated(spark, tmp_path):
    """Datasets written before the bloom column existed must scan
    exactly as before (no AnalysisException, range-only pruning)."""
    import pyspark.sql.functions as F

    from colcrush.engine import write_encoded
    from colcrush.engine.dataset import CHUNKS_DIR, _write_record
    from colcrush.engine.scan import scan

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    path = str(tmp_path / "legacy")
    write_encoded(cust, path, group_cols=["c_mktsegment"], target_chunk_rows=32)
    # rewrite the chunk files without the bloom column (legacy layout)
    # and record the new files
    cpath = f"{path}/{CHUNKS_DIR}"
    legacy = spark.read.parquet(cpath).drop("bloom").cache()
    legacy.count()
    legacy.write.mode("overwrite").parquet(cpath)
    legacy.unpersist()
    _write_record(path)

    target = cust.select("c_name").orderBy("c_custkey").limit(1).collect()[0][0]
    got = scan(spark, path, columns=["c_name"], filters=[("c_name", "==", target)])
    assert [r["c_name"] for r in got.collect()] == [target]


def test_legacy_crash_recovery_without_bloom_column(spark, tmp_path):
    """A PRE-bloom dataset that crashed between chunk write and
    commit must still be recoverable, and its metadata rows read the
    absent bloom column as NULL."""
    from colcrush.engine import resume_encode, write_encoded
    from colcrush.engine.dataset import CHUNKS_DIR, COMMIT_FILE, read_manifest

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    path = str(tmp_path / "crashds")
    write_encoded(cust, path, group_cols=["c_mktsegment"], target_chunk_rows=64)

    # simulate the legacy layout + crash: strip bloom from the chunk
    # files and delete the record (chunk job's _SUCCESS remains)
    cpath = f"{path}/{CHUNKS_DIR}"
    legacy_chunks = spark.read.parquet(cpath).drop("bloom").cache()
    legacy_chunks.count()
    legacy_chunks.write.mode("overwrite").parquet(cpath)
    legacy_chunks.unpersist()
    import os

    os.remove(f"{path}/{COMMIT_FILE}")

    # recovery must succeed and report nothing missing; the explicit
    # read schema (r6) surfaces the absent bloom column as all-NULL —
    # deterministic across footer sampling — rather than dropping it
    assert resume_encode(cust, path, group_cols=["c_mktsegment"]) == 0
    m = read_manifest(spark, path)
    import pyspark.sql.functions as F

    assert m.where(F.col("bloom").isNotNull()).count() == 0
    assert m.select("chunk_id").distinct().count() > 0


def test_bloom_enable_knob(spark, tmp_path):
    """encode_table(bloom=...) mirrors parquet-mr's per-column bloom
    enable: False builds none, a column list builds exactly those (and
    their content matches the auto-built twin bit for bit), unknown
    names raise."""
    import pyspark.sql.functions as F

    from colcrush.engine import encode_table

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")

    def blooms(enc):
        return {
            r["column"]: r["n"]
            for r in enc.where(F.col("bloom").isNotNull())
            .groupBy("column").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    kw = dict(group_cols=["c_mktsegment"], target_chunk_rows=64)
    auto = encode_table(cust, **kw)
    have_auto = blooms(auto)
    assert "c_name" in have_auto and "c_custkey" in have_auto

    off = encode_table(cust, bloom=False, **kw)
    assert blooms(off) == {}
    # disabling blooms must not perturb payload bytes / chunk identity
    a = {(r["chunk_id"], r["column"]): r for r in auto.collect()}
    for r in off.collect():
        assert bytes(r["payload"]) == bytes(
            a[(r["chunk_id"], r["column"])]["payload"]
        )

    only = encode_table(cust, bloom=["c_name"], **kw)
    have_only = blooms(only)
    assert set(have_only) == {"c_name"}
    # named selection produces the SAME bloom words as auto-eligibility
    key = lambda r: (r["chunk_id"], r["column"])  # noqa: E731
    auto_b = {
        key(r): r["bloom"]
        for r in auto.where(F.col("column") == "c_name").collect()
    }
    for r in only.where(F.col("column") == "c_name").collect():
        assert r["bloom"] == auto_b[key(r)]

    with pytest.raises(ValueError, match="not in the input"):
        encode_table(cust, bloom=["nope"], **kw)


def test_int_inset_pruning(spark, tmp_path):
    """An in-set of INT literals prunes on min_d/max_d + KIND_INT bloom
    exactly like int equality (pre-r5 it silently fell through to
    'can't prune'), and never drops matching rows."""
    import pyspark.sql.functions as F

    from colcrush.engine import write_encoded
    from colcrush.engine.scan import pruned_chunk_count, scan

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    path = str(tmp_path / "ds")
    write_encoded(
        orders, path, group_cols=["o_orderpriority"], target_chunk_rows=64
    )
    keys = [
        int(r[0])
        for r in orders.select("o_orderkey").orderBy("o_orderkey").limit(3).collect()
    ]
    surv, total = pruned_chunk_count(spark, path, [("o_orderkey", "in", keys)])
    assert total >= 8 and surv < total
    got = scan(
        spark, path, columns=["o_orderkey", "o_custkey"],
        filters=[("o_orderkey", "in", keys)],
    )
    exp = orders.where(F.col("o_orderkey").isin(keys)).select(
        "o_orderkey", "o_custkey"
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))

    # absent keys: every chunk excluded by the bloom despite in-range
    surv0, _ = pruned_chunk_count(
        spark, path, [("o_orderkey", "in", [keys[0] + 7777777, -5])]
    )
    assert surv0 == 0

    # frozenset literals take the same path as list/tuple/set (r5 made
    # scalar 'in' values one-element sets, which regressed frozensets
    # into F.lit(frozenset) analysis errors — ADVICE r5)
    got_fs = scan(
        spark, path, columns=["o_orderkey", "o_custkey"],
        filters=[("o_orderkey", "in", frozenset(keys))],
    )
    assert sorted(map(tuple, got_fs.collect())) == sorted(
        map(tuple, exp.collect())
    )
    surv_fs, _ = pruned_chunk_count(
        spark, path, [("o_orderkey", "in", frozenset(keys))]
    )
    assert surv_fs == surv
