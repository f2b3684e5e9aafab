"""Soundness of scan's chunk predicate (engine/scan.chunk_predicate).

The predicate runs inside the decode worker: a chunk is decoded only if
its stats rows may match every conjunct. A wrong "drop" silently loses
rows, so the rule set gets the hypothesis treatment on chunks encoded by
the real encoder (the stats rows it writes: truncated string bounds,
widened bounds for ints beyond 2^53, NULL stats for NaN-bearing float
chunks, blooms), against a row matcher with Spark's comparison
semantics. The Spark-backed tests then pin that a filtered scan equals
a full read filtered by the same predicate, on the fused plan over
epochs and compaction and on the exchange fallback (viewfs://), with
string literals on date and timestamp columns in several spellings and
session time zones, that pruned_chunk_count counts exactly the chunks a
scan decodes, that scan_udp's stats callables keep the decode worker
from decoding the chunks they drop, and that the stats layer built on
the scan (filtered_min_max, column_min_max) returns Spark's own
min/max.
"""

from __future__ import annotations

import math
from datetime import date, datetime, timezone

import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

import pyspark.sql.functions as F
from pyspark.sql import types as T

from colcrush.engine import (
    column_min_max,
    compact,
    filtered_min_max,
    pruned_chunk_count,
    read_decoded,
    read_manifest,
    read_schema,
    scan,
    write_encoded,
)
from colcrush.engine.dataset import _chunk_file_batches, _committed_part_files
from colcrush.engine.decoder import decode_worker
from colcrush.engine.encoder import _encode_chunk_into, _new_out_rows, _rows_to_batch
from colcrush.engine.scan import (
    _TEMPORAL,
    _epoch_units,
    _residual_condition,
    _scan_prune,
    _udp_prune,
    chunk_predicate,
    scan_udp,
)
from colcrush.fixtures import source_code_df
from colcrush.streaming.encode_sink import write_batch

NAN = float("nan")
BIG = 1 << 53

# (arrow type, spark type, value strategy) per column kind
FLOATS = st.one_of(
    st.none(),
    st.just(NAN),
    st.sampled_from([0.0, -0.0, 1.5, -2.0, math.inf, -math.inf]),
    st.floats(-1e6, 1e6, allow_nan=False),
)
STRINGS = st.one_of(
    st.none(),
    # up to 90 chars: stats past 64 chars are truncated bounds
    st.text(alphabet="abé\U0010ffff", max_size=90),
)
INTS = st.one_of(
    st.none(),
    st.integers(BIG - 3, BIG + 3),
    st.integers(-BIG - 3, -BIG + 3),
    st.integers(-(1 << 63), (1 << 63) - 1),
    st.integers(-5, 5),
)
KINDS = {
    "float": (pa.float64(), T.DoubleType(), FLOATS),
    "string": (pa.string(), T.StringType(), STRINGS),
    "int": (pa.int64(), T.LongType(), INTS),
}


def _key(x):
    """Spark's order on one column kind: NaN equals NaN, above +inf."""
    if isinstance(x, float):
        return (1, 0.0) if x != x else (0, x)
    return (0, x)


def _cmp(v, lit) -> int:
    if isinstance(v, float) or isinstance(lit, float):
        # a double column compares an int literal as a double
        v, lit = float(v), float(lit)
    a, b = _key(v), _key(lit)
    return (a > b) - (a < b)


def _matches(v, op, lit) -> bool:
    if op == "is_null":
        return v is None
    if op == "not_null":
        return v is not None
    if v is None:
        return False
    if op == "in":
        return any(x is not None and _cmp(v, x) == 0 for x in lit)
    c = _cmp(v, lit)
    return {"==": c == 0, "<": c < 0, "<=": c <= 0, ">": c > 0, ">=": c >= 0}[op]


def _row_matches(v, filters) -> bool:
    return all(
        any(_matches(v, op, lit) for _, op, lit in (f[1] if f[0] == "or" else [f]))
        for f in filters
    )


def _literals(kind, values):
    """Literals near the chunk values: the values, their neighbours and
    a few off-range constants, so that range and bloom drops both fire."""
    present = [v for v in values if v is not None]
    if kind == "int":
        near = [v + d for v in present for d in (-1, 1)]
        near = [v for v in near if -(1 << 63) <= v < (1 << 63)]
        extra = [0, BIG, -BIG, 12345]
    elif kind == "float":
        near = [math.nextafter(v, math.inf) for v in present if v == v]
        extra = [NAN, 0.0, 2.5, math.inf, -math.inf]
    else:
        near = [v + "a" for v in present] + [v[:-1] for v in present if v]
        extra = ["", "b", "zz", "a" * 70, "x" * 300]
    return present + near + extra


@st.composite
def _case(draw):
    kind = draw(st.sampled_from(sorted(KINDS)))
    strat = KINDS[kind][2]
    chunks = draw(
        st.lists(st.lists(strat, min_size=1, max_size=12), min_size=1, max_size=4)
    )
    lits = _literals(kind, [v for c in chunks for v in c])
    lit = st.sampled_from(lits)
    leaf = st.one_of(
        st.tuples(st.just("v"), st.sampled_from(["==", "<", "<=", ">", ">="]), lit),
        st.tuples(st.just("v"), st.just("in"), st.lists(lit, min_size=1, max_size=3)),
        st.tuples(st.just("v"), st.sampled_from(["is_null", "not_null"]), st.none()),
    )
    conjunct = leaf | st.tuples(st.just("or"), st.lists(leaf, min_size=2, max_size=3))
    filters = draw(st.lists(conjunct, min_size=1, max_size=3))
    return kind, chunks, filters


def _encode(kind, chunks):
    """One chunk-row batch per chunk, exactly as the encoder writes them."""
    arrow_type = KINDS[kind][0]
    out = []
    for seq, values in enumerate(chunks):
        rows = _new_out_rows()
        batch = pa.record_batch([pa.array(values, type=arrow_type)], names=["v"])
        _encode_chunk_into(rows, [batch], "g", 0, seq, "balanced")
        out.append(_rows_to_batch(rows))
    return out


@settings(max_examples=300, deadline=None)
@given(_case())
# int literals that round onto an exact extreme they lie strictly beyond
@example(("int", [[-BIG]], [("v", ">", -BIG - 1)]))
@example(("int", [[BIG]], [("v", "<", BIG + 1)]))
def test_chunk_predicate_never_drops_a_matching_chunk(case):
    kind, chunks, filters = case
    schema = T.StructType([T.StructField("v", KINDS[kind][1])])
    batches = _encode(kind, chunks)
    prune = chunk_predicate(filters)
    *_, decode_fn = decode_worker(schema, prune=prune)
    decoded = [len(list(decode_fn(iter([b])))) for b in batches]
    for values, n in zip(chunks, decoded):
        assert n in (0, 1)
        if n == 0:
            hits = [v for v in values if _row_matches(v, filters)]
            assert not hits, f"dropped a chunk holding matches {hits!r} of {filters!r}"
    # the prune pass (decode off) keeps exactly the chunks decoding keeps
    *_, prune_fn = decode_worker(schema, prune=prune, decode=False)
    (verdicts,) = list(prune_fn(iter(batches)))
    assert verdicts.column("alive").to_pylist() == [n == 1 for n in decoded]


def _chunks_decoded(path, prune):
    """Chunks the decode worker decodes with the chunk predicate
    ``prune`` over the dataset's part files, counted in-process (one
    output batch per decoded chunk)."""
    ordered, in_schema, _, fn = decode_worker(read_schema(path), prune=prune)
    files = [f for f, _ in _committed_part_files(path)]
    return sum(1 for _ in fn(_chunk_file_batches(files, ordered, in_schema)))


def _chunks_scan_decodes(spark, path, filters):
    return _chunks_decoded(path, _scan_prune(spark, read_schema(path), filters))


def _cell(x):
    # NaN != NaN: compare it as a marker
    return "NaN" if isinstance(x, float) and x != x else x


def _rows(df):
    return sorted((tuple(map(_cell, r)) for r in df.collect()), key=repr)


def _assert_scan_equals_filtered_read(spark, path, filters, columns=None):
    got = scan(spark, path, columns=columns, filters=filters)
    want = read_decoded(spark, path).where(_residual_condition(filters))
    if columns:
        want = want.select(*columns)
    assert _rows(got) == _rows(want), filters


# a string past the stats truncation whose 64-char prefix ends in
# U+10FFFF: its max stat cannot be incremented and is recorded as NULL
ASTRAL = "\U0010ffff" * 70


def _float_value(i):
    if i % 11 == 0:
        return None
    if i % 17 == 0:
        return NAN
    if i % 23 == 5:
        return math.inf
    if i % 29 == 7:
        return -math.inf
    return float(i % 40) - 7.5


def _string_value(i):
    if i % 13 == 0:
        return None
    if i == 101:
        return ASTRAL
    return "p" * 66 + f"{i:03d}" if i % 2 else f"s{i:03d}"


def _write_edge_dataset(spark, path):
    """NULLs, NaN, +-inf, strings past the 64-char stats truncation,
    ints around 2^53, a date ``d`` (2023-02-20 + i // 8), a timestamp
    ``ts`` (2023-03-01 00:00 UTC + i hours, plus some microseconds on
    even rows) and ``tn``, ``ts`` as TIMESTAMP_NTZ (wall time in the
    encoding session's zone), in 24-row chunks, range-sorted on ``i``;
    rows 240 to 287 are NULL but for ``i``, so at least one chunk is
    all-NULL."""
    rows = [
        (i, _float_value(i), _string_value(i), None if i % 19 == 0 else BIG + (i % 7) - 3)
        for i in range(240)
    ] + [(i, None, None, None) for i in range(240, 288)]
    df = spark.createDataFrame(rows, "i long, f double, s string, n long")
    i = F.col("i")
    live = (i < 240) & (i % 31 != 0)
    df = df.select(
        "*",
        F.when(live, F.date_add(F.lit("2023-02-20").cast("date"), (i / 8).cast("int"))).alias("d"),
        F.when(live, F.timestamp_micros(
            F.lit(1677628800 * 10**6) + i * 3600 * 10**6
            + F.when(i % 2 == 0, i * 1001 + 7).otherwise(0)
        )).alias("ts"),
    )
    df = df.withColumn("tn", F.col("ts").cast("timestamp_ntz"))
    write_encoded(df, path, range_cols=["i"], target_chunk_rows=24)


# string literals on the date and timestamp columns, in spellings other
# than the stats' (``2023-03-01 13:00:00+00:00``), and same-kind
# ``date``/``datetime`` literals, naive and aware: row 13 has ts
# 2023-03-01 13:00 UTC (05:00 in Los Angeles), rows 72-79 have d
# 2023-03-01. Los Angeles enters DST on 2023-03-12 at 10:00 UTC, within
# two days of the last ``tn`` literal, which then keeps every chunk.
TEMPORAL_CASES = [
    [("ts", "==", "2023-03-01T13:00:00")],
    [("d", "==", "2023-3-1")],
    [("ts", "==", "2023-03-01 05:00:00")],
    [("ts", "in", ["2023-03-01 05:00", "2023-03-02T10:00:00.010017"])],
    [("d", "in", ["2023-3-1", "2023-03-10 23:59:59"])],
    [("ts", "<", "2023-03-02 00:00:00.000001")],
    [("d", ">=", "2023-03-21")],
    [("or", [("ts", ">", "2023-03-10T20:00:00Z"), ("d", "<=", "2023-2-22")])],
    [("d", "==", date(2023, 3, 1))],
    [("d", "<", date(2023, 2, 22))],
    [("d", "in", [date(2023, 3, 1), "2023-03-10"])],
    [("d", "==", datetime(2023, 3, 1))],
    [("ts", "==", datetime(2023, 3, 1, 13, tzinfo=timezone.utc))],
    [("ts", ">=", datetime(2023, 3, 10, 20))],
    [("tn", "==", datetime(2023, 3, 1, 13))],
    [("tn", "<", datetime(2023, 3, 2, tzinfo=timezone.utc))],
    [("tn", "==", "2023-03-01 13:00:00")],
    [("tn", ">", datetime(2023, 3, 10, 20, tzinfo=timezone.utc))],
]


def test_scan_matches_filtered_read_on_value_edge_cases(spark, tmp_path):
    """Every filter's scan over the edge-value dataset equals the full
    read filtered, and pruned_chunk_count equals the chunks decoded;
    the temporal cases also under a non-UTC session."""
    path = str(tmp_path / "edge")
    _write_edge_dataset(spark, path)
    long_s = "p" * 66 + "031"
    cases = [
        [("f", ">", 10.0)],
        [("f", "==", NAN)],
        [("f", "<", -5.0)],
        [("s", "==", long_s)],
        [("s", ">=", "p" * 66 + "2")],
        [("s", "in", ["s004", long_s, "zz"])],
        [("n", "==", BIG + 2)],
        [("n", "<", BIG - 2)],
        [("n", "in", [BIG - 3, BIG + 100])],
        [("f", "is_null")],
        [("s", "not_null"), ("i", "<", 60)],
        [("or", [("i", "<", 10), ("n", ">=", BIG + 3)])],
        [("i", ">=", 200), ("f", "<=", 0.0)],
        [("f", "==", math.inf)],
        [("s", ">", "s2")],
        *TEMPORAL_CASES,
    ]
    for filters in cases:
        _assert_scan_equals_filtered_read(spark, path, filters)
        alive, total = pruned_chunk_count(spark, path, filters)
        assert total >= 8
        assert alive == _chunks_scan_decodes(spark, path, filters), filters
    for filters in ([("i", "<", 24)], [("d", "==", "2023-3-1")], *TEMPORAL_CASES[8:]):
        alive, total = pruned_chunk_count(spark, path, filters)
        # a datetime on a date column is compared as a timestamp
        assert (alive == total) == (filters[0][2] == datetime(2023, 3, 1)), filters
    # Spark casts a string literal on a timestamp column under the
    # session time zone, and a timestamp stat carries the offset of the
    # session that encoded it: every pair of encoding and reading zone
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "America/Los_Angeles")
        la = str(tmp_path / "edge_la")
        _write_edge_dataset(spark, la)
        for tz, ds in (
            ("America/Los_Angeles", path), ("America/Los_Angeles", la), ("UTC", la)
        ):
            spark.conf.set(key, tz)
            for filters in TEMPORAL_CASES:
                _assert_scan_equals_filtered_read(spark, ds, filters)
        # the tn literal near the DST change is not cast back to wall
        # time; the one far from it is
        spark.conf.set(key, "America/Los_Angeles")
        for filters, pruned in ((TEMPORAL_CASES[-1], False), (TEMPORAL_CASES[-3], True)):
            alive, total = pruned_chunk_count(spark, path, filters)
            assert (alive < total) == pruned, filters
    finally:
        spark.conf.set(key, before)
    # a stat or a literal that does not parse keeps the chunk
    date_zero, ts_zero = _TEMPORAL[T.DateType][:2], _TEMPORAL[T.TimestampType][:2]
    assert _epoch_units("not a date", *date_zero) is None
    assert _epoch_units("2023-03-01 13:00:00", *ts_zero) is None  # no offset
    _, survives = chunk_predicate(
        [("ts", "==", "not a time")], {"ts": (*ts_zero, {"not a time": None})}
    )
    stats = [24, 0, "2023-03-01 00:00:00+00:00", "2023-03-01 23:00:00+00:00", None, None, None]
    assert survives({"ts": stats})


def test_scan_matches_filtered_read_over_epochs_and_compaction(spark, tmp_path):
    ds = str(tmp_path / "ds")
    df = source_code_df(spark, 300, n_repos=4)
    parts = (
        F.col("lang") < "j", (F.col("lang") >= "j") & (F.col("lang") < "m"),
        F.col("lang") >= "m",
    )
    for epoch, part in enumerate(parts):
        write_batch(df.where(part), epoch, ds, ["lang"])
    key = df.orderBy("path").first()
    cases = [
        [("path", "==", key["path"])],
        [("lang", "in", ["python", "rust"])],
        [("or", [("lang", "<", "c"), ("commit", "==", key["commit"])])],
    ]
    for stage in ("epochs", "compacted"):
        if stage == "compacted":
            assert compact(spark, ds) == 2
        for filters in cases:
            _assert_scan_equals_filtered_read(
                spark, ds, filters, columns=["path", "lang"]
            )
            alive, _ = pruned_chunk_count(spark, ds, filters)
            assert alive == _chunks_scan_decodes(spark, ds, filters), (stage, filters)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_matches_filtered_read_over_viewfs(spark, tmp_path):
    """viewfs:// is JVM-only: scan runs the chunk_id exchange fallback,
    whose worker prunes with the same predicate."""
    conf = spark._jsc.hadoopConfiguration()
    conf.set(
        "fs.viewfs.mounttable.colcrushscan.link./data", f"file://{tmp_path}"
    )
    uri = "viewfs://colcrushscan/data/ds"
    df = source_code_df(spark, 300, n_repos=4)
    write_encoded(df, uri, mode="overwrite", group_cols=["lang"])
    key = df.orderBy("path").first()["path"]
    filters = [("path", "==", key)]
    got = scan(spark, uri, filters=filters)
    assert "Exchange hashpartitioning(chunk_id" in _plan(got)
    assert _rows(got) == _rows(df.where(F.col("path") == key))
    _assert_scan_equals_filtered_read(spark, uri, [("lang", ">=", "p")])
    alive, total = pruned_chunk_count(spark, uri, filters)
    # the local view of the same files: identical verdicts
    assert (alive, total) == pruned_chunk_count(spark, str(tmp_path / "ds"), filters)
    assert alive < total


def test_stats_layer_matches_spark_min_max(spark, tmp_path):
    """filtered_min_max and column_min_max equal Spark's min/max over
    the filtered full read, with the value types Spark returns: NaN is
    the max of a double column holding it, +-inf are values, NULL-only
    chunks and a filter matching nothing add nothing, integers around
    2^53 are exact, long strings (one past an unincrementable U+10FFFF
    stats prefix) are actual values, and dates and timestamps come back
    as ``date`` and ``datetime``. Run on the fused plan and, through
    viewfs://, on the chunk_id exchange fallback."""
    local = str(tmp_path / "edge")
    _write_edge_dataset(spark, local)
    null_chunks = read_manifest(spark, local).where(
        (F.col("column") == "f") & (F.col("n_nulls") == F.col("n_rows"))
    )
    assert null_chunks.count() >= 1
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.colcrushstats.link./data", f"file://{tmp_path}"
    )
    cols = ["i", "f", "s", "n", "d", "ts"]
    full = read_decoded(spark, local)
    cases = [
        [],
        [("i", "<", 120)],
        [("f", ">", 1e300)],
        [("s", ">=", "p" * 66)],
        [("i", ">=", 240)],
        [("i", ">", 10**6)],
        [("ts", "<", "2023-03-03T00:00:00")],
    ]
    for filters in cases:
        sub = full.where(_residual_condition(filters)) if filters else full
        want = sub.agg(
            *[F.min(c) for c in cols], *[F.max(c) for c in cols]
        ).first()
        for path in (local, "viewfs://colcrushstats/data/edge"):
            for j, c in enumerate(cols):
                if filters:
                    got = filtered_min_max(spark, path, c, filters)
                else:
                    got = column_min_max(spark, path, c)
                exp = (want[j], want[j + len(cols)])
                assert [*map(_cell, got)] == [*map(_cell, exp)], (path, c, filters)
                assert [type(x) for x in got] == [type(x) for x in exp]


def test_scan_udp_decodes_only_the_chunks_its_callables_keep(spark, tmp_path):
    """scan_udp's stats callables run in the decode worker as its chunk
    predicate: a chunk ``chunk_keep`` rejects (or, negated, one
    ``inverse_chunk_drop`` proves all-matching) is never decoded, and
    the rows equal the full read filtered by the row condition."""
    path = str(tmp_path / "edge")
    _write_edge_dataset(spark, path)
    stats = read_manifest(spark, path).where(F.col("column") == "i")
    total = stats.count()

    def keep(st):  # canDrop inverted: some i < 60
        return st["min_d"] is None or st["min_d"] < 60

    def all_match(st):  # inverseCanDrop: every i < 60
        return st["max_d"] is not None and st["max_d"] < 60

    kept = stats.where(F.col("min_d") < 60).count()
    assert 0 < kept < total
    assert _chunks_decoded(path, _udp_prune("i", keep)) == kept
    inverse = _udp_prune("i", keep, negated=True, inverse_chunk_drop=all_match)
    all_matching = stats.where(F.col("max_d") < 60).count()
    assert all_matching > 0
    assert _chunks_decoded(path, inverse) == total - all_matching
    cond = F.col("i") < 60
    full = read_decoded(spark, path)
    for negated in (False, True):
        got = scan_udp(
            spark, path, "i", keep, cond, ["i", "s"], negated=negated,
            inverse_chunk_drop=all_match,
        )
        want = full.where(~cond if negated else cond).select("i", "s")
        assert _rows(got) == _rows(want) and _rows(got)


@pytest.mark.parametrize(
    "filters",
    [[("k", "=", 5)], [("or", [("k", "<", 1), ("k", "like", "a%")])]],
)
def test_unsupported_filter_op_raises_everywhere(spark, tmp_path, filters):
    path = str(tmp_path / "ds")
    write_encoded(spark.range(64).select(F.col("id").alias("k")), path)
    bad = "'='" if filters[0][0] == "k" else "'like'"
    for call in (
        lambda: scan(spark, path, filters=filters),
        lambda: pruned_chunk_count(spark, path, filters),
        lambda: filtered_min_max(spark, path, "k", filters),
    ):
        with pytest.raises(ValueError, match=f"unsupported filter op {bad}"):
            call()
