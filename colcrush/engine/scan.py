"""Metadata-only statistics and stats-pruned scans.

The engine's analog of parquet4s's stats layer and row-group skipping:
- metadata-only count/min/max from the manifest (Stats.scala:16-58,
  stats/FileStats.scala:30-52 in /root/reference)
- predicate-driven chunk pruning on chunk min/max, null counts and
  bloom filters before any chunk is decoded (FilteredFileStats.scala:
  129-143, row-group pushdown in ParquetIterator.scala:144-150)

Pruning happens where parquet4s does it, in the reader: every chunk
row carries its column's stats, so the decode worker (the fused
whole-file reader, or the chunk_id exchange on JVM-only schemes)
evaluates :func:`chunk_predicate` once a chunk's rows have arrived and
decodes only the chunks that may match. A filtered scan is one Spark
job with no exchange and no manifest read; pruned_chunk_count and
filtered_min_max run the same worker with decoding switched off, so
every entry point prunes with one rule set.
"""

from __future__ import annotations

from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from .dataset import _decode_plan, read_chunks, read_manifest, read_schema
from .decoder import decode_table
from .encoder import _STAT_TRUNC

_OPS = {"==", "!=", "<", "<=", ">", ">=", "in", "is_null", "not_null"}


def count_rows(spark: SparkSession, path: str) -> int:
    """Metadata-only row count (parquet4s Stats.recordCount analog)."""
    m = read_manifest(spark, path)
    row = (
        m.groupBy("chunk_id")
        .agg(F.max("n_rows").alias("n"))
        .agg(F.sum("n").alias("total"))
        .collect()[0]
    )
    return int(row["total"] or 0)


def column_min_max(spark: SparkSession, path: str, column: str) -> tuple[Any, Any]:
    """min/max folded over chunk stats (parquet4s Stats.min/max,
    Stats.scala:34-58) — returning ACTUAL column values, like the
    reference.

    Numeric results come straight from chunk stats (exact column
    values; ints beyond 2^53 and decimals carry a one-ulp-widened
    double bound, so those extremes are bounds, not exact values).
    String stats are truncated to 64 chars at encode time (min:
    truncation; max: truncate-and-increment — parquet's truncated
    binary statistics trick), so a stats value of length >= 64 may be
    a BOUND rather than a value present in the data. Such suspect
    chunks — and only those that could still beat the best exact
    (untruncated) stat — are decoded and folded, restoring the
    actual-value contract while short-string datasets stay pure
    metadata reads. (Unbounded edge: a max ending in U+10FFFF chars
    can shorten under increment; such stats rows are also treated as
    suspect via the null-max check. Chunks whose string stats were
    skipped entirely at encode time — avg value > 256B — have null
    bounds but live rows, and are likewise decoded.)
    """
    m = read_manifest(spark, path).where(F.col("column") == column)
    row = m.agg(
        F.min("min_d").alias("mn_d"),
        F.max("max_d").alias("mx_d"),
    ).collect()[0]
    if row["mn_d"] is not None:
        return row["mn_d"], row["mx_d"]

    trunc = _STAT_TRUNC
    # stats can be SKIPPED entirely at encode time (long-string columns,
    # avg value > 256B: codecs/column.py _string_parts gate) — such a
    # chunk has values (n_nulls < n_rows) but null min_s/max_s and must
    # be decoded, not treated as stat-less all-null
    skipped = F.coalesce(
        (F.col("n_nulls") < F.col("n_rows")) & F.col("min_s").isNull(),
        F.lit(False),
    )
    suspect_min = skipped | F.coalesce(F.length("min_s") >= trunc, F.lit(False))
    # an incremented (or overflow-shortened, possibly NULL) max is
    # suspect whenever the chunk holds any long string; min_s length is
    # the cheap witness for "this chunk has >= trunc-char values"
    suspect_max = (
        skipped
        | F.coalesce(F.length("max_s") >= trunc, F.lit(False))
        | (F.col("max_s").isNull() & F.col("min_s").isNotNull())
    )
    exact_row = m.agg(
        F.min(F.when(~suspect_min, F.col("min_s"))).alias("mn"),
        F.max(F.when(~suspect_max, F.col("max_s"))).alias("mx"),
        F.sum(suspect_min.cast("int")).alias("n_smin"),
        F.sum(suspect_max.cast("int")).alias("n_smax"),
    ).collect()[0]
    mn, mx = exact_row["mn"], exact_row["mx"]
    if not exact_row["n_smin"] and not exact_row["n_smax"]:
        return mn, mx

    schema = read_schema(path)

    def _fold(cond) -> tuple[Any, Any]:
        ids = m.where(cond).select("chunk_id").distinct()
        chunks = read_chunks(spark, path).join(ids, "chunk_id", "left_semi")
        dec = decode_table(chunks, schema, columns=[column])
        r = dec.agg(
            F.min(column).alias("mn"), F.max(column).alias("mx")
        ).collect()[0]
        return r["mn"], r["mx"]

    # decode only suspect chunks that could still beat the exact stats
    # (a null bound — stats skipped — can always beat them)
    min_cond = suspect_min if mn is None else (
        suspect_min & (F.col("min_s").isNull() | (F.col("min_s") < mn))
    )
    max_cond = suspect_max if mx is None else (
        suspect_max & (F.col("max_s").isNull() | (F.col("max_s") > mx))
    )
    if exact_row["n_smin"]:
        dmn, _ = _fold(min_cond)
        if dmn is not None and (mn is None or dmn < mn):
            mn = dmn
    if exact_row["n_smax"]:
        _, dmx = _fold(max_cond)
        if dmx is not None and (mx is None or dmx > mx):
            mx = dmx
    return mn, mx


def _bloom_key(v) -> "tuple[bytes | str, int] | None":
    """(probe key, kind) for a filter literal, or None when the literal
    has no bloom representation. Spark equality CASTS across types
    (``int_col = '5'`` can match rows), so the probe carries the kind
    its bytes were derived from and only trusts an exclusion when the
    stored bloom was built from the SAME kind."""
    from ..codecs.bloom import KIND_INT, KIND_STR

    if isinstance(v, (str, bytes)):
        return v, KIND_STR
    if (
        isinstance(v, int)
        and not isinstance(v, bool)
        and -(1 << 63) <= v < (1 << 63)
    ):
        import struct

        return struct.pack("<q", v), KIND_INT
    return None


def _bloom_excludes(value):
    """A test ``bloom -> bool``: True when a chunk's bloom words PROVE
    ``value`` absent (bloom present, built from the literal's kind, and
    at least one of its k double-hash probe bits clear). NULL/absent/
    kind-mismatched blooms never exclude.

    The probe twin of the encoder's build (codecs/bloom.py: layout
    [m_bits, k, kind, words...], the shared scalar/vectorized hash
    probe_params comes from); the two must stay in lockstep."""
    from ..codecs.bloom import _MAX_K, _MAX_VALUE_LEN, probe_params

    key = _bloom_key(value)
    if key is None:
        return lambda bloom: False
    key_bytes, kind = key
    kb = (
        key_bytes.encode("utf-8", "surrogatepass")
        if isinstance(key_bytes, str)
        else key_bytes
    )
    if len(kb) >= _MAX_VALUE_LEN:
        # a literal beyond the bloom key domain can never equal any
        # value of a bloom-carrying column (all its values are shorter)
        # — a same-kind bloom's presence alone proves absence
        return lambda bloom: bloom is not None and bloom[2] == kind
    h_lo, h_hi = probe_params(key_bytes)
    probes = [h_lo + i * h_hi for i in range(_MAX_K)]

    def excludes(bloom) -> bool:
        if bloom is None or bloom[2] != kind:
            return False
        m, k = bloom[0], bloom[1]
        for a in probes[:k]:
            idx = a % m
            # words are LSB-first int64s; >> on a negative word is
            # arithmetic, so bit 63 reads correctly
            if not (bloom[3 + (idx >> 6)] >> (idx & 63)) & 1:
                return True
        return False

    return excludes


def _num_key(x: float) -> tuple:
    """Spark's double order: NaN equals NaN and sorts above +inf."""
    return (1, 0.0) if x != x else (0, x)


# range test per op on (min, max, literal), all in one stats domain
_RANGE = {
    "==": lambda mn, mx, v: mn <= v <= mx,
    "in": lambda mn, mx, v: mn <= v <= mx,
    "<": lambda mn, mx, v: mn < v,
    "<=": lambda mn, mx, v: mn <= v,
    ">": lambda mn, mx, v: mx > v,
    ">=": lambda mn, mx, v: mx >= v,
}


def _leaf_survives(col, op, val):
    """A test ``stats -> bool`` for one leaf: False only when the
    chunk's stats row of ``col`` (STATS_FIELDS order: n_rows, n_nulls,
    min_s, max_s, min_d, max_d, bloom) proves no row matches.

    Mirrors parquet4s's canDrop contract (inverted). The range check
    runs in the literal's stats domain — min_d/max_d for numbers,
    min_s/max_s for strings (truncated to 64 chars at encode time:
    min_s is a lower bound, max_s a truncate-and-increment upper bound,
    so string checks are conservative by design). For an in-set the
    domain comes from its first element (mixed-kind lists are rejected
    against the column type by _check_filter_types). Any other literal
    kind, ``!=``, and NULL stats keep the chunk. Equality and in-sets
    also consult the bloom (_bloom_excludes); for equality it composes
    with the range check even when the range stats are NULL."""
    if op == "is_null":
        return lambda s: s[1] is None or s[1] > 0
    if op == "not_null":
        return lambda s: s[0] is None or s[1] is None or s[0] > s[1]
    if op not in _RANGE:
        return lambda s: True
    is_set = op == "in" and isinstance(val, (list, tuple, set, frozenset))
    vals = list(val) if is_set else [val]
    sample = vals[0] if is_set and vals else val
    if isinstance(sample, (int, float)) and not isinstance(sample, bool):
        lo, key = 4, _num_key

        def lit(v):
            ok = isinstance(v, (int, float)) and not isinstance(v, bool)
            return _num_key(float(v)) if ok else None
    elif isinstance(sample, str):
        lo, key = 2, (lambda x: x)

        def lit(v):
            return v if isinstance(v, str) else None
    else:
        return lambda s: True
    in_range = _RANGE[op]
    # (domain key or None, bloom test) per literal; None never matches a
    # row (SQL NULL), another kind can't be range-checked here: keep
    tests = [
        (lit(v), _bloom_excludes(v)) for v in vals if v is not None
    ]
    unknown = any(k is None for k, _ in tests)

    def survives(s) -> bool:
        mn, mx = s[lo], s[lo + 1]
        if op != "in":
            k, excl = tests[0]
            if mn is not None and mx is not None and not in_range(
                key(mn), key(mx), k
            ):
                return False
            return op != "==" or not excl(s[6])
        if mn is None or mx is None or unknown:
            return True
        kmn, kmx = key(mn), key(mx)
        return any(
            in_range(kmn, kmx, k) and not excl(s[6]) for k, excl in tests
        )

    return survives


def chunk_predicate(filters: list[tuple]):
    """``(columns, survives)``: ``survives`` maps one chunk's stats,
    ``{column: stats row}``, to False only when the stats PROVE that no
    row of the chunk matches every conjunct; ``columns`` names the
    columns whose stats it reads. Each conjunct needs one leaf whose
    column stats may match (an ``or`` conjunct's leaves, parquet4s
    boolean algebra, Filter.scala:79-89); a column without a stats row
    never prunes. The one rule set of scan, pruned_chunk_count and
    filtered_min_max, evaluated inside the decode worker
    (decoder.decode_worker)."""
    conjuncts = [
        [(col, _leaf_survives(col, op, val)) for col, op, val in _leaves(f)]
        for f in filters
    ]
    columns = frozenset(col for leaves in conjuncts for col, _ in leaves)

    def survives(stats: dict) -> bool:
        for leaves in conjuncts:
            if not any(
                col not in stats or ok(stats[col]) for col, ok in leaves
            ):
                return False
        return True

    return columns, survives


def _leaf_condition(f) -> "F.Column":
    col, op, val = (tuple(f) + (None,))[:3]
    c = F.col(col)
    if op == "==":
        return c == F.lit(val)
    if op == "!=":
        return c != F.lit(val)
    if op == "<":
        return c < F.lit(val)
    if op == "<=":
        return c <= F.lit(val)
    if op == ">":
        return c > F.lit(val)
    if op == ">=":
        return c >= F.lit(val)
    if op == "in":
        # a scalar literal means a one-element set — list('abc') would
        # silently explode a string into characters
        vals = list(val) if isinstance(val, (list, tuple, set, frozenset)) else [val]
        return c.isin(vals)
    if op == "is_null":
        return c.isNull()
    if op == "not_null":
        return c.isNotNull()
    raise ValueError(f"unsupported op {op}")


def _residual_condition(filters: list[tuple]) -> "F.Column":
    cond = F.lit(True)
    for f in filters:
        branch = F.lit(False)
        for leaf in _leaves(f):
            branch = branch | _leaf_condition(leaf)
        cond = cond & branch
    return cond


def scan(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    filters: list[tuple] | None = None,
) -> DataFrame:
    """Projected, filtered scan of an encoded dataset.

    ``filters``: list of (column, op, value) conjuncts, op in
    {==, !=, <, <=, >, >=, in, is_null, not_null}; any other op raises
    ValueError. Two-stage: chunk stats prune whole chunks (no decode),
    then the exact predicate re-applies on decoded rows — the same
    split parquet4s performs between partition filters and file filters
    (/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/PartitionFilter.scala:338-422).

    One plan, the read_decoded plan: the decode worker receives each
    chunk's stats with its payloads and decodes only chunks whose stats
    may match (chunk_predicate), then the residual predicate filters
    rows. On a local, file: or s3:// dataset that is the fused reader:
    one Spark job, no exchange, no manifest read; on JVM-only schemes
    and empty datasets, the chunk_id exchange plan with the same worker.
    """
    schema = read_schema(path)
    filters = list(filters or [])
    _check_filter_types(schema, filters)
    need_cols = set(columns or [f.name for f in schema.fields])
    for f in filters:
        need_cols.update(_filter_cols(f))

    decoded = _decode_plan(
        spark, path, schema, columns=sorted(need_cols),
        filters=filters or None,
    )
    if filters:
        decoded = decoded.where(_residual_condition(filters))
    if columns:
        decoded = decoded.select(*[c for c in [f.name for f in schema.fields] if c in set(columns)])
    return decoded


def filtered_min_max(
    spark: SparkSession,
    path: str,
    column: str,
    filters: list[tuple],
    seed_chunks: int = 4,
    audit: dict | None = None,
) -> tuple[Any, Any]:
    """Filtered min/max with early-termination chunk skipping — the
    distributed analog of parquet4s FilteredFileStats
    (/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/stats/FilteredFileStats.scala:129-143),
    which skips a row group whose min can't beat the current extreme.

    A sequential "current extreme" doesn't exist in a distributed scan,
    so the same skip is achieved adaptively in two phases:
    1. decode only the ``seed_chunks`` most extreme surviving chunks
       (smallest min_d for the min, largest max_d for the max) and
       compute concrete filtered extremes from their rows;
    2. decode the remaining survivors ONLY where the stats range
       could still beat those extremes (min_d < current min, or
       max_d > current max).
    On range-sorted data phase 2 is usually empty, so a filtered
    min/max touches a handful of chunk payloads instead of every
    survivor (the round-1 gap). Falls back to a full filtered scan when
    the seed chunks yield no matching rows or stats are absent."""
    filters = list(filters or [])
    schema = read_schema(path)  # reused below — one metadata read
    _check_filter_types(schema, filters)
    need = sorted({column} | {c for f in filters for c in _filter_cols(f)})
    # the target column's stats for surviving chunks, from scan's own
    # prune with decoding off (no payload is read) — stays a DataFrame
    # (12.5M chunks at 100 TB never land on the driver)
    stats = (
        _decode_plan(
            spark, path, schema, columns=need, filters=filters, decode=False
        )
        .where(F.col("alive") & (F.col("column") == column))
        .select("chunk_id", "min_d", "max_d")
    )
    n_nostat = stats.where(
        F.col("min_d").isNull() | F.col("max_d").isNull()
    ).limit(1).count()

    def _full() -> tuple[Any, Any]:
        full = scan(spark, path, columns=[column], filters=filters)
        row = full.agg(
            F.min(column).alias("mn"), F.max(column).alias("mx")
        ).collect()[0]
        return row["mn"], row["mx"]

    if n_nostat:
        return _full()

    # seeds: TakeOrdered of k ids per side — only 2k ids reach the driver
    lo_ids = [r["chunk_id"] for r in stats.orderBy("min_d").limit(seed_chunks).collect()]
    hi_ids = [
        r["chunk_id"]
        for r in stats.orderBy(F.col("max_d").desc()).limit(seed_chunks).collect()
    ]
    seed_ids = sorted(set(lo_ids) | set(hi_ids))
    if not seed_ids:
        return None, None

    def _extremes(id_filter) -> tuple[Any, Any]:
        chunks = read_chunks(spark, path).join(id_filter, "chunk_id", "left_semi")
        dec = decode_table(chunks, schema, columns=need)
        if filters:
            dec = dec.where(_residual_condition(filters))
        row = dec.agg(
            F.min(column).alias("mn"), F.max(column).alias("mx")
        ).collect()[0]
        return row["mn"], row["mx"]

    if audit is not None:
        audit["n_survivors"] = stats.count()
        audit["n_seed"] = len(seed_ids)
    # from Arrow: a LocalTableScan, not a Python RDD run through workers
    seed_df = spark.createDataFrame(
        pa.table({"chunk_id": pa.array(seed_ids, type=pa.string())})
    )
    mn, mx = _extremes(seed_df)
    if mn is None:
        # seed chunks held no matching rows — decode all survivors
        return _full()

    # phase 2: only chunks whose range could still beat the extremes
    rest = stats.where(
        ~F.col("chunk_id").isin(seed_ids)
        & ((F.col("min_d") < float(mn)) | (F.col("max_d") > float(mx)))
    ).select("chunk_id")
    n_rest = rest.count()
    if audit is not None:
        audit["n_rest"] = n_rest
    if n_rest:
        mn2, mx2 = _extremes(rest)
        if mn2 is not None and mn2 < mn:
            mn = mn2
        if mx2 is not None and mx2 > mx:
            mx = mx2
    return mn, mx


def pruned_chunk_count(
    spark: SparkSession, path: str, filters: list[tuple]
) -> tuple[int, int]:
    """(surviving_chunks, total_chunks) for a filter — test/observability
    hook proving chunk skipping actually skips. Validates filters
    against the schema exactly as scan() does (a cross-typed literal
    would count range drops against stats from the wrong domain), and
    counts with scan's own prune: the surviving chunks are the chunks a
    scan with ``filters`` decodes."""
    schema = read_schema(path)
    filters = list(filters or [])
    _check_filter_types(schema, filters)
    cols = sorted({c for f in filters for c in _filter_cols(f)})
    cols = cols or [schema.fields[0].name]
    row = (
        _decode_plan(
            spark, path, schema, columns=cols, filters=filters, decode=False
        )
        .where(F.col("column") == cols[0])
        .agg(
            F.count(F.when(F.col("alive"), 1)).alias("alive"),
            F.count(F.lit(1)).alias("total"),
        )
        .collect()[0]
    )
    return row["alive"], row["total"]


def _leaves(f) -> list[tuple]:
    """A conjunct's (column, op, value) leaves: an ``or`` conjunct's
    branches, else the conjunct itself. Raises on an op outside
    _OPS."""
    branches = f[1] if f and f[0] == "or" else [f]
    leaves = [(tuple(lf) + (None,))[:3] for lf in branches]
    for col, op, _ in leaves:
        if op not in _OPS:
            raise ValueError(
                f"unsupported filter op {op!r} on column {col!r}; "
                f"supported ops: {', '.join(sorted(_OPS))}"
            )
    return leaves


def _filter_cols(f) -> set[str]:
    return {col for col, _, _ in _leaves(f)}


def _check_filter_types(schema, filters: list[tuple]) -> None:
    """Reject ops outside _OPS (plain and ``or`` leaves alike) and
    filter literals whose Python kind mismatches the column type.
    parquet4s filters are statically typed (Filter.scala builds
    them from typed codecs — a mismatched literal cannot compile);
    here a mismatched literal would silently fall into the WRONG stats
    domain: e.g. an int column's min_s/max_s hold stringified numbers,
    whose lexicographic order is NOT an upper bound for string
    comparison ({9, 100} -> max_s '100' < '9'), so pruning against a
    string literal could drop chunks Spark's lenient cast semantics
    would match. Raising keeps the engine's never-drop guarantee."""
    from pyspark.sql import types as T

    kinds = {f.name: f.dataType for f in schema.fields}

    def leaf(col, op, val):
        if op in ("is_null", "not_null") or val is None:
            return
        dt = kinds.get(col)
        if dt is None:
            return  # unknown columns raise downstream with a clearer message
        vals = val if isinstance(val, (list, tuple, set, frozenset)) else [val]
        for v in vals:
            if isinstance(v, bool):
                ok = isinstance(dt, T.BooleanType)
            elif isinstance(v, (int, float)):
                ok = isinstance(dt, T.NumericType)
            elif isinstance(v, (str, bytes)):
                # temporal columns accept string literals: their
                # stringified stats use one uniform format, so the
                # lexicographic range check IS order-consistent (unlike
                # stringified numbers), and _leaf_condition's cast
                # matches Spark semantics
                ok = isinstance(
                    dt,
                    (
                        T.StringType,
                        T.BinaryType,
                        T.DateType,
                        T.TimestampType,
                        T.TimestampNTZType,
                    ),
                )
            else:
                ok = True  # dates/decimals etc.: no stats-domain hazard
            if not ok:
                raise ValueError(
                    f"filter literal {v!r} ({type(v).__name__}) does not "
                    f"match column {col!r} of type {dt.simpleString()}; "
                    "cast the literal explicitly (typed filters, as in "
                    "parquet4s)"
                )

    for f in filters:
        for lf in _leaves(f):
            leaf(*lf)


def scan_udp(
    spark: SparkSession,
    path: str,
    chunk_keep,
    row_condition,
    columns: list[str] | None = None,
    *,
    negated: bool = False,
    inverse_chunk_drop=None,
) -> DataFrame:
    """User-defined-predicate scan — the parquet4s UDP contract
    (/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/UDP.scala:17-51):
    ``chunk_keep`` is a Column over manifest stats rows (column, n_rows,
    n_nulls, min_s/max_s, min_d/max_d) deciding whether a chunk MIGHT
    match (the inverse of canDrop); ``row_condition`` is the exact
    per-row Column applied after decode (keep). Chunks failing
    chunk_keep for ANY stats row are skipped without payload I/O.

    ``negated=True`` evaluates NOT(row_condition) — the parquet4s
    ``not`` path (Filter.scala UDP handling). Pruning then uses
    ``inverse_chunk_drop`` (UDP.inverseCanDrop, UDP.scala:37-46): a
    manifest-stats Column that is True iff EVERY value in the chunk
    matches the ORIGINAL predicate, so no row survives negation and the
    chunk is dropped. ``chunk_keep`` is ignored under negation — it
    cannot be soundly inverted (a chunk that might match may also might
    not-match). With no ``inverse_chunk_drop``, nothing is pruned."""
    schema = read_schema(path)
    manifest = read_manifest(spark, path)
    if negated:
        row_condition = ~row_condition
        chunk_keep = (
            ~inverse_chunk_drop if inverse_chunk_drop is not None else F.lit(True)
        )
    # kept = chunks with NO stats row failing chunk_keep. Anti-join on
    # the dropped set, then semi-join chunks on the kept set — both
    # unhinted (either side is unbounded at 100 TB; AQE broadcasts
    # whichever turns out small, mirroring scan()).
    dropped = manifest.where(~chunk_keep).select("chunk_id").distinct()
    kept = (
        manifest.select("chunk_id")
        .distinct()
        .join(dropped, on="chunk_id", how="left_anti")
    )
    chunks = read_chunks(spark, path).join(kept, on="chunk_id", how="left_semi")
    decoded = decode_table(chunks, schema, columns=columns)
    return decoded.where(row_condition)
