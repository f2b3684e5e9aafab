"""Manifest-driven scans: chunk skipping + metadata-only statistics.

The engine's analog of parquet4s's stats layer and row-group skipping:
- metadata-only count/min/max from the manifest (Stats.scala:16-58,
  stats/FileStats.scala:30-52 in /root/reference)
- predicate-driven chunk pruning on manifest min/max before any payload
  is read or decoded (FilteredFileStats.scala:129-143, row-group
  pushdown in ParquetIterator.scala:144-150)

All pruning is plain DataFrame logic on the (tiny) manifest — Catalyst
pushes the manifest filters into the parquet scan of chunks/ via a
broadcast semi-join on chunk_id, so at 100 TB only surviving chunks'
payload bytes are ever read.
"""

from __future__ import annotations

from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from .dataset import read_chunks, read_manifest, read_schema
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
    its bytes were derived from and the expression below only trusts
    an exclusion when the stored bloom was built from the SAME kind."""
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


def _bloom_excludes(value) -> "F.Column":
    """True when the chunk's bloom PROVES ``value`` absent (bloom
    present, built from the literal's kind, and at least one of its k
    double-hash probe bits clear). NULL/absent/kind-mismatched blooms
    never exclude. Built as one SQL expression because
    shiftright-by-a-column has no DataFrame-API form; the only
    interpolated pieces are integers derived from the value's hash.

    See codecs/bloom.py for the layout ([m_bits, k, kind, words...])
    and the shared scalar/vectorized hash the params come from."""
    from ..codecs.bloom import _MAX_K, _MAX_VALUE_LEN, probe_params

    key = _bloom_key(value)
    if key is None:
        return F.lit(False)
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
        return F.expr(
            f"(bloom IS NOT NULL AND element_at(bloom, 3) = {kind}L)"
        )
    h_lo, h_hi = probe_params(key_bytes)
    probe_hits = []
    for i in range(_MAX_K):
        a = int(h_lo + i * h_hi)  # < 2^35, no bigint overflow
        idx = f"pmod({a}L, element_at(bloom, 1))"
        word = f"element_at(bloom, cast(shiftright({idx}, 6) + 4 as int))"
        bit_set = f"(shiftright({word}, cast(pmod({idx}, 64) as int)) & 1L) = 1L"
        # probe i is only required while i < k
        probe_hits.append(f"({i} >= element_at(bloom, 2) OR {bit_set})")
    maybe_present = " AND ".join(probe_hits)
    return F.expr(
        f"(bloom IS NOT NULL AND element_at(bloom, 3) = {kind}L "
        f"AND NOT ({maybe_present}))"
    )


def _chunk_survives(filt: tuple, with_bloom: bool = False) -> "F.Column":
    """Manifest predicate: True if a chunk MIGHT contain matching rows.

    Mirrors parquet4s's canDrop contract (inverted): only provably
    empty chunks are dropped. String stats are truncated to 64 chars at
    encode time, so string range checks are conservative by design.
    ``with_bloom`` additionally consults the per-chunk bloom filter for
    string equality / in-set predicates (only passed when the manifest
    schema carries the ``bloom`` column — datasets written before it
    existed scan exactly as before).

    Filters are conjuncts; a conjunct may be ("or", [leaf, ...]) whose
    leaves must reference the SAME column (parquet4s boolean algebra,
    Filter.scala:79-89) — the chunk survives if ANY branch might match.
    """
    if filt and filt[0] == "or":
        out = F.lit(False)
        for leaf in filt[1]:
            out = out | _chunk_survives(tuple(leaf), with_bloom)
        return out
    col, op, val = (filt + (None,))[:3]
    if op == "is_null":
        return F.col("n_nulls") > 0
    if op == "not_null":
        return F.col("n_rows") > F.col("n_nulls")
    # stats domain from a representative literal: for in-sets, the
    # first element (the set is domain-homogeneous — mixed-kind lists
    # are rejected against the column type by _check_filter_types, so
    # an int IN-list prunes on min_d/max_d + KIND_INT bloom exactly
    # like int equality; pre-r5 an int in-list silently fell through
    # to "can't prune")
    sample = (
        next(iter(val))
        if op == "in" and isinstance(val, (list, tuple, set, frozenset)) and len(val)
        else val
    )
    if isinstance(sample, (int, float)) and not isinstance(sample, bool):
        mn, mx = F.col("min_d"), F.col("max_d")
        lit = lambda v: F.lit(float(v))  # noqa: E731
    elif isinstance(sample, str):
        # string stats: min_s is a truncated lower bound, max_s a
        # truncate-and-increment upper bound — range checks stay sound
        mn, mx = F.col("min_s"), F.col("max_s")
        lit = F.lit
    else:
        return F.lit(True)
    have = mn.isNotNull() & mx.isNotNull()
    if op == "==":
        keep = (mn <= lit(val)) & (mx >= lit(val))
    elif op == "<":
        keep = mn < lit(val)
    elif op == "<=":
        keep = mn <= lit(val)
    elif op == ">":
        keep = mx > lit(val)
    elif op == ">=":
        keep = mx >= lit(val)
    elif op == "in":
        keep = F.lit(False)
        for v in val if isinstance(val, (list, tuple, set, frozenset)) else [val]:
            branch = (mn <= lit(v)) & (mx >= lit(v))
            if with_bloom:
                branch = branch & ~_bloom_excludes(v)
            keep = keep | branch
    else:  # != and anything else: can't prune via range
        return F.lit(True)
    survive = F.when(have, keep).otherwise(F.lit(True))
    if with_bloom and op == "==":
        # bloom exclusion composes with (never replaces) the range
        # check: absent/null/kind-mismatched blooms fall back to
        # range-only semantics (see _bloom_key)
        survive = survive & ~_bloom_excludes(val)
    return survive


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
        if f and f[0] == "or":
            branch = F.lit(False)
            for leaf in f[1]:
                branch = branch | _leaf_condition(leaf)
            cond = cond & branch
            continue
        cond = cond & _leaf_condition(f)
    return cond


def _alive_chunk_ids(
    manifest: DataFrame, filters: list[tuple], with_bloom: bool
) -> DataFrame:
    """chunk_ids that MIGHT match every conjunct, in ONE aggregation
    pass over the manifest: per chunk, each conjunct needs SOME stats
    row admitting a match (max-of-indicator ≡ EXISTS). The previous
    shape — one left-semi join per conjunct — shuffled the manifest k
    times for k conjuncts; at 100 TB the manifest is ~10^7 rows, so
    this is the difference between one exchange and k."""
    if not filters:
        return manifest.select("chunk_id").distinct()
    aggs = [
        F.max(
            F.when(_conjunct_manifest_expr(f, with_bloom), 1).otherwise(0)
        ).alias(f"_c{i}")
        for i, f in enumerate(filters)
    ]
    alive = manifest.groupBy("chunk_id").agg(*aggs)
    cond = F.lit(True)
    for i in range(len(filters)):
        cond = cond & (F.col(f"_c{i}") == 1)
    return alive.where(cond).select("chunk_id")


def scan(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    filters: list[tuple] | None = None,
    colocated: bool = False,
    max_pruned_files: int = 256,
) -> DataFrame:
    """Projected, filtered scan of an encoded dataset.

    ``filters``: list of (column, op, value) conjuncts, op in
    {==, !=, <, <=, >, >=, in, is_null, not_null}. Two-stage: manifest
    min/max prunes whole chunks (no payload I/O), then the exact
    predicate re-applies on decoded rows — the same split parquet4s
    performs between partition filters and file filters
    (/root/reference/core/src/main/scala/com/github/mjakubowski84/parquet4s/PartitionFilter.scala:338-422).

    ``colocated=True`` additionally prunes FILES for selective scans:
    surviving chunk ids join the chunk->file sidecar
    (dataset.ensure_file_map) and only the part files containing them
    are opened — fused reader+decoder, no chunk_id exchange. At the
    ~3M-file 100 TB shape a bloom point lookup then opens a handful of
    files instead of scanning every file's chunk rows. Correct by
    construction regardless of which extra chunks share those files:
    the residual predicate re-applies on decoded rows, the same
    guarantee bloom false positives already rely on. Falls back to the
    default plan whenever the sidecar is missing/stale (fingerprint
    mismatch), the surviving-file set exceeds ``max_pruned_files``
    (bounding the driver-side file list), or there are no filters.
    """
    from .dataset import (
        _committed_part_files,
        file_map_matches,
        fused_decode,
        read_file_map,
    )

    schema = read_schema(path)
    filters = list(filters or [])
    _check_filter_types(schema, filters)
    need_cols = set(columns or [f.name for f in schema.fields])
    for f in filters:
        need_cols.update(_filter_cols(f))

    alive_ids = None
    if filters:
        manifest = read_manifest(spark, path)
        # a chunk survives iff EVERY conjunct's per-column check passes
        # bloom-assisted pruning only when the manifest carries the
        # column (datasets written before it existed scan unchanged)
        wb = "bloom" in manifest.columns
        alive_ids = _alive_chunk_ids(manifest, filters, wb)

    decoded = None
    if colocated and alive_ids is not None:
        parts = _committed_part_files(path)
        if file_map_matches(path, [r for r, _, _ in parts]):
            surviving = (
                read_file_map(spark, path)
                .join(alive_ids, on="chunk_id", how="left_semi")
                .select("file")
                .distinct()
                .limit(max_pruned_files + 1)  # bounded driver collect
                .collect()
            )
            if len(surviving) <= max_pruned_files:
                rels = {r["file"] for r in surviving}
                files = [(f, s) for rel, f, s in parts if rel in rels]
                decoded = fused_decode(
                    spark, path, schema, columns=sorted(need_cols),
                    files=files,
                ) if files else decode_table(
                    read_chunks(spark, path).where(F.lit(False)),
                    schema, columns=sorted(need_cols),
                    assume_colocated=True,
                )
    if decoded is None:
        chunks = read_chunks(spark, path)
        if alive_ids is not None:
            # no broadcast hint: the surviving-chunk set is unbounded at
            # 100 TB (~10^7 ids); AQE converts to broadcast when it IS
            # small
            chunks = chunks.join(alive_ids, on="chunk_id", how="left_semi")
        decoded = decode_table(chunks, schema, columns=sorted(need_cols))
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
    2. decode the remaining survivors ONLY where the manifest range
       could still beat those extremes (min_d < current min, or
       max_d > current max).
    On range-sorted data phase 2 is usually empty, so a filtered
    min/max touches a handful of chunk payloads instead of every
    survivor (the round-1 gap). Falls back to a full filtered scan when
    the seed chunks yield no matching rows or stats are absent."""
    filters = list(filters or [])
    schema = read_schema(path)  # reused below — one metadata read
    _check_filter_types(schema, filters)
    manifest = read_manifest(spark, path)
    wb = "bloom" in manifest.columns
    alive = _alive_chunk_ids(manifest, filters, wb)
    # stats rows of the target column for surviving chunks — stays a
    # DataFrame (12.5M chunks at 100 TB never land on the driver)
    stats = (
        manifest.where(F.col("column") == column)
        .join(alive, on="chunk_id", how="left_semi")
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

    need = sorted({column} | {c for f in filters for c in _filter_cols(f)})

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
    hook proving chunk skipping actually skips. Validates literal types
    against the schema exactly as scan() does (a cross-typed literal
    would count range drops against stats from the wrong domain)."""
    _check_filter_types(read_schema(path), filters)
    manifest = read_manifest(spark, path)
    wb = "bloom" in manifest.columns
    total = manifest.select("chunk_id").distinct().count()
    return _alive_chunk_ids(manifest, filters, wb).count(), total


def _filter_cols(f) -> set[str]:
    if f and f[0] == "or":
        return {leaf[0] for leaf in f[1]}
    return {f[0]}


def _check_filter_types(schema, filters: list[tuple]) -> None:
    """Reject filter literals whose Python kind mismatches the column
    type. parquet4s filters are statically typed (Filter.scala builds
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
        if f and f[0] == "or":
            for lf in f[1]:
                leaf(*(tuple(lf) + (None,))[:3])
        else:
            leaf(*(tuple(f) + (None,))[:3])


def _conjunct_manifest_expr(f, with_bloom: bool = False) -> "F.Column":
    """Manifest-row predicate for one conjunct: the chunk has SOME stats
    row proving a possible match. OR-conjuncts survive if any branch's
    column stats admit a match."""
    if f and f[0] == "or":
        expr = F.lit(False)
        for leaf in f[1]:
            expr = expr | (
                (F.col("column") == leaf[0])
                & _chunk_survives(tuple(leaf), with_bloom)
            )
        return expr
    return (F.col("column") == f[0]) & _chunk_survives(tuple(f), with_bloom)


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
