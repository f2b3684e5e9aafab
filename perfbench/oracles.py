"""Compare a query's Spark result with its DuckDB oracle: column names,
per-column type kind, row count and the order-insensitive multiset of
normalised values (floats to 10 significant digits)."""

from __future__ import annotations

import math

# Queries without a SQL oracle (their xxhash64 hashes are Spark-native).
# winnow_fingerprints_fast must fingerprint the same documents as its md5
# twin; simhash_dedup_fast must return distinct-id pairs within the
# Hamming bound of 3.
TWINS = {"winnow_fingerprints_fast": ("winnow_fingerprints", ["doc_id"])}
SIMHASH_MAX_HAMMING = 3


def norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def spark_kind(dtype: str) -> str:
    d = dtype.lower()
    if d.startswith("decimal"):
        return "decimal"
    if d in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if d in ("float", "double"):
        return "float"
    if d.startswith("timestamp"):
        return "ts"
    if d.startswith("array"):
        return "list"
    return d


def arrow_kind(t) -> str:
    import pyarrow as pa

    for test, kind in (
        (pa.types.is_decimal, "decimal"),
        (pa.types.is_integer, "int"),
        (pa.types.is_floating, "float"),
        (pa.types.is_timestamp, "ts"),
        (pa.types.is_list, "list"),
        (pa.types.is_large_list, "list"),
        (pa.types.is_string, "string"),
        (pa.types.is_large_string, "string"),
        (pa.types.is_date, "date"),
        (pa.types.is_binary, "binary"),
        (pa.types.is_large_binary, "binary"),
        (pa.types.is_boolean, "boolean"),
    ):
        if test(t):
            return kind
    return str(t)


def _rows(names: "list[str]", rows, cols: "list[str]") -> list:
    idx = {c.lower(): i for i, c in enumerate(names)}
    return sorted(tuple(norm(r[idx[c.lower()]]) for c in cols) for r in rows)


def check_query(con, name: str, dtypes, rows, oracles: dict) -> "str | None":
    """None when the Spark result (``dtypes`` as DataFrame.dtypes,
    ``rows`` as collected) equals the oracle, else what differs."""
    s_names = [c for c, _ in dtypes]
    if name == "simhash_dedup_fast":
        if s_names != ["a", "b", "hamming"]:
            return f"columns {s_names}"
        bad = [r for r in rows if r[0] == r[1] or not 0 <= r[2] <= SIMHASH_MAX_HAMMING]
        return f"{len(bad)} pairs break the pair invariants" if bad else None
    if name in TWINS:
        twin, cols = TWINS[name]
        otab = con.execute(oracles[twin]).arrow()
        want = sorted(set(_rows(otab.column_names, _table_rows(otab), cols)))
        got = sorted(set(_rows(s_names, rows, cols)))
        return None if got == want else f"{cols} differ from the {twin} oracle"
    otab = con.execute(oracles[name]).arrow()
    o_names = otab.column_names
    problems = []
    s_kinds = {c.lower(): spark_kind(t) for c, t in dtypes}
    for c, t in zip(o_names, otab.schema.types):
        sk = s_kinds.get(c.lower())
        if sk is not None and sk != arrow_kind(t):
            problems.append(f"type kind of {c}: spark={sk} oracle={arrow_kind(t)}")
    if sorted(c.lower() for c in s_names) != sorted(c.lower() for c in o_names):
        problems.append(f"columns {sorted(s_names)} vs {sorted(o_names)}")
    if len(rows) != otab.num_rows:
        problems.append(f"rows {len(rows)} vs {otab.num_rows}")
    if not problems:
        cols = sorted(s_names, key=str.lower)
        if _rows(s_names, rows, cols) != _rows(o_names, _table_rows(otab), cols):
            problems.append("values differ")
    return "; ".join(problems) or None


def _table_rows(tab) -> list:
    cols = [tab.column(i).to_pylist() for i in range(tab.num_columns)]
    return list(zip(*cols))
