"""The workloads. Each one sets up its inputs (timed, several
times), warms up untimed, runs passes of a fixed operation list for the
measured window, and checks every timed operation's output afterwards.

The program is driven only through ``colcrush.engine``,
``colcrush.queries``, ``colcrush.codecs`` (see layers.py), the F1 table
generator in ``colcrush.fixtures`` and ``colcrush.session.get_spark``."""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback

from . import metrics
from .trace import Tracer

# workload input sizes
ROWS = 4000  # F1 source-code rows, about 13 MB raw
LOOKUPS_PER_PASS = 4  # half on `path`, half on `commit`
SETUP_REPEATS = 3
GROUP_COLS = ["repo", "lang"]
F1_COLUMNS = ["repo", "path", "commit", "lang", "content"]
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")

# the 20 headline queries by family; every pass runs them in this order
QUERY_FAMILIES = {
    "roundtrip": ["roundtrip_documents_sha", "roundtrip_lineitem_q1", "roundtrip_decimal"],
    "dedup": [
        "minhash_dedup", "simhash_dedup", "simhash_dedup_fast",
        "embedding_neardup", "winnow_fingerprints", "winnow_fingerprints_fast",
        "dedup_exact_groups", "contamination_check",
    ],
    "analytics": [
        "tpch_q1", "tpch_q3", "stats_grouped", "ann_topk", "token_count",
        "quality_score", "window_running", "deterministic_sample", "scan_bloom_point",
    ],
}
QUERY_LIST = [q for qs in QUERY_FAMILIES.values() for q in qs]
QUERY_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


class Run:
    """State of one benchmark run: the session, the work directory,
    the tracer and the tally of timed operations."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.op_kinds: set[str] = set()
        self.phase_s: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @contextlib.contextmanager
    def phase(self, name: str):
        """Tag the Spark jobs started inside with ``name``, record a span
        of the same name and add its wall time to ``phase_s``."""
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                yield
        finally:
            sc.setJobDescription(None)
            self.phase_s[name] = self.phase_s.get(name, 0.0) + time.perf_counter() - t0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def timed(self, name: str, fn):
        """Run one timed operation: returns (result, wall_s, cpu_s).
        An exception or a non-positive CPU reading counts the operation
        as failed and returns a None result."""
        self.attempted += 1
        self.op_kinds.add(name)
        cpu0 = metrics.tree_cpu_seconds()
        t0 = time.perf_counter()
        try:
            with self.phase(name):
                result = fn()
        except Exception:  # noqa: BLE001 - a failed operation is a measured outcome
            traceback.print_exc()
            self.fail(f"{name}: exception")
            return None, time.perf_counter() - t0, 0.0
        wall = time.perf_counter() - t0
        cpu = metrics.tree_cpu_seconds() - cpu0
        if cpu <= 0:
            self.fail(f"{name}: non-positive CPU sample {cpu:.3f}")
            return None, wall, cpu
        return result, wall, cpu

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.fail(f"check {what}")

    def measuring(self, t_start: float, passes: int) -> bool:
        """True while another pass belongs in the measured window."""
        return passes == 0 or time.perf_counter() - t_start < self.seconds


# ----------------------------------------------------------- shared helpers

def _f1_batches(offset: int):
    from colcrush.fixtures import source_code_batch

    def gen(it):
        for batch in it:
            yield source_code_batch(batch.column(0).to_numpy() + offset, n_repos=50)

    return gen


def write_source(run: Run, path: str, rows: int) -> None:
    """Materialise the F1 source-code table as plain parquet. The seed
    offsets the row ids, so each seed gives other rows."""
    from colcrush.fixtures import SOURCE_CODE_DDL

    offset = run.seed * 1_000_003
    cores = run.spark.sparkContext.defaultParallelism
    (
        run.spark.range(0, rows, numPartitions=cores)
        .mapInArrow(_f1_batches(offset), SOURCE_CODE_DDL)
        .write.mode("overwrite").parquet(path)
    )


def arrow_bytes(path: str) -> int:
    """Uncompressed Arrow size of a parquet file or directory: the raw
    bytes a stored-size ratio is taken against."""
    import pyarrow.parquet as pq

    return pq.read_table(path).nbytes


def disk_bytes(path: str) -> int:
    total = 0
    for dirpath, _, filenames in os.walk(path):
        for name in filenames:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def digest_exprs(columns: "list[str]"):
    """Order-insensitive per-column digest: row count, and per column
    the non-null count, byte length sum and crc32 sum."""
    import pyspark.sql.functions as F

    out = [F.count(F.lit(1)).alias("rows")]
    for c in columns:
        b = F.col(c).cast("binary")
        out += [
            F.count(c).alias(f"{c}_n"),
            F.sum(F.octet_length(b)).alias(f"{c}_len"),
            F.sum(F.crc32(b)).alias(f"{c}_crc"),
        ]
    return out


def digest(df, columns: "list[str]") -> dict:
    return df.agg(*digest_exprs(columns)).collect()[0].asDict()


def timed_setup(run: Run, build) -> "tuple[float, object]":
    """Run ``build(k)`` SETUP_REPEATS times; (median seconds, last result)."""
    times, result = [], None
    for k in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        with run.phase("setup"):
            result = build(k)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), result


def pass_metrics(passes: "list[tuple[float, float]]", op_walls: "list[float]") -> dict:
    return {
        "pass_s": statistics.median(w for w, _ in passes),
        "cpu_s": statistics.median(c for _, c in passes),
        "op_p50_ms": statistics.median(op_walls) * 1e3,
    }


# ------------------------------------------------------------- ingest_read

def ingest_read(run: Run) -> "tuple[dict, dict]":
    """Each pass encodes the F1 table into a new dataset, then reads that
    dataset back in full, projected to two columns, and by point lookups
    on ``path`` and ``commit`` with keys drawn from the seed."""
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from colcrush.engine import read_decoded, scan, write_encoded

    def build(k):
        src = run.path(f"src{k}")
        write_source(run, src, ROWS)
        return src

    setup_s, src = timed_setup(run, build)
    raw = arrow_bytes(src)
    df = run.spark.read.parquet(src)

    keys = pq.read_table(src, columns=["path", "commit"])
    paths = sorted(set(keys.column("path").to_pylist()))
    commits = sorted(set(keys.column("commit").to_pylist()))
    rng = random.Random(run.seed)

    def draw(n):
        half = n // 2
        return [("path", v) for v in rng.sample(paths, half)] + [
            ("commit", v) for v in rng.sample(commits, n - half)
        ]

    projected_cols = ["path", "lang"]

    def encode(ds):
        return lambda: write_encoded(df, ds, group_cols=GROUP_COLS)

    def full(ds):
        return lambda: digest(read_decoded(run.spark, ds), F1_COLUMNS)

    def projected(ds):
        return lambda: digest(read_decoded(run.spark, ds, columns=projected_cols), projected_cols)

    def lookup(ds, col, v):
        return lambda: [tuple(r) for r in scan(run.spark, ds, filters=[(col, "==", v)]).collect()]

    with run.phase("warmup"):
        warm = run.path("warmup")
        encode(warm)()
        full(warm)()
        lookup(warm, *draw(1)[0])()

    walls: list[float] = []
    by_kind: dict[str, list[tuple[float, float]]] = {
        "ingest.encode_write": [], "read.full": [], "read.projected": [], "read.lookup": [],
    }
    results: dict[str, list] = {"full": [], "projected": [], "lookup": []}
    passes: list[tuple[float, float]] = []
    written: list[str] = []

    def op(kind, fn):
        res, w, c = run.timed(kind, fn)
        by_kind[kind].append((w, c))
        walls.append(w)
        return res, w, c

    t_start = time.perf_counter()
    while run.measuring(t_start, len(passes)):
        ds = run.path(f"enc{len(passes)}")
        with run.tracer.span("pass"):
            _, pw, pc = op("ingest.encode_write", encode(ds))
            written.append(ds)
            res, w, c = op("read.full", full(ds))
            results["full"].append(res)
            pw, pc = pw + w, pc + c
            res, w, c = op("read.projected", projected(ds))
            results["projected"].append(res)
            pw, pc = pw + w, pc + c
            for col, v in draw(LOOKUPS_PER_PASS):
                res, w, c = op("read.lookup", lookup(ds, col, v))
                results["lookup"].append((col, v, res))
                pw, pc = pw + w, pc + c
        passes.append((pw, pc))

    # checks against the plain parquet source; a full read that matches
    # also proves the write before it
    with run.phase("checks"):
        want_full = digest(df, F1_COLUMNS)
        want_proj = digest(df, projected_cols)
    # (a None result is an operation already counted as failed)
    for got in results["full"]:
        run.check(got is None or got == want_full, "read.full digest")
    for got in results["projected"]:
        run.check(got is None or got == want_proj, "read.projected digest")
    cond = None
    for col, v, _ in results["lookup"]:
        c = F.col(col) == F.lit(v)
        cond = c if cond is None else (cond | c)
    with run.phase("checks"):
        expected = [tuple(r) for r in df.filter(cond).collect()]
    for col, v, got in results["lookup"]:
        i = df.columns.index(col)
        want = sorted(r for r in expected if r[i] == v)
        run.check(got is None or sorted(got) == want, f"read.lookup {col}")

    def med(kind, i=0):
        return statistics.median(x[i] for x in by_kind[kind])

    m = pass_metrics(passes, walls)
    m.update(
        setup_s=setup_s,
        stored_bytes_per_raw_byte=statistics.median(disk_bytes(p) / raw for p in written),
    )
    per_pass_read_cpu = [
        pc - ec for (_, pc), (_, ec) in zip(passes, by_kind["ingest.encode_write"])
    ]
    look = metrics.summary([w * 1e3 for w, _ in by_kind["read.lookup"]])
    detail = {
        "rows": ROWS,
        "raw_bytes": raw,
        "ingest_raw_mb_per_s": raw / 1e6 / med("ingest.encode_write"),
        "ingest_cpu_s": med("ingest.encode_write", 1),
        "stored_bytes_per_raw_byte": m["stored_bytes_per_raw_byte"],
        "full_read_raw_mb_per_s": raw / 1e6 / med("read.full"),
        "projected_read_s": med("read.projected"),
        "point_lookup_ms": look,
        "read_cpu_s": statistics.median(per_pass_read_cpu),
        "passes": len(passes),
    }
    return m, detail


# ----------------------------------------------------------------- queries

def _copy_query_data(dst: str) -> None:
    os.makedirs(dst)
    for name in sorted(os.listdir(QUERY_DATA)):
        shutil.copyfile(os.path.join(QUERY_DATA, name), os.path.join(dst, name))


def queries(run: Run) -> "tuple[dict, dict]":
    """One pass runs the 20 headline queries over the fixed sf0.001
    tables; the seed changes nothing but is recorded. Set-up copies the
    tables and derives the point-lookup keys; the warm-up encodes the
    point-lookup query's bloom datasets, which the pass then reuses."""
    from colcrush import queries as Q

    def build(k):
        sf = run.path(f"sf{k}")
        _copy_query_data(sf)
        Q.bloom_lookup_targets(run.spark, sf)
        return sf

    setup_s, sf = timed_setup(run, build)
    with run.phase("warmup"):
        cust, orders = Q.bloom_fixture_paths(run.spark, sf)
    stored = (disk_bytes(cust) + disk_bytes(orders)) / (
        arrow_bytes(os.path.join(sf, "customer.parquet"))
        + arrow_bytes(os.path.join(sf, "orders.parquet"))
    )

    family = {q: f for f, qs in QUERY_FAMILIES.items() for q in qs}
    passes, walls = [], []
    per_query: dict[str, list[float]] = {q: [] for q in QUERY_LIST}
    results: dict[str, list] = {q: [] for q in QUERY_LIST}
    t_start = time.perf_counter()
    while run.measuring(t_start, len(passes)):
        pw, pc = 0.0, 0.0
        with run.tracer.span("pass"):
            for q in QUERY_LIST:
                res, w, c = run.timed(f"queries.{family[q]}", _query(Q.QUERIES[q], run.spark, sf))
                results[q].append(res)
                per_query[q].append(w)
                walls.append(w)
                pw, pc = pw + w, pc + c
        passes.append((pw, pc))

    from .oracles import check_query

    with run.phase("checks"):
        con = _duckdb(sf)
        try:
            for q in QUERY_LIST:
                for res in results[q]:
                    if res is None:
                        continue  # already counted as failed
                    problem = check_query(con, q, res[0], res[1], Q.ORACLES)
                    run.check(problem is None, f"queries.{q}: {problem}")
        finally:
            con.close()

    m = pass_metrics(passes, walls)
    m.update(setup_s=setup_s, stored_bytes_per_raw_byte=stored)
    q_med = {q: statistics.median(ws) for q, ws in per_query.items()}
    detail = {
        "sf_dir": "perfbench/data/sf0.001",
        "query_roundtrip_s": sum(q_med[q] for q in QUERY_FAMILIES["roundtrip"]),
        "query_dedup_s": sum(q_med[q] for q in QUERY_FAMILIES["dedup"]),
        "query_analytics_s": sum(q_med[q] for q in QUERY_FAMILIES["analytics"]),
        "query_cpu_s": m["cpu_s"],
        "query_wall_s": q_med,
        "passes": len(passes),
    }
    return m, detail


def _query(fn, spark, sf: str):
    def body():
        df = fn(spark, sf)
        return df.dtypes, df.collect()

    return body


def _duckdb(sf: str):
    import duckdb

    con = duckdb.connect()
    for t in QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    return con


WORKLOADS = {"ingest_read": ingest_read, "queries": queries}
