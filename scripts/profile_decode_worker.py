"""cProfile the REAL decode worker over the REAL pruned chunk stream.

Decode-side twin of scripts/profile_worker.py, driving the
`decode_prepare` seam so the measured worker is the actual mapInArrow
function, not a reimplementation that could drift. SCALE.md's restated
per-CPU performance gates track encode via the encode replay; this
gives decode the same Spark-free, single-core, window-drift-resistant
regression number.

1. One Spark job encodes the bench fixture and materializes
   `decode_prepare`'s PRUNED stream — the post-repartition chunk rows
   (chunk_id, column, payload[, payload_ck]) — to uncompressed parquet,
   one file per partition (chunk co-location per file preserved, so
   each file replays exactly what one worker's iterator sees).
2. Spark-free replay feeds those batches to the ACTUAL worker fn,
   pinned to one core, under min-of-N process CPU time + cProfile.

Usage: taskset -c 0 python scripts/profile_decode_worker.py [rows] [repeats]
Prints total worker CPU-s, MB/s/cpu over raw content bytes, and the
top cumulative profile lines.
"""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq

import pyspark.sql.functions as F


def materialize_pruned(n_rows: int, out_dir: str) -> tuple[int, object]:
    from colcrush.engine import write_encoded
    from colcrush.engine.dataset import read_chunks, read_schema
    from colcrush.engine.decoder import decode_prepare
    from colcrush.fixtures import source_code_df
    from colcrush.session import get_spark

    profile = os.environ.get("COLCRUSH_PROFILE", "balanced")
    spark = get_spark("profile-decode-prep", cores=8)
    src = source_code_df(spark, n_rows, n_repos=50)
    raw = src.agg(
        F.sum(
            F.octet_length("content")
            + F.octet_length("repo")
            + F.octet_length("path")
            + F.octet_length("commit")
            + F.octet_length("lang")
        )
    ).collect()[0][0]
    ds = os.path.join(os.path.dirname(out_dir), "ds")
    # COLCRUSH_PROFILE=archive measures the zstd entropy layer's decode
    # cost over the same fixture (the other half of the Pareto)
    write_encoded(
        src, ds, mode="overwrite", group_cols=["repo", "lang"],
        profile=profile,
    )
    pruned, fn, _ = decode_prepare(read_chunks(spark, ds), read_schema(ds))
    # uncompressed parquet: replay reads must not pay snappy CPU the
    # real worker never pays (its input arrives as arrow IPC)
    pruned.write.option("compression", "none").parquet(out_dir)
    spark.stop()
    return int(raw), fn


def replay(files: list[str], fn, batch_rows: int = 8192) -> int:
    """Feed each partition file's batches to the worker fn, consume all
    output; returns total decoded rows (sanity)."""
    n_out = 0
    for f in files:
        pf = pq.ParquetFile(f)
        batches = list(pf.iter_batches(batch_size=batch_rows))
        for out in fn(iter(batches)):
            n_out += out.num_rows
    return n_out


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 120000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    tmp = tempfile.mkdtemp(prefix="colcrush_profdecode_")
    try:
        out_dir = os.path.join(tmp, "pruned")
        raw, fn = materialize_pruned(n_rows, out_dir)
        files = sorted(
            os.path.join(out_dir, f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        )
        print(f"raw_bytes={raw} files={len(files)}")

        best = float("inf")
        n_out = 0
        for _ in range(repeats):
            t0 = time.process_time()
            n_out = replay(files, fn)
            best = min(best, time.process_time() - t0)
        print(
            f"profile={os.environ.get('COLCRUSH_PROFILE', 'balanced')} "
            f"decode_worker_cpu_sec={best:.3f} rows_out={n_out} "
            f"mbps_raw_per_cpu={raw / best / 1e6:.1f}"
        )

        # profile pass (instrumented — absolute numbers inflate, use
        # the RELATIVE breakdown)
        prof = cProfile.Profile()
        prof.enable()
        replay(files, fn)
        prof.disable()
        s = io.StringIO()
        pstats.Stats(prof, stream=s).sort_stats("cumulative").print_stats(35)
        print(s.getvalue())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
