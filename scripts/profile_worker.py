"""cProfile the REAL encode worker over the REAL prepared row stream.

The per-CPU encode target (SCALE.md) is gated on worker-side Python
cost, but in-Spark profiling mixes in JVM/scheduler noise and the
sandbox's bursty hypervisor. This harness splits the two honestly:

1. One Spark job materializes `encode_prepare`'s PREPARED stream — the
   post-shuffle, post-sort rows with __salt/__groupkey/__sortkey —
   to parquet, one file per partition (within-file order preserved, so
   each file replays exactly what one worker's mapInArrow iterator
   sees, in 8192-row batches like the session config).
2. Spark-free replay feeds those batches to the ACTUAL worker fn from
   `encode_prepare` (no reimplementation that could drift), pinned to
   one core, under cProfile; repeats take the min (bursty host).

Usage: taskset -c 0 python scripts/profile_worker.py [rows] [repeats]
Prints total worker CPU-s, MB/s/cpu over content bytes, and the top
cumulative profile lines.
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


def materialize_prepared(n_rows: int, out_dir: str) -> tuple[int, object]:
    from colcrush.engine.encoder import encode_prepare
    from colcrush.fixtures import source_code_df
    from colcrush.session import get_spark

    spark = get_spark("profile-worker-prep", cores=8)
    src = source_code_df(spark, n_rows, n_repos=50)
    content = src.agg(F.sum(F.octet_length("content"))).collect()[0][0]
    prepared, fn = encode_prepare(src, group_cols=["repo", "lang"])
    # uncompressed parquet: replay reads must not pay snappy CPU that
    # the real worker never pays (its input arrives as arrow IPC)
    prepared.write.option("compression", "none").parquet(out_dir)
    spark.stop()
    return int(content), fn


def replay(files: list[str], fn, batch_rows: int = 8192) -> int:
    """Feed each partition file's batches to the worker fn, consume all
    output; returns total output rows (sanity)."""
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
    tmp = tempfile.mkdtemp(prefix="colcrush_profworker_")
    try:
        out_dir = os.path.join(tmp, "prepared")
        content, fn = materialize_prepared(n_rows, out_dir)
        files = sorted(
            os.path.join(out_dir, f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        )
        print(f"content_bytes={content} files={len(files)}")

        # timing passes (min-of-N, process CPU time)
        best = float("inf")
        for _ in range(repeats):
            t0 = time.process_time()
            n_out = replay(files, fn)
            best = min(best, time.process_time() - t0)
        print(
            f"worker_cpu_sec={best:.3f} chunk_rows={n_out} "
            f"mbps_content_per_cpu={content / best / 1e6:.1f}"
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
