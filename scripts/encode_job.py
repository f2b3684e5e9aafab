"""spark-submit entry point: encode a source-code table into a
resumable colcrush dataset (the north_rule deployment shape).

    zip -r colcrush.zip colcrush
    spark-submit --master local[8] --py-files colcrush.zip \
        scripts/encode_job.py --input <parquet dir or SYNTH:rows> \
        --output /path/ds --group-cols repo,lang [--resume]

Prints one JSON line; ``chunk_ids_sha256`` digests the sorted distinct
chunk ids, so runs at two widths can be compared by one value, and
``rows`` is the dataset's row count (``count_rows``, from the chunk
rows' stats) and ``verified`` is ``verify_dataset``'s ``ok`` (every
commit record matches its chunk files, no duplicate keys). ``--group-cols ""`` runs the
ungrouped encode; ``--mode append`` adds the input to an existing
dataset as a new commit.

On a cluster, swap --master for yarn/k8s and size --num-executors; the
job itself is unchanged (the engine plans partitioning from data size,
not from the master URL).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import time

import pyspark.sql.functions as F
from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir, or SYNTH:<rows>")
    ap.add_argument("--output", required=True)
    ap.add_argument("--group-cols", default="repo,lang")
    ap.add_argument("--profile", default="balanced")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--mode", default="error")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("colcrush-encode").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # imported after session start so --py-files zips resolve on executors
    from colcrush.engine import (
        count_rows,
        read_manifest,
        resume_encode,
        verify_dataset,
        write_encoded,
    )
    from colcrush.fixtures import source_code_df

    if args.input.startswith("SYNTH:"):
        df = source_code_df(spark, int(args.input.split(":", 1)[1]))
    else:
        df = spark.read.parquet(args.input)
    group_cols = [c for c in args.group_cols.split(",") if c]

    t0 = time.time()
    if args.resume:
        missing = resume_encode(df, args.output, group_cols=group_cols, profile=args.profile)
        action = f"resumed ({missing} groups encoded)"
    else:
        write_encoded(df, args.output, mode=args.mode, group_cols=group_cols, profile=args.profile)
        action = "encoded"
    wall = time.time() - t0

    m = read_manifest(spark, args.output)
    stats = m.agg(
        F.sum("enc_bytes").alias("enc_bytes"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.countDistinct("chunk_id").alias("chunks"),
    ).collect()[0]
    ids = sorted(r[0] for r in m.select("chunk_id").distinct().collect())
    print(json.dumps({
        "action": action,
        "group_cols": group_cols,
        "wall_sec": round(wall, 2),
        "rows": count_rows(spark, args.output),
        "chunks": stats["chunks"],
        "encoded_bytes": int(stats["enc_bytes"]),
        "raw_bytes": int(stats["raw_bytes"]),
        "ratio": round(stats["enc_bytes"] / max(1, stats["raw_bytes"]), 4),
        "chunk_ids_sha256": hashlib.sha256("\n".join(ids).encode()).hexdigest(),
        "verified": verify_dataset(spark, args.output)["ok"],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
