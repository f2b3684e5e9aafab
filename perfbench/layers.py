"""Per-layer measurements for the traced run.

- codecs: ``encode_array`` / ``decode_array`` timed Spark-free on one
  core over a local F1 sample, per column.
- engine: one call into each public engine function on a small F1
  table, each inside its own span and job description; a layer's
  figure is its span's self time.
- spark: the event-log stage metrics of the workload's timed passes.

Every traced run reports the same keys, whatever the workload."""

from __future__ import annotations

import os
import statistics
import time

from .trace import PHASE_FIELDS, self_times
from .workloads import F1_COLUMNS, GROUP_COLS, Run, write_source

CODEC_ROWS = 4000
CODEC_REPEATS = 5
ENGINE_ROWS = 2000

ENGINE_SPANS = {
    "engine.encoder.plan_salts_s": "engine.encoder.plan_salts",
    "engine.encoder.encode_s": "engine.encoder.encode",
    "engine.dataset.write_encoded_s": "engine.dataset.write_encoded",
    "engine.dataset.ensure_file_map_s": "engine.dataset.ensure_file_map",
    "engine.dataset.read_chunks_s": "engine.dataset.read_chunks",
    "engine.dataset.read_decoded_s": "engine.dataset.read_decoded",
    "engine.dataset.read_decoded_colocated_s": "engine.dataset.read_decoded_colocated",
    "engine.scan.pruned_chunk_count_s": "engine.scan.pruned_chunk_count",
    "engine.scan.lookup_decode_s": "engine.scan.lookup",
}


def codec_layer(run: Run) -> dict:
    """Encode/decode throughput and encoded size per F1 column."""
    import numpy as np

    from colcrush.codecs import decode_array, encode_array
    from colcrush.fixtures import source_code_batch

    batch = source_code_batch(np.arange(CODEC_ROWS) + run.seed * 1_000_003, n_repos=50)
    out = {}
    cpus = os.sched_getaffinity(0)
    os.sched_setaffinity(0, {min(cpus)})
    try:
        for col in F1_COLUMNS:
            arr = batch.column(col)
            raw = arr.nbytes
            enc_t, dec_t = [], []
            for _ in range(CODEC_REPEATS):
                t0 = time.perf_counter()
                with run.tracer.span(f"codecs.encode.{col}"):
                    blob, _meta = encode_array(arr)
                t1 = time.perf_counter()
                with run.tracer.span(f"codecs.decode.{col}"):
                    back = decode_array(blob)
                t2 = time.perf_counter()
                enc_t.append(t1 - t0)
                dec_t.append(t2 - t1)
            run.check(back.equals(arr), f"codecs round trip {col}")
            out[f"codecs.encode_mb_per_s.{col}"] = raw / 1e6 / statistics.median(enc_t)
            out[f"codecs.decode_mb_per_s.{col}"] = raw / 1e6 / statistics.median(dec_t)
            out[f"codecs.enc_bytes.{col}"] = len(blob)
    finally:
        os.sched_setaffinity(0, cpus)
    return out


def engine_layer(run: Run) -> dict:
    """One traced call into each engine function on a small F1 table."""
    from colcrush.engine import (
        encode_table,
        ensure_file_map,
        plan_salts,
        pruned_chunk_count,
        read_chunks,
        read_decoded,
        read_manifest,
        scan,
        write_encoded,
    )

    spark = run.spark
    src, ds = run.path("layers_src"), run.path("layers_ds")
    with run.phase("setup"):
        write_source(run, src, ENGINE_ROWS)
    df = spark.read.parquet(src)
    key = df.select("path").orderBy("path").first()[0]

    def noop(frame):
        frame.write.format("noop").mode("overwrite").save()

    with run.phase("engine.encoder.plan_salts"):
        plan, _total = plan_salts(df, GROUP_COLS, 16 << 20, with_total=True)
        plan.collect()
    plan.unpersist()
    with run.phase("engine.encoder.encode"):
        noop(encode_table(df, group_cols=GROUP_COLS))
    with run.phase("engine.dataset.write_encoded"):
        write_encoded(df, ds, group_cols=GROUP_COLS, file_map=False)
    with run.phase("engine.dataset.ensure_file_map"):
        ensure_file_map(spark, ds)
    with run.phase("engine.dataset.read_chunks"):
        noop(read_chunks(spark, ds))
    with run.phase("engine.dataset.read_decoded"):
        noop(read_decoded(spark, ds))
    with run.phase("engine.dataset.read_decoded_colocated"):
        noop(read_decoded(spark, ds, colocated=True))
    with run.phase("engine.scan.pruned_chunk_count"):
        surviving, total = pruned_chunk_count(spark, ds, [("path", "==", key)])
    with run.phase("engine.scan.lookup"):
        found = scan(spark, ds, filters=[("path", "==", key)]).collect()
    run.check(len(found) >= 1, "engine.scan.lookup finds its key")

    selfs = self_times(run.tracer.spans)
    out = {k: selfs[v] for k, v in ENGINE_SPANS.items()}
    out["engine.decoder.decode_s"] = (
        out["engine.dataset.read_decoded_s"] - out["engine.dataset.read_chunks_s"]
    )
    out["engine.encoder.chunks"] = read_manifest(spark, ds).select("chunk_id").distinct().count()
    out["engine.scan.chunks_surviving_ratio"] = surviving / total
    return out


def spark_layer(phases: "dict[str, dict[str, float]]", op_kinds: "set[str]", passes: int) -> dict:
    """Event-log stage metrics of the workload's timed operations, per pass."""
    acc = dict.fromkeys(PHASE_FIELDS, 0.0)
    for desc, fields in phases.items():
        if desc in op_kinds:
            for k, v in fields.items():
                acc[k] += v
    return {f"spark.pass.{k}": v / passes for k, v in acc.items()}


def pass_self_s(run: Run) -> float:
    """Median self time of the pass spans: harness time between ops."""
    selfs = [
        self_times([s] + [c for c in run.tracer.spans if c.parent == s.id])[s.name]
        for s in run.tracer.spans
        if s.name == "pass"
    ]
    return statistics.median(selfs)
