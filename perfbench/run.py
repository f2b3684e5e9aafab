"""colcrush benchmark: one workload per invocation.

    python3 perfbench/run.py --workload {ingest_read,queries} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Builds a local Spark session on every
core of the host, sets the workload up (several times, reporting the
median as ``setup_s``), warms up untimed, measures passes of the
workload's operations for ``--seconds`` (at least one whole pass),
checks every timed operation's output, and prints two JSON lines on
stdout: a detail record (provenance and the workload's own figures)
and, last, the result ``{"correct", "attempted", "failed", "metrics"}``
with the metrics BENCHMARK.json declares. ``--trace 1`` adds spans,
Spark's event log and the per-layer probes, and reports the per-layer
metrics instead of the end-to-end ones.

Work files go under ``.perfbench_work/<workload>-<pid>/`` at the
repository root and are removed at exit; a traced run leaves its spans
in ``.perfbench_work/spans-<workload>-<seed>.jsonl``."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest_read", "queries"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    _wait_children()


def _wait_children(timeout: float = 30.0) -> None:
    from perfbench import metrics

    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if metrics.tree_pids(os.getpid()) == [os.getpid()]:
            return
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)
    raise RuntimeError("child processes still running after the session stopped")


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run unwinds through the finally blocks below, which
    # stop Spark's processes and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "colcrush", "__init__.py")):
        print(f"perfbench: no colcrush package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import metrics
    from perfbench.trace import Tracer
    from perfbench.workloads import Run

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Spark's Python workers import colcrush and perfbench from the root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # Python's temp dir outlives the run: colcrush compiles its native
    # kernels into it once per host, as a deployment would
    os.environ["TMPDIR"] = os.path.join(ROOT, ".perfbench_work", "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tempfile.tempdir = None

    cores = len(os.sched_getaffinity(0))
    ram = metrics.ram_bytes()
    extra = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir})

    from colcrush.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}", cores=cores,
        driver_memory=metrics.driver_memory(ram), extra=extra,
    )
    session_s = time.perf_counter() - t0
    run = Run(spark, work, args.seed, args.seconds, Tracer(bool(args.trace)))
    return _measure(args, run, spark, session_s, event_dir, cores, ram)


def _measure(args, run, spark, session_s: float, event_dir: str, cores: int, ram: int) -> int:
    from perfbench import layers, metrics
    from perfbench.trace import parse_event_log
    from perfbench.workloads import WORKLOADS

    try:
        e2e, detail = WORKLOADS[args.workload](run)
        rss = metrics.peak_rss_split_mb()
        e2e["py_peak_rss_mb"] = rss["python"]
        e2e["ok_op_ratio"] = (run.attempted - run.failed) / run.attempted
        per_layer = {}
        if args.trace:
            per_layer["trace.pass_s"] = e2e["pass_s"]
            per_layer["mem.jvm_peak_rss_mb"] = rss["jvm"]
            per_layer["mem.peak_rss_mb"] = sum(rss.values())
            per_layer["trace.harness_s"] = layers.pass_self_s(run)
            per_layer.update(layers.engine_layer(run))
            per_layer.update(layers.codec_layer(run))
    finally:
        _stop(spark)

    if args.trace:
        logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
        phases = parse_event_log(logs[0])
        per_layer.update(layers.spark_layer(phases, run.op_kinds, detail["passes"]))
        detail["spark_phases"] = phases
        spans = os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl")
        run.tracer.dump(spans)
        detail["spans"] = {"count": len(run.tracer.spans), "file": os.path.relpath(spans, ROOT)}

    detail.update(
        workload=args.workload,
        session_start_s=session_s,
        phase_s=run.phase_s,
        setup_s=e2e["setup_s"],
        peak_rss_mb=rss,
        failed_op_ratio=run.failed / run.attempted,
        errors=run.errors,
        end_to_end=e2e,
        provenance=metrics.provenance(ROOT, args.seed, cores, ram),
    )
    # BENCHMARK.json names the metrics each mode reports, with their units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = per_layer if args.trace else e2e
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
